"""Incremental corpus selection: merge a batch into staged standing state.

The daily-batch production shape for a standing 100 TB corpus (VERDICT r9/r10
next-round #1): the full :func:`~ting_data_etl_spark.operators.curation.
corpus_final_selection` pipeline re-expressed as an O(batch-text) decision
UPDATE over persisted standing indexes, with the fixed-width tails a real
system pays (closure over the merged pair set, the global budget re-rank)
done over ledgers that never touch document text.

Batch convention: ``doc_id % INCR_BATCH_MOD == INCR_BATCH_REM`` plays the
arriving crawl (the same split ``dedup_incremental_minhash`` established);
everything else is the standing corpus whose per-document state is staged
once (write-once parquet artifacts under the shared ``_stage_dir`` scheme,
fingerprinted by source mtime/size + the constants tokens, purged by
``dedup.purge_stages``).

What each decision stage stages, and what the batch pays:

* **quality ledger** (gopher gate + budget rank key): per-document, so the
  batch is gated alone (``gopher_metrics_df`` / ``budget_ledger_df``) and
  unioned with the staged standing ledger — O(batch text).
* **contamination**: the standing state is the distinct word-8-gram hash
  index plus each standing doc's (n_grams, n_contaminated) vs the STANDING
  benchmark grams. A batch can add benchmark documents, so standing docs
  are re-scored against ONLY the new-to-the-benchmark grams (broadcast,
  disjoint from the staged hits — the counts ADD); batch docs score
  against the merged benchmark set. O(batch text + one broadcast probe of
  the standing gram index).
* **near-dup pairs**: the standing state is the UNCAPPED band index plus
  the per-bucket capped pair contributions. Only buckets the batch touches
  can change (occupancy, and therefore the frequency cap, is per-bucket):
  touched buckets are re-paired from merged members under the merged
  occupancy; untouched buckets keep their staged contributions verbatim.
  Staging contributions WITH (j, band) provenance is what makes the
  subtraction exact — a distinct-only pair set cannot tell whether a pair
  also arises from an untouched bucket. O(batch·bands·cap²) new pairs.
* **closure**: pointer-jump connected components over the merged pair set
  — the honest fixed-width iterative tail (labels can change for standing
  docs when a batch doc bridges two standing components). Staged under its
  own key so downstream reads are a 16-byte-row scan.
* **SemDeDup**: the coarse quantizer is the PINNED full-table model
  artifact (``ivf_centroids`` — refit on an index-rebuild cadence, exactly
  as a production IVF system pins its model; using the same artifact the
  from-scratch oracle refits is what makes the decision relation bit-equal
  to a full run). Standing state = assignments + the standing-vs-standing
  pruned set; the batch pays one Arrow assignment pass plus within-cluster
  cosines against merged members — for any ε-close pair the LARGER id is
  the pruned one, so new pairs involving a batch vector cover both "batch
  pruned by standing" and "standing pruned by a lower-id batch doc".
* **budget**: the merged survivor ledger (staged standing rows ∪ freshly
  scored batch rows) through ``budget_head_from_ledger`` — the banded
  two-phase prefix scan over ~24-byte rows, no text re-read, no global
  sort.

Oracle: the FULL ``corpus_final_selection`` statement on the post-merge
corpus — every incremental shortcut (additive contamination counts,
touched-bucket pair maintenance, staged closure, pinned coarse model,
ledger-union budget) must reproduce the from-scratch decisions exactly or
the hash mismatches.

Reference scope note: the reference engine (ting-data-etl,
``aggregate_by_store.py:1-762``) is a batch-only reporting pipeline with no
standing-state maintenance; this module extends the LLM-pipeline family the
build brief mandates.
"""

from __future__ import annotations

import hashlib
import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ting_data_etl_spark.registry import register
# the 60-bit XOR member term lives in sampling (the manifest home); ONE
# definition serves the rank-sharded manifest and this hash-sharded digest
# family (VERDICT r12 #3)
from ting_data_etl_spark.operators.sampling import _manifest_hash_col
from ting_data_etl_spark.sources.tables import load_table


def _gen_rem(gen: int = 0) -> int:
    """The arriving-batch remainder of standing-state GENERATION *gen*.

    A generation is one rebuild epoch of the standing state: generation 0
    is the fixture's original split (batch = ``INCR_BATCH_REM``);
    :func:`corpus_reindex` advances to generation g whose standing corpus
    absorbs every earlier day's arrivals and whose arriving batch plays
    the NEXT remainder class — the day-rollover a production pipeline
    performs when the drift guards call for a rebuild.

    Generations are bounded by ``INCR_BATCH_MOD`` (ADVICE r13): at
    g == INCR_BATCH_MOD the remainder would wrap and silently alias
    generation g-MOD's batch/standing split while the g-tagged stage
    namespace stays distinct — "standing absorbs every earlier day's
    arrivals" would break without any oracle noticing (decisions stay
    exact either way). Enforced loudly rather than documented away:
    a deployment cycling that many epochs re-bases its fixture split.
    """
    from ting_data_etl_spark.operators.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_REM,
    )

    if not 0 <= gen < INCR_BATCH_MOD:
        raise ValueError(
            f"generation {gen} outside [0, {INCR_BATCH_MOD}): the batch "
            "remainder would wrap and alias an earlier generation's split"
        )
    return (INCR_BATCH_REM + gen) % INCR_BATCH_MOD


def _batch_pred(gen: int = 0) -> F.Column:
    from ting_data_etl_spark.operators.dedup import INCR_BATCH_MOD

    return F.pmod(F.col("doc_id"), F.lit(INCR_BATCH_MOD)) == _gen_rem(gen)


def _batch_vec_pred(gen: int = 0) -> F.Column:
    from ting_data_etl_spark.operators.dedup import INCR_BATCH_MOD

    return F.pmod(F.col("vec_id"), F.lit(INCR_BATCH_MOD)) == _gen_rem(gen)


def _incr_token() -> str:
    """Constants token for the standing-state fingerprint.

    ``dedup._stage_version_token`` already folds the candidate-generation
    constants (minhash/bands/caps/SRP); this adds every constant the
    selection stages read, so a retune of any of them invalidates the
    staged standing state instead of serving decisions computed under the
    old rules.
    """
    from ting_data_etl_spark.functions import text as _text
    from ting_data_etl_spark.operators import curation as _cur
    from ting_data_etl_spark.operators import dedup as _dd
    from ting_data_etl_spark.operators import sampling as _samp
    from ting_data_etl_spark.operators import similarity as _sim

    parts = (
        _cur.BENCHMARK_MOD,
        _cur.CONTAM_NGRAM,
        _cur.CONTAM_FLAG_FRAC,
        _cur.GOPHER_MIN_WORDS,
        _cur.GOPHER_MAX_WORDS,
        _cur.GOPHER_MIN_MEAN_WORD_LEN,
        _cur.GOPHER_MAX_MEAN_WORD_LEN,
        _cur.GOPHER_MAX_SYMBOL_RATIO,
        _cur.GOPHER_MIN_ALPHA_FRAC,
        _dd.INCR_BATCH_MOD,
        _dd.INCR_BATCH_REM,
        _dd.INCR_DELETE_MOD,
        _dd.INCR_DELETE_REM,
        _dd.INCR_READD_MOD,
        _dd.INCR_READD_REM,
        _samp.BUDGET_PCT,
        _sim.SEMDEDUP_EPS,
        _sim.KMEANS_LISTS,
        _sim.KMEANS_ITERS,
        _sim.KMEANS_SAMPLE_MOD,
        # Content digest, not len(): an equal-length stopword swap must
        # rotate the fingerprint (the staged quality ledger reads the list).
        hashlib.md5(",".join(_text.STOPWORDS.get("en", ())).encode()).hexdigest()[:10],
    )
    return hashlib.md5("_".join(str(p) for p in parts).encode()).hexdigest()[:10]


def _gen_tag(gen: int) -> list[str]:
    """Stage-path generation tag: generation 0 keeps the legacy untagged
    names (warm stages survive the gen parameterization); generation g>0
    inserts a ``g{g}`` path token. The ``g<digits>`` token namespace is
    RESERVED for generations — stage NAMES must never match it (the
    sweep's generation parser reads it back)."""
    return [f"g{gen}"] if gen else []


def _incr_stage_path(
    sf_dir: str, name: str, tables: tuple[str, ...], gen: int = 0
) -> str:
    from ting_data_etl_spark.operators.dedup import (
        _source_fp,
        _stage_dir,
        _stage_version_token,
    )

    parts = ["incrsel", *_gen_tag(gen), name, _stage_version_token(),
             _incr_token()]
    parts += [_source_fp(sf_dir, t) for t in tables]
    return _stage_dir(sf_dir, parts)


def _stage(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build,
    tables: tuple[str, ...] = ("documents",),
    gen: int = 0,
) -> DataFrame:
    """Read the named standing artifact, building + publishing it if cold.

    Path recomputed per call (a stat per source table) so a testdata
    regeneration rotates the fingerprint — the same idempotent write-once
    contract as ``dedup.staged_components`` (atomic tmp-dir rename publish).
    """
    from ting_data_etl_spark.operators.dedup import _publish_stage

    out = _incr_stage_path(sf_dir, name, tables, gen)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        _publish_stage(build(), out)
    return spark.read.parquet(out)


# --- standing-state builders (each runs ONCE per dataset fingerprint) --------
def _standing_ledger(
    spark: SparkSession, sf_dir: str, gen: int = 0
) -> DataFrame:
    """(doc_id, passes_gopher, n_checks, n_toks, okey) for standing docs."""
    from ting_data_etl_spark.operators.curation import gopher_metrics_df
    from ting_data_etl_spark.operators.sampling import budget_ledger_df

    def build() -> DataFrame:
        st = load_table(spark, sf_dir, "documents").filter(~_batch_pred(gen))
        g = gopher_metrics_df(st).select("doc_id", "passes_gopher")
        return g.join(budget_ledger_df(st), "doc_id")

    return _stage(spark, sf_dir, "ledger", build, gen=gen)


def _standing_grams(
    spark: SparkSession, sf_dir: str, gen: int = 0
) -> DataFrame:
    """Distinct (doc_id, h) word-8-gram hashes over ALL standing docs.

    The decontamination posting index a production pipeline maintains —
    benchmark-side rows serve the merged-benchmark set, corpus-side rows
    serve the new-benchmark re-probe.
    """
    from ting_data_etl_spark.functions.text import portable_hash31
    from ting_data_etl_spark.operators.curation import CONTAM_NGRAM
    from ting_data_etl_spark.operators.dedup import word_shingles_df

    def build() -> DataFrame:
        st = load_table(spark, sf_dir, "documents").filter(~_batch_pred(gen))
        return (
            word_shingles_df(st, n=CONTAM_NGRAM)
            .select("doc_id", portable_hash31(F.col("s")).alias("h"))
            .distinct()
        )

    return _stage(spark, sf_dir, "grams", build, gen=gen)


def _standing_contam(
    spark: SparkSession, sf_dir: str, gen: int = 0
) -> DataFrame:
    """(doc_id, n_grams, n_contaminated) for standing corpus-side docs,
    scored against the STANDING benchmark gram set."""
    from ting_data_etl_spark.operators.curation import BENCHMARK_MOD

    def build() -> DataFrame:
        grams = _standing_grams(spark, sf_dir, gen)
        bench_pred = F.col("doc_id") % BENCHMARK_MOD == 0
        bench = (
            grams.filter(bench_pred)
            .select("h")
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        return (
            grams.filter(~bench_pred)
            .join(F.broadcast(bench), "h", "left")
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_grams"),
                F.count("hit").alias("n_contaminated"),
            )
        )

    return _stage(spark, sf_dir, "contam", build, gen=gen)


def _standing_bands(
    spark: SparkSession, sf_dir: str, gen: int = 0
) -> DataFrame:
    """UNCAPPED (doc_id, j, band) MinHash band rows for standing docs.

    Uncapped on purpose: the frequency cap is an occupancy property of the
    MERGED bucket, so it is applied at pair-build time, never baked into
    the index (a capped index could not re-admit a bucket whose occupancy
    the batch pushes over the line — the rows must exist to be counted).
    """
    from ting_data_etl_spark.operators.dedup import (
        lsh_bands,
        minhash_signatures_df,
    )

    def build() -> DataFrame:
        st = load_table(spark, sf_dir, "documents").filter(~_batch_pred(gen))
        sig = minhash_signatures_df(st)
        return sig.select(
            "doc_id", F.posexplode(lsh_bands(F.col("sig"))).alias("j", "band")
        )

    return _stage(spark, sf_dir, "bands", build, gen=gen)


#: FLOOR bucket count for the standing band-index TABLE the arrival gate
#: probes. The build derives the actual count from corpus size via
#: ``capacity.index_buckets`` (rows × ~16 B / 512 MB target, power of two
#: — ~4096 at 10B docs) through :func:`_index_buckets_for`, the same
#: wired-in retune SRP_BITS/SIMHASH_BITS/KMEANS_LISTS get (VERDICT r13
#: #3); every test corpus resolves to this registered floor
#: (pytest-pinned), and the derived count is folded into the table
#: fingerprint so a growth-driven retune rebuilds rather than serving a
#: stale layout. Latency note: the byte rule sizes buckets for storage
#: streaming; SELECTION_SCALE_r13 measured bucket count as the
#: per-trigger scan lever (39.9M → 12.8M rows at 1024 buckets on the
#: x1000 corpus), so a latency-sensitive deployment raises this floor —
#: the fingerprint carries whatever wins the max().
INDEX_BUCKETS = 32


def _table_rows(sf_dir: str, table: str) -> int:
    """Row count of a source table from parquet FOOTERS only (pyarrow
    metadata — no Spark job, no data read), memoized per (path, mtime,
    size) exactly like the staging fingerprints: a testdata regeneration
    re-counts."""
    import pyarrow.dataset as pds

    path = os.path.join(sf_dir, f"{table}.parquet")
    st = os.stat(path)
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    hit = _TABLE_ROWS_MEMO.get(key)
    if hit is None:
        hit = _TABLE_ROWS_MEMO[key] = pds.dataset(path).count_rows()
    return hit


_TABLE_ROWS_MEMO: dict[tuple, int] = {}


def _index_buckets_for(sf_dir: str) -> int:
    """The standing band index's bucket count, derived from corpus rows
    via the capacity rule (floor = the registered :data:`INDEX_BUCKETS`,
    which every test corpus resolves to). The caller folds the returned
    count into the bucketed table's fingerprint, so growth across the
    retune threshold rotates the artifact instead of serving yesterday's
    bucket layout."""
    from ting_data_etl_spark import capacity
    from ting_data_etl_spark.operators.dedup import MINHASH_BANDS

    return max(
        INDEX_BUCKETS,
        capacity.index_buckets(
            _table_rows(sf_dir, "documents"), bands_per_doc=MINHASH_BANDS
        ),
    )

#: Max band rows a micro-batch drop may carry for the arrival gate to
#: key-prune the standing-index SCAN (an In-filter the parquet reader can
#: row-group-skip on). Above it the drop touches ~every band and the
#: no-shuffle bucketed join alone is the right plan.
PROBE_PRUNE_KEYS = 1024

#: Arrival-gate micro-batches at or below this row count run their batch
#: body with adaptive query execution OFF (see the gate's comment): a
#: small drop's join strategy is fixed by construction and AQE's
#: query-stage fragmentation only adds per-trigger driver re-planning.
#: Size-keyed (like the In-prune path), env-tunable for deployments whose
#: "small" differs.
GATE_AQE_OFF_ROWS = int(os.environ.get("SPARK_GRAFT_GATE_AQE_OFF_ROWS", "200000"))

#: Parquet row-group size for the standing index — the unit the reader can
#: SKIP. Default 128 MB gives a fixture-scale bucket file exactly one row
#: group (nothing skippable); 4 MB pins the production row-group-to-file
#: ratio (O(100+) groups per multi-GB production bucket) at every scale,
#: so the small-drop In-pushdown prunes real I/O here too. Folded into the
#: stage fingerprint like every constant the stage bakes in.
INDEX_ROWGROUP_BYTES = 4 * 1024 * 1024


def _standing_capped_index(
    spark: SparkSession, sf_dir: str, gen: int = 0
) -> DataFrame:
    """CAPPED standing band index as a Spark BUCKETED table on (j, band).

    The arrival gate probes the standing index once per micro-batch
    trigger; as a plain staged file (r11) every trigger paid a full
    exchange + sort of the index inside the probe join (the round-11
    ``weak`` mark: ~6x stream/one-shot at 1M docs). Publishing it ONCE as
    a ``bucketBy(INDEX_BUCKETS, j, band).sortBy(j, band)`` table moves
    that shuffle to build time: every trigger's join reads the bucketed
    scan with NO standing-side Exchange and NO Sort — a small drop
    broadcast-hash-joins (zero standing shuffle), a large drop sort-merge-
    joins with only the batch side exchanged (pinned by
    ``tests/test_incremental.py::test_arrival_gate_probe_is_standing_
    shuffle_free``).

    Capping is baked in because the gate's semantics probe the STANDING
    occupancy (the registered oracle's ``hits`` CTE); the maintenance legs
    keep using the UNCAPPED ``_standing_bands`` for merged-occupancy
    re-caps — this table is a probe artifact, not the maintenance state.

    Physical layout: bucket-encoded parquet under the shared ``_stage_dir``
    scheme (fingerprint: constants tokens + source mtime/size + bucket
    count), published with the same tmp-dir + rename all-or-nothing ritual
    as every stage. Spark's bucket metadata lives in the CATALOG, not the
    files, and the default in-memory catalog dies with the session — so
    the files are written once via a throwaway EXTERNAL table (dropping an
    external table keeps its files) and each session re-registers a
    fingerprint-named external ``CLUSTERED BY`` table over the published
    path. Bucket ids ride in the part-file names, so the re-registered
    table scans bucketed in any later process.
    """
    import shutil

    from ting_data_etl_spark.operators.dedup import (
        _source_fp,
        _stage_dir,
        _stage_version_token,
        band_frequency_cap,
    )

    n_buckets = _index_buckets_for(sf_dir)
    out = _stage_dir(
        sf_dir,
        [
            "incr_bandsidx",
            *_gen_tag(gen),
            _stage_version_token(),
            _incr_token(),
            str(n_buckets),
            str(INDEX_ROWGROUP_BYTES),
            _source_fp(sf_dir, "documents"),
        ],
    )
    name = f"incr_bandsidx_{hashlib.md5(out.encode()).hexdigest()[:16]}"
    if spark.catalog.tableExists(name):
        # a purge_stages under a LIVE session deletes the files but not
        # the session catalog entry — serving the dangling table would
        # fail at execution; drop and fall through to rebuild instead
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            return spark.table(name)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        df = band_frequency_cap(_standing_bands(spark, sf_dir, gen))
        tmp = f"{out}.tmp.{os.getpid()}"
        tmp_name = f"{name}_tmp_{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        df.write.bucketBy(n_buckets, "j", "band").sortBy(
            "j", "band"
        ).option("path", tmp).option(
            "parquet.block.size", str(INDEX_ROWGROUP_BYTES)
        ).mode("overwrite").saveAsTable(tmp_name)
        spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")  # keeps the files
        try:
            os.rename(tmp, out)
        except OSError:
            if os.path.exists(os.path.join(out, "_SUCCESS")):
                # concurrent publisher won with a complete artifact
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                # stale partial from a crashed writer: sweep + retry, else
                # every later build wedges on ENOTEMPTY forever (the same
                # self-heal _publish_stage documents)
                shutil.rmtree(out, ignore_errors=True)
                try:
                    os.rename(tmp, out)
                except OSError:
                    shutil.rmtree(tmp, ignore_errors=True)
                    if not os.path.exists(os.path.join(out, "_SUCCESS")):
                        raise
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in
                    spark.read.parquet(out).schema.fields)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({ddl}) USING parquet "
        f"CLUSTERED BY (j, band) SORTED BY (j, band) "
        f"INTO {n_buckets} BUCKETS LOCATION '{out}'"
    )
    return spark.table(name)


def _standing_bucket_pairs(
    spark: SparkSession, sf_dir: str, gen: int = 0
) -> DataFrame:
    """Per-bucket capped pair contributions (j, band, doc_a, doc_b) over the
    standing corpus — WITH provenance, pre-distinct, so touched buckets can
    be subtracted exactly (see module docstring)."""
    from ting_data_etl_spark.operators.dedup import band_frequency_cap

    def build() -> DataFrame:
        capped = band_frequency_cap(_standing_bands(spark, sf_dir, gen))
        a = capped.alias("a")
        b = capped.alias("b")
        return a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.j").alias("j"),
            F.col("a.band").alias("band"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )

    return _stage(spark, sf_dir, "bpairs", build, gen=gen)


def _standing_sem(
    spark: SparkSession, sf_dir: str, gen: int = 0
) -> DataFrame:
    """(vec_id, q, norm, list_id) standing assignments under the PINNED
    full-table coarse model (``ivf_centroids`` — the artifact the oracle's
    from-scratch refit reproduces)."""
    from ting_data_etl_spark.operators.similarity import (
        _quantized,
        ivf_centroids,
        nearest_lists_udf,
    )

    def build() -> DataFrame:
        assign1 = nearest_lists_udf(ivf_centroids(spark, sf_dir), 1)
        return (
            _quantized(spark, sf_dir)
            .filter(~_batch_vec_pred(gen))
            .select(
                "vec_id",
                "q",
                "norm",
                F.element_at(assign1(F.col("q")), 1).alias("list_id"),
            )
        )

    return _stage(
        spark, sf_dir, "sem", build, tables=("documents", "embeddings"),
        gen=gen,
    )


def _standing_sem_pruned(
    spark: SparkSession, sf_dir: str, gen: int = 0
) -> DataFrame:
    """(vec_id, list_id, keeper_id): standing docs pruned by a LOWER-id
    STANDING cluster member, keeper = the smallest such member."""
    from ting_data_etl_spark.operators.similarity import (
        SEMDEDUP_EPS,
        cosine_udf,
    )

    def build() -> DataFrame:
        m = _standing_sem(spark, sf_dir, gen)
        a = m.select(
            F.col("vec_id").alias("a_id"),
            F.col("q").alias("qa"),
            F.col("norm").alias("na"),
            "list_id",
        )
        b = m.select(
            F.col("vec_id").alias("vec_id"),
            F.col("q").alias("qb"),
            F.col("norm").alias("nb"),
            F.col("list_id").alias("lb"),
        )
        return (
            a.join(
                b,
                (F.col("list_id") == F.col("lb"))
                & (F.col("a_id") < F.col("vec_id")),
            )
            .select(
                "vec_id",
                "list_id",
                "a_id",
                cosine_udf()(
                    F.col("qa"), F.col("qb"), F.col("na"), F.col("nb")
                ).alias("c"),
            )
            .filter(F.col("c") >= SEMDEDUP_EPS)
            .groupBy("vec_id", "list_id")
            .agg(F.min("a_id").alias("keeper_id"))
        )

    # "semkeep", not the r11-interim "sempruned": the artifact gained the
    # (list_id, keeper_id) columns and the fingerprint only sees data +
    # constants — a schema change must move to a fresh stage name or a warm
    # stage from the old schema would be served with missing columns
    return _stage(
        spark, sf_dir, "semkeep", build, tables=("documents", "embeddings"),
        gen=gen,
    )


# --- the decision update -----------------------------------------------------
def _batch_grams(
    spark: SparkSession, sf_dir: str, gen: int = 0
) -> DataFrame:
    """Distinct (doc_id, h) word-8-gram hashes of the arriving batch —
    checkpointed once (three consumers: batch benchmark grams, the merged
    benchmark set, the batch contamination probe)."""
    from ting_data_etl_spark.functions.text import portable_hash31
    from ting_data_etl_spark.operators.curation import CONTAM_NGRAM
    from ting_data_etl_spark.operators.dedup import word_shingles_df

    batch = load_table(spark, sf_dir, "documents").filter(_batch_pred(gen))
    return (
        word_shingles_df(batch, n=CONTAM_NGRAM)
        .select("doc_id", portable_hash31(F.col("s")).alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _merged_contamination(
    spark: SparkSession, sf_dir: str, grams_b: DataFrame, gen: int = 0
) -> DataFrame:
    """Post-merge contamination relation via the additive update.

    (doc_id, n_grams, n_contaminated, contamination_frac, flagged) for
    every corpus-side document of the merged corpus. Standing docs:
    staged counts (vs the STANDING benchmark grams) plus one broadcast
    probe of the staged gram index against only the NEW-to-the-benchmark
    grams — the two hit sets are disjoint by construction, so the counts
    add. Batch docs: scored fresh against the merged benchmark set.
    Value-identical to ``dedup_contamination_check`` on the merged table.
    """
    from ting_data_etl_spark.operators.curation import (
        BENCHMARK_MOD,
        CONTAM_FLAG_FRAC,
    )

    bench_pred = F.col("doc_id") % BENCHMARK_MOD == 0
    grams_st = _standing_grams(spark, sf_dir, gen)
    bench_st = grams_st.filter(bench_pred).select("h").distinct()
    bench_b = (
        grams_b.filter(bench_pred)
        .select("h")
        .distinct()
        .filter(F.col("h").isNotNull())
    )
    new_bench = bench_b.join(bench_st, "h", "left_anti")
    add = (
        grams_st.filter(~bench_pred)
        .join(F.broadcast(new_bench), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_new"))
    )
    n_cont = (
        F.col("n_contaminated") + F.coalesce(F.col("n_new"), F.lit(0))
    ).cast("long")
    frac_st = n_cont.cast("double") / F.col("n_grams")
    contam_standing = (
        _standing_contam(spark, sf_dir, gen)
        .join(add, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            n_cont.alias("n_contaminated"),
            frac_st.alias("contamination_frac"),
            (frac_st >= CONTAM_FLAG_FRAC).cast("int").alias("flagged"),
        )
    )
    merged_bench = (
        bench_st.unionByName(bench_b).distinct().withColumn("hit", F.lit(1))
    )
    frac_b = F.count("hit").cast("double") / F.count("*")
    contam_batch = (
        grams_b.filter(~bench_pred)
        .join(F.broadcast(merged_bench), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
            frac_b.alias("contamination_frac"),
            (frac_b >= CONTAM_FLAG_FRAC).cast("int").alias("flagged"),
        )
    )
    return contam_standing.unionByName(contam_batch)


def _sql_contamination_twin() -> str:
    from ting_data_etl_spark.operators.curation import _sql_contamination

    return _sql_contamination()


@register("incremental_contamination_update", oracle=_sql_contamination_twin)
def incremental_contamination_update(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The contamination maintenance leg as its own full-value driver row.

    Oracle = the from-scratch ``dedup_contamination_check`` statement on
    the merged corpus, so the additive-update argument (disjoint hit sets,
    per-doc counts add) is hash-checked stand-alone — when the capstone
    ever mismatches, this row localizes (or clears) the contamination leg.
    """
    return _merged_contamination(spark, sf_dir, _batch_grams(spark, sf_dir))


def _sql_pairs_twin() -> str:
    from ting_data_etl_spark.operators.dedup import _sql_minhash_pairs

    return _sql_minhash_pairs()


@register("incremental_pairs_maintained", oracle=_sql_pairs_twin)
def incremental_pairs_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The touched-bucket pair maintenance as its own full-value driver row.

    Oracle = the from-scratch MinHash-LSH pair statement over the merged
    corpus — the subtraction argument (untouched buckets keep staged
    contributions verbatim because per-bucket occupancy, and so the cap,
    cannot change without a batch row) is hash-checked stand-alone.
    """
    return _merged_pairs(spark, sf_dir)


def _merged_pairs(
    spark: SparkSession, sf_dir: str, gen: int = 0
) -> DataFrame:
    """Post-merge near-dup candidate pairs via touched-bucket maintenance.

    Exactly equal (pytest-pinned) to ``dedup_minhash_pairs`` over the full
    table — but the only TEXT the plan reads is the batch's (signature
    pass); standing docs contribute through the staged band index. Touched
    buckets (any bucket holding a batch row) are re-paired from merged
    members under merged occupancy; untouched buckets keep their staged
    contributions, which is exact because occupancy — and therefore the
    frequency cap — cannot change in a bucket the batch never enters.
    """
    from ting_data_etl_spark.operators.dedup import (
        band_frequency_cap,
        lsh_bands,
        minhash_signatures_df,
    )

    batch = load_table(spark, sf_dir, "documents").filter(_batch_pred(gen))
    sig_b = minhash_signatures_df(batch)
    bands_b = sig_b.select(
        "doc_id", F.posexplode(lsh_bands(F.col("sig"))).alias("j", "band")
    )
    touched = bands_b.select("j", "band").distinct()
    # in production the standing index is bucketed by (j, band): the inner
    # join below partition-prunes to touched buckets; the broadcast fits
    # because |touched| <= |batch| * n_bands
    members = (
        _standing_bands(spark, sf_dir, gen)
        .join(F.broadcast(touched), ["j", "band"])
        .unionByName(bands_b)
    )
    capped = band_frequency_cap(members)
    a = capped.alias("a")
    b = capped.alias("b")
    touched_pairs = a.join(
        b,
        (F.col("a.j") == F.col("b.j"))
        & (F.col("a.band") == F.col("b.band"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    untouched_pairs = (
        _standing_bucket_pairs(spark, sf_dir, gen)
        .join(F.broadcast(touched), ["j", "band"], "left_anti")
        .select("doc_a", "doc_b")
    )
    return untouched_pairs.unionByName(touched_pairs).distinct()


#: Standing-side occupancy shares cached per staged sem path: the standing
#: assignment is FIXED per fingerprint, so its k-row rollup runs once per
#: (process, artifact) instead of on every plan build of _merged_semdedup
#: (the round-12 review found the per-call rollup re-scanned the whole
#: standing relation each time a composing query was merely constructed).
_SEM_OCC_CACHE: dict[str, dict[int, float]] = {}


def _standing_sem_shares(
    spark: SparkSession, sf_dir: str, gen: int = 0
) -> dict[int, float]:
    from ting_data_etl_spark.operators.similarity import occupancy_shares

    key = _incr_stage_path(sf_dir, "sem", ("documents", "embeddings"), gen)
    if key not in _SEM_OCC_CACHE:
        _SEM_OCC_CACHE[key] = occupancy_shares(
            _standing_sem(spark, sf_dir, gen)
        )
    return _SEM_OCC_CACHE[key]


def _sem_drift_guard(
    standing_shares: dict[int, float], batch_sem: DataFrame
) -> float:
    """Warn when batch occupancy drifts from the pinned coarse model's fit.

    Mirror of ``similarity_incremental_ivf``'s ``INCR_REFIT_TV`` tripwire
    (VERDICT r11 #4): the SemDeDup leg pins the full-table coarse model,
    so many batches after the pin, arrivals from a shifted distribution
    would still be assigned to the old cells — correctness stays
    oracle-protected (the oracle uses the same pinned artifact), but prune
    QUALITY silently degrades as cells stop describing the data. The
    standing side arrives as CACHED shares (fixed per fingerprint); the
    batch side aggregates to at most k rows (k = KMEANS_LISTS) — a
    bounded-scalar collect, never a data collect. Returns the TV so scale
    probes can record it.
    """
    import warnings

    from ting_data_etl_spark.operators.similarity import (
        INCR_REFIT_TV,
        occupancy_shares,
        tv_distance,
    )

    tv = tv_distance(standing_shares, occupancy_shares(batch_sem))
    if tv > INCR_REFIT_TV:
        warnings.warn(
            f"incremental semdedup: batch/list occupancy drifted "
            f"TV={tv:.3f} > {INCR_REFIT_TV} from the pinned coarse model — "
            "the cells no longer describe arriving data; schedule an "
            "index rebuild (purge_stages + refit) to restore prune quality",
            stacklevel=2,
        )
    return tv


def _merged_semdedup(
    spark: SparkSession, sf_dir: str, gen: int = 0
) -> DataFrame:
    """Post-merge SemDeDup relation (vec_id, list_id, keeper_id) via the
    incremental probe.

    Batch vectors pay one Arrow assignment against the pinned coarse
    model, then within-cluster cosines against merged members; for any
    ε-close pair the LARGER id is the pruned one and the smaller a keeper
    CANDIDATE, so pairs involving a batch vector cover both "batch pruned
    by standing" and "standing pruned by a lower-id batch doc". The final
    keeper is the MIN over staged standing-vs-standing candidates and the
    new batch-involving ones — value-identical to ``dedup_semdedup_prune``
    on the merged corpus.
    """
    from ting_data_etl_spark.operators.similarity import (
        SEMDEDUP_EPS,
        _quantized,
        cosine_udf,
        ivf_centroids,
        nearest_lists_udf,
    )

    assign1 = nearest_lists_udf(ivf_centroids(spark, sf_dir), 1)
    qb = (
        _quantized(spark, sf_dir)
        .filter(_batch_vec_pred(gen))
        .select(
            "vec_id",
            "q",
            "norm",
            F.element_at(assign1(F.col("q")), 1).alias("list_id"),
        )
        .localCheckpoint(eager=True)  # one Arrow assignment, two consumers
    )
    standing = _standing_sem(spark, sf_dir, gen)
    _sem_drift_guard(_standing_sem_shares(spark, sf_dir, gen), qb)
    members = standing.withColumn("is_b", F.lit(False)).unionByName(
        qb.withColumn("is_b", F.lit(True))
    )
    a = qb.select(
        F.col("vec_id").alias("a_id"),
        F.col("q").alias("qa"),
        F.col("norm").alias("na"),
        "list_id",
    )
    b = members.select(
        F.col("vec_id").alias("b_id"),
        F.col("q").alias("qb"),
        F.col("norm").alias("nb"),
        F.col("list_id").alias("lb"),
        "is_b",
    )
    # each NEW ε-pair (>=1 batch member) once: batch-batch pairs only from
    # the higher-id side
    new_cand = (
        a.join(
            b,
            (F.col("list_id") == F.col("lb"))
            & (F.col("a_id") != F.col("b_id"))
            & (~F.col("is_b") | (F.col("a_id") > F.col("b_id"))),
        )
        .select(
            F.greatest("a_id", "b_id").alias("vec_id"),
            "list_id",
            F.least("a_id", "b_id").alias("keeper_id"),
            cosine_udf()(
                F.col("qa"), F.col("qb"), F.col("na"), F.col("nb")
            ).alias("c"),
        )
        .filter(F.col("c") >= SEMDEDUP_EPS)
        .select("vec_id", "list_id", "keeper_id")
    )
    return (
        _standing_sem_pruned(spark, sf_dir, gen)
        .unionByName(new_cand)
        .groupBy("vec_id", "list_id")
        .agg(F.min("keeper_id").alias("keeper_id"))
    )


def _sql_semdedup_twin() -> str:
    from ting_data_etl_spark.operators.similarity import _sql_semdedup

    return _sql_semdedup()


@register("incremental_semdedup_update", oracle=_sql_semdedup_twin)
def incremental_semdedup_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic maintenance leg as its own full-value driver row.

    Oracle = the from-scratch SemDeDup statement on the merged corpus
    (coarse refit included), so the larger-id-is-pruned probe argument and
    the min-over-staged-and-new keeper rule are hash-checked stand-alone —
    completing the per-leg localization the pair/contamination twins give
    the lexical stages.
    """
    return _merged_semdedup(spark, sf_dir)


def maintained_pairs(
    stage_bands: DataFrame,
    stage_bpairs: DataFrame,
    tombstones: DataFrame,
    new_rows: DataFrame,
) -> DataFrame:
    """Pair-set maintenance under band-index edits — the pure core.

    *stage_bands*: the standing UNCAPPED band index (doc_id, j, band);
    *stage_bpairs*: its per-bucket capped pair contributions (j, band,
    doc_a, doc_b); *tombstones*: (doc_id) whose rows leave the index;
    *new_rows*: (doc_id, j, band) entering it (re-edited docs' re-signed
    text, or an arriving batch). Affected buckets = every bucket holding a
    tombstoned row or receiving a new one; they are re-paired from their
    post-edit members under post-edit occupancy — INCLUDING the
    re-admission case: a bucket that sat over the frequency cap (zero
    staged pairs) and drops under it when members leave gets its pairs
    back, which only works because the staged index is uncapped.
    Unaffected buckets keep their staged contributions verbatim
    (occupancy there cannot have changed). Output: distinct (doc_a,
    doc_b) — value-identical to the full self-join over the post-edit
    index (pytest plants the re-admission case; the registered query's
    oracle checks the real corpus).
    """
    from ting_data_etl_spark.operators.dedup import band_frequency_cap

    alive = stage_bands.join(F.broadcast(tombstones), "doc_id", "left_anti")
    affected = (
        stage_bands.join(F.broadcast(tombstones), "doc_id")
        .select("j", "band")
        .unionByName(new_rows.select("j", "band"))
        .distinct()
    )
    members = alive.join(F.broadcast(affected), ["j", "band"]).unionByName(
        new_rows
    )
    capped = band_frequency_cap(members)
    a = capped.alias("a")
    b = capped.alias("b")
    repaired = a.join(
        b,
        (F.col("a.j") == F.col("b.j"))
        & (F.col("a.band") == F.col("b.band"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    kept = (
        stage_bpairs.join(F.broadcast(affected), ["j", "band"], "left_anti")
        .select("doc_a", "doc_b")
    )
    return kept.unionByName(repaired).distinct()


def _sql_pairs_after_deletes() -> str:
    """Post-edit standing pair set, from scratch: docs2 carries the edited
    text, the banded index keeps only standing+alive rows, then the capped
    self-join — the same prelude/filter construction as the r9 delete
    probe's oracle (``_sql_incr_minhash_delete``)."""
    from ting_data_etl_spark.operators.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_REM,
        INCR_DELETE_MOD,
        INCR_DELETE_REM,
        INCR_READD_MOD,
        INCR_READD_REM,
        _minhash_sig_sql,
        _sql_banding_ctes,
    )

    deleted = f"doc_id % {INCR_DELETE_MOD} = {INCR_DELETE_REM}"
    readded = f"doc_id % {INCR_READD_MOD} = {INCR_READD_REM}"
    standing = f"doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_REM}"
    alive = f"NOT (({deleted}) AND NOT ({readded}))"
    prelude = f"""docs2 AS (
  SELECT doc_id,
         CASE WHEN {readded}
              THEN text || ' edited ' || CAST(doc_id AS VARCHAR)
              ELSE text END AS text
  FROM documents
),
"""
    return f"""
{_minhash_sig_sql(doc_relation="docs2", prelude=prelude)},
{_sql_banding_ctes("capped", f" WHERE ({standing}) AND ({alive})")},
mh_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.j = b.j AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b FROM mh_pairs
"""


@register("incremental_pairs_with_deletes", oracle=_sql_pairs_after_deletes)
def incremental_pairs_with_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Standing pair-index maintenance under tombstones + re-edits.

    The maintenance twin of :func:`incremental_pairs_maintained`,
    completing the standing-index contract the band-probe family
    (``dedup_incremental_minhash_delete``) established — but at the PAIR
    level, where deletion has a subtlety probes don't see: removing rows
    can drop a bucket back UNDER the frequency cap and re-admit pairs the
    staged contribution never held. Same maintenance conventions as the
    probe: of the standing corpus, ``doc_id % INCR_DELETE_MOD ==
    INCR_DELETE_REM`` rows are deleted; half (``% INCR_READD_MOD``) are
    re-edited and re-signed through the same O(edits) text pass new
    arrivals use. Only the re-edited documents' text is read; everything
    else is fixed-width index maintenance via :func:`maintained_pairs`.
    """
    from ting_data_etl_spark.operators.dedup import (
        _incr_mh_deleted,
        _incr_mh_readded,
        lsh_bands,
        minhash_signatures_df,
    )

    d = load_table(spark, sf_dir, "documents")
    standing = ~_batch_pred()
    tombstones = d.filter(_incr_mh_deleted() & standing).select("doc_id")
    edited = d.filter(_incr_mh_readded() & standing).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" edited "), F.col("doc_id").cast("string")
        ).alias("text"),
    )
    new_rows = minhash_signatures_df(edited).select(
        "doc_id", F.posexplode(lsh_bands(F.col("sig"))).alias("j", "band")
    )
    return maintained_pairs(
        _standing_bands(spark, sf_dir),
        _standing_bucket_pairs(spark, sf_dir),
        tombstones,
        new_rows,
    )


def _merged_components(
    spark: SparkSession, sf_dir: str, gen: int = 0
) -> DataFrame:
    """(doc_id, component) closure over the maintained merged pair set.

    The one stage where a batch arrival can flip a STANDING document's
    verdict (a batch doc bridging two standing components re-labels the
    higher one) — so the closure runs over the full merged pair set, the
    honest O(pairs) fixed-width iterative tail. Staged like every labels
    table (write-once parquet; downstream consumers pay a 16-byte-row
    scan).
    """
    from ting_data_etl_spark.operators.dedup import staged_components

    d = load_table(spark, sf_dir, "documents")
    # Key folds _incr_token(): the merged pair set depends on INCR_BATCH_*
    # (and the node universe on the batch predicate), so a retune must
    # rotate this stage too — staged_components' own fingerprint sees only
    # dedup constants + source mtimes.
    return staged_components(
        spark,
        sf_dir,
        f"incr_sel_cc_{''.join(t + '_' for t in _gen_tag(gen))}{_incr_token()}",
        d.select("doc_id"),
        _merged_pairs(spark, sf_dir, gen),
    )


def _sql_incremental_selection() -> str:
    """The incremental path must reproduce the from-scratch selection on
    the post-merge corpus EXACTLY — so its oracle IS the full pipeline's
    statement (``curation._sql_final_selection``), and any drift in the
    incremental maintenance (pair subtraction, contamination additivity,
    staged closure, pinned model, ledger union) hash-mismatches here."""
    from ting_data_etl_spark.operators.curation import _sql_final_selection

    return _sql_final_selection()


@register("corpus_incremental_selection", oracle=_sql_incremental_selection)
def corpus_incremental_selection(
    spark: SparkSession, sf_dir: str, gen: int = 0
) -> DataFrame:
    """Merge the arriving batch into the staged standing state and emit the
    post-merge decision for EVERY document — the daily-batch form of
    ``corpus_final_selection`` (see the module docstring for the per-stage
    cost contract; the only document text this plan reads is the batch's).

    *gen* selects the standing-state GENERATION (see :func:`_gen_rem`):
    the merged corpus is the full table in every generation, so the
    from-scratch oracle is generation-invariant — which is exactly the
    re-convergence property :func:`corpus_reindex` registers.

    Delegates to :func:`incremental_selection_df` — the session-memoized
    decision relation the manifest update and the COW shard sink also
    consume (OPTIMIZATION r15).
    """
    return incremental_selection_df(spark, sf_dir, gen)


def incremental_selection_df(
    spark: SparkSession, sf_dir: str, gen: int = 0
) -> DataFrame:
    """SESSION-memoized post-merge decision relation.

    OPTIMIZATION r15 (guide §2.4 — remove repeated work outright): three
    registered queries executed this whole relation independently inside
    one session — the capstone itself, ``incremental_manifest_update``
    (via ``_selection_delta``) and ``incremental_shard_sink_delta`` (via
    ``_cow_delta_parts``) — each paying the merged-components read, the
    contamination probe, the eager ``st`` checkpoint and the budget
    chain's quantile/offset collects. Exactly the re-derivation class the
    r13→r14 ``final_selection_df`` memo removed for the from-scratch
    family; same keying discipline (constants tokens + source
    fingerprints + generation), same object-identity guarantee, measured
    in OPTIMIZATION_r15.md.
    """
    from ting_data_etl_spark.operators.dedup import (
        _source_fp,
        _stage_version_token,
    )
    from ting_data_etl_spark.relcache import session_relation

    return session_relation(
        spark,
        (
            "incremental_selection",
            os.path.abspath(sf_dir),
            gen,
            _stage_version_token(),
            _incr_token(),
            _source_fp(sf_dir, "documents"),
            _source_fp(sf_dir, "embeddings"),
        ),
        lambda: _incremental_selection_build(spark, sf_dir, gen),
    )


def _incremental_selection_build(
    spark: SparkSession, sf_dir: str, gen: int = 0
) -> DataFrame:
    """The decision-relation composition itself (see
    :func:`corpus_incremental_selection` for semantics)."""
    from ting_data_etl_spark.operators.curation import (
        BENCHMARK_MOD,
        gopher_metrics_df,
    )
    from ting_data_etl_spark.operators.sampling import (
        budget_head_from_ledger,
        budget_ledger_df,
    )

    d = load_table(spark, sf_dir, "documents")
    batch = d.filter(_batch_pred(gen))
    standing_ledger = _standing_ledger(spark, sf_dir, gen)

    # --- per-document stages: gate/score ONLY the batch ---------------------
    gopher_all = standing_ledger.select("doc_id", "passes_gopher").unionByName(
        gopher_metrics_df(batch).select("doc_id", "passes_gopher")
    )
    ledger_all = standing_ledger.select(
        "doc_id", "n_checks", "n_toks", "okey"
    ).unionByName(budget_ledger_df(batch))

    # --- contamination: additive update against the new benchmark grams -----
    bench_pred = F.col("doc_id") % BENCHMARK_MOD == 0
    contam_all = _merged_contamination(
        spark, sf_dir, _batch_grams(spark, sf_dir, gen), gen
    ).select("doc_id", "flagged")

    # --- document verdicts over the merged corpus ---------------------------
    labels = _merged_components(spark, sf_dir, gen)
    status = (
        F.when(bench_pred, F.lit("benchmark"))
        .when(F.col("passes_gopher") == 0, F.lit("low_quality"))
        .when(
            F.coalesce(F.col("flagged"), F.lit(0)) == 1, F.lit("contaminated")
        )
        .when(F.col("component") != F.col("doc_id"), F.lit("duplicate"))
        .otherwise(F.lit("kept"))
    )
    st = (
        d.select("doc_id")
        .join(gopher_all, "doc_id")
        .join(contam_all, "doc_id", "left")
        .join(labels, "doc_id")
        .select("doc_id", status.alias("status"))
    )

    # --- SemDeDup: the registered maintenance leg's pruned id set -----------
    pruned = (
        _merged_semdedup(spark, sf_dir, gen)
        .select(F.col("vec_id").alias("doc_id"))
        .withColumn("sem_pruned", F.lit(True))
    )

    # --- budget over the merged survivor ledger -----------------------------
    # one materialization: st feeds the survivor filter (whose budget chain
    # executes quantile + offsets + final passes) AND the decision join —
    # same shape as corpus_final_selection (one-shot lineage, not a loop)
    st = st.join(pruned, "doc_id", "left").localCheckpoint(eager=True)
    kept = F.col("status") == "kept"
    surv = st.filter(kept & F.col("sem_pruned").isNull()).select("doc_id")
    bud = (
        budget_head_from_ledger(ledger_all.join(surv, "doc_id"))
        .select("doc_id")
        .withColumn("in_budget", F.lit(True))
    )
    return st.join(bud, "doc_id", "left").select(
        "doc_id",
        F.when(~kept, F.col("status"))
        .when(F.col("sem_pruned").isNotNull(), F.lit("semantic_duplicate"))
        .when(F.col("in_budget").isNull(), F.lit("over_budget"))
        .otherwise(F.lit("selected"))
        .alias("decision"),
    )


# --- standing-state REBUILD: the lifecycle's last verb -----------------------
#: Stage-dir families that carry a generation tag (see :func:`_gen_tag`) —
#: the namespace :func:`_sweep_generations` owns. The coarse-model json
#: artifacts are NOT listed: the pinned model is the full-table fit shared
#: by every generation (the oracle refits the same artifact), so sweeping
#: it would only force a bit-identical refit.
_GEN_FAMILY_PREFIXES = ("incrsel", "incr_sel_cc", "incrman_cc",
                        "incr_bandsidx")

#: Generations retained by :func:`corpus_reindex`: the current one and its
#: predecessor (the lakehouse retention rule — the previous generation
#: stays readable for in-flight consumers and rollback until the NEXT
#: rebuild retires it).
REINDEX_KEEP_GENERATIONS = 2

#: The generation the registered rebuild advances to. The fixture models
#: ONE rebuild epoch (generation 0 → 1); the verb itself is generation-
#: generic, and the lifecycle pytest drives it through a second epoch to
#: prove the retention sweep actually retires generation 0.
REINDEX_GEN = 1


def _catalog_referenced_dirs(root: str, keep: tuple[int, ...]) -> set[str]:
    """Stage-dir NAMES referenced by any RETAINED generation's snapshot
    catalog — the reference-count read of the sweep. Catalogs are tiny
    (snapshots × shards rows) and read via pyarrow (no session needed;
    pyarrow datasets skip the ``_SUCCESS`` marker by prefix).

    FAILS CLOSED (ADVICE r13): a read error on a retained generation's
    catalog raises instead of treating the catalog as "nothing to
    protect" — a deletion path must never let its protection set silently
    shrink. :func:`_sweep_generations` turns the raise into an aborted
    sweep (nothing deleted)."""
    import re

    refs: set[str] = set()
    for d in os.listdir(root):
        if not d.startswith("incrsel_"):
            continue
        m = re.match(r"g(\d+)_", d[len("incrsel_") :])
        if (int(m.group(1)) if m else 0) not in keep:
            continue
        if "snapcat" not in d and "snapstore" not in d:
            continue  # catalog dirs only: incrsel[_gN]_snapcat_<shards>_...
        if ".tmp." in d:
            # a writer's staging dir (<out>.tmp.<pid>) is never a live
            # publish target, but it CAN carry _SUCCESS (Spark writes one
            # inside the parquet dir; _snapshot_store marks tmp before the
            # rename) — a crashed writer's orphan must not masquerade as a
            # published catalog (review r14)
            continue
        path = os.path.join(root, d)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            continue  # unpublished partial: not a live catalog
        try:
            import pyarrow.parquet as pq

            if "snapstore" in d:
                # the retire store keeps its catalog under catalog/ next
                # to the dayN data dirs it references
                path = os.path.join(path, "catalog")
            t = pq.read_table(path, columns=["file_ref"])
        except Exception as e:
            raise RuntimeError(
                f"unreadable snapshot catalog {d!r} in a RETAINED "
                f"generation — aborting the sweep (fail closed): {e}"
            ) from e
        for ref in t.column("file_ref").to_pylist():
            rel = os.path.relpath(str(ref), root)
            if not rel.startswith(".."):
                refs.add(rel.split(os.sep, 1)[0])
    return refs


def _sweep_generations(sf_dir: str, keep: tuple[int, ...]) -> list[str]:
    """Retire standing-state generations not in *keep* — the GC half of
    :func:`corpus_reindex`.

    Walks the shared stage root and removes every generation-family
    artifact (stage parquet dirs, closure labels, the bucketed band-index
    files) whose parsed generation is not retained — EXCEPT dirs a
    RETAINED generation's snapshot catalog still references
    (:func:`_catalog_referenced_dirs`): the sweep consults the same
    reference-count rule :func:`snapshot_gc_candidates` states, so a
    live catalog's file_refs can never dangle (today's catalogs only
    reference their own generation, making this a cheap invariant — but
    the deleting code path enforces it rather than assuming it).
    Untagged dirs are generation 0 (the legacy naming — see
    :func:`_gen_tag`). Returns the swept dir names so callers (and the
    lifecycle pytest) can assert what was retired. Dangling
    session-catalog entries for a swept bucketed index are healed by
    ``_standing_capped_index``'s existing missing-files check.

    Fail-closed rule (ADVICE r13): if any retained generation's catalog
    cannot be read, the sweep ABORTS — nothing is deleted — rather than
    deleting with a silently-shrunken protection set; the rebuild that
    requested the sweep still succeeds (retiring dead generations is
    deferred to the next rebuild, losing only disk, never a live ref).
    """
    import re
    import shutil

    from ting_data_etl_spark.operators.dedup import _stage_dir

    root = os.path.dirname(_stage_dir(sf_dir, ["x"]))
    swept: list[str] = []
    if not os.path.isdir(root):
        return swept
    try:
        protected = _catalog_referenced_dirs(root, keep)
    except RuntimeError as e:
        # fail closed: unreadable live catalog → sweep nothing. Loudly
        # (ADVICE r14): an empty return is indistinguishable from
        # "nothing to sweep", so the deferred-GC condition could persist
        # unnoticed across rebuilds while dead generations pile up.
        warnings.warn(
            f"generation sweep DEFERRED (fail closed), nothing deleted: {e}",
            RuntimeWarning,
            stacklevel=2,
        )
        return swept
    for d in sorted(os.listdir(root)):
        fam = next(
            (p for p in _GEN_FAMILY_PREFIXES if d.startswith(p + "_")), None
        )
        if fam is None:
            continue
        m = re.match(r"g(\d+)_", d[len(fam) + 1 :])
        gen = int(m.group(1)) if m else 0
        if gen in keep or d in protected:
            continue
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        swept.append(d)
    return swept


def _sql_reindex() -> str:
    """Full from-scratch selection on the merged corpus — generation-
    invariant (every generation's standing ∪ batch is the full table), so
    the SAME statement that checks generation 0 checks the post-rebuild
    decisions: re-convergence is the oracle, not a weaker rows-only probe.
    """
    from ting_data_etl_spark.operators.curation import _sql_final_selection

    return _sql_final_selection()


@register("corpus_reindex", oracle=_sql_reindex)
def corpus_reindex(
    spark: SparkSession, sf_dir: str, gen: int = REINDEX_GEN
) -> DataFrame:
    """REBUILD the standing state under a new generation and prove the next
    batch re-converges — the remediation verb both drift guards name
    (``_sem_drift_guard``: "schedule an index rebuild";
    ``similarity_incremental_ivf``: "rebuild the index") made first-class
    (VERDICT r12 #1: build → maintain → guard → **rebuild**).

    The day-rollover a production pipeline runs on rebuild cadence:
    yesterday's arrivals are folded into the standing corpus (generation
    *gen*'s standing split — :func:`_gen_rem`), and EVERY standing
    artifact is re-derived from the current corpus under the new
    generation's stage namespace: quality ledger, contamination gram
    index + counts, MinHash band rows, the bucketed probe index, capped
    bucket-pair contributions, SemDeDup assignments + pruned set under
    the pinned coarse model, the standing selection, and the per-shard
    manifest digest. Generations older than the retained window
    (current + previous, :data:`REINDEX_KEEP_GENERATIONS`) are swept —
    the reference-counted GC rule of a snapshot catalog.

    The returned relation is the NEW generation's incremental decision
    update (the next day's batch merged against the rebuilt state), and
    its oracle is the full from-scratch selection statement — so "the
    rebuild re-converges with from-scratch on the current corpus" is
    hash-checked, not asserted. O(corpus) by design: a rebuild IS the
    indexing job (one pass over the standing text/vectors, exactly what
    the generation-0 stage builds cost); the point of the verb is that
    it is planned, verified, and swept — not free.

    Cadence evidence (VERDICT r13 #8, ``SELECTION_SCALE_r14.md`` x100,
    500k docs / contract k=800): the daily update's wall grows ~0.61 s
    per accumulated day of 2%-daily arrivals (42.7 s at day 1 → 48.3 s
    at day 10) while a cold rebuild costs 538.6 s — cumulative extra
    maintain cost reaches one rebuild only at D* ≈ 42 days. So at this
    shape the rebuild cadence is GUARD-driven (model staleness tripping
    ``_sem_drift_guard``), not cost-driven: rebuilding whenever a guard
    fires is far cheaper than the drift it clears, and a deployment that
    never trips a guard still breaks even rebuilding every ~6 weeks.
    """
    # 1) re-derive the full standing-state family for the new generation
    #    (explicit, not lazily-on-first-use: the probe index and manifest
    #    digest are not on the returned plan's path but ARE the rebuilt
    #    state a production gate/manifest would serve next)
    _standing_ledger(spark, sf_dir, gen)
    _standing_grams(spark, sf_dir, gen)
    _standing_contam(spark, sf_dir, gen)
    _standing_bands(spark, sf_dir, gen)
    _standing_bucket_pairs(spark, sf_dir, gen)
    _standing_capped_index(spark, sf_dir, gen)
    _standing_sem(spark, sf_dir, gen)
    _standing_sem_pruned(spark, sf_dir, gen)
    _standing_selection(spark, sf_dir, gen)
    _standing_manifest_digest(spark, sf_dir, gen)
    # 2) retire generations outside the retention window
    _sweep_generations(
        sf_dir,
        keep=tuple(range(max(0, gen - REINDEX_KEEP_GENERATIONS + 1), gen + 1)),
    )
    # 3) the proof: the next batch's decisions against the rebuilt state,
    #    hash-checked by the generation-invariant from-scratch oracle
    return corpus_incremental_selection(spark, sf_dir, gen=gen)


# --- streaming arrival gate: the front of the pipeline, as a real stream -----
def _stage_batch_arrivals(spark: SparkSession, sf_dir: str) -> str:
    """Stage the arriving batch as N id-range parquet files with ascending
    mtimes, so the file stream source replays them in arrival order — the
    shape of a real crawl-drop directory. Same atomic-publish ritual as the
    streaming events stages."""
    from ting_data_etl_spark.streaming.windows import publish_staged_dir

    out = _incr_stage_path(sf_dir, "arrivals", ("documents",))
    if not os.path.exists(os.path.join(out, "_SUCCESS")):

        def _write(tmp: str) -> None:
            batch = (
                load_table(spark, sf_dir, "documents")
                .filter(_batch_pred())
                .select("doc_id", "source", "text")
            )
            batch.repartitionByRange(4, "doc_id").write.mode(
                "overwrite"
            ).parquet(tmp)
            parts = sorted(
                f for f in os.listdir(tmp) if f.endswith(".parquet")
            )
            base = int(os.path.getmtime(os.path.join(tmp, parts[-1])))
            for i, name in enumerate(parts):
                p = os.path.join(tmp, name)
                os.utime(p, (base + i, base + i))

        publish_staged_dir(out, _write)
    return out


def _sql_arrival_gate() -> str:
    """One-shot twin of the per-micro-batch work: gopher gate + standing
    band-index probe over the whole arriving batch. Exact because both
    legs are per-arriving-document against FIXED standing state — the
    property that makes the gate micro-batch-splittable at all."""
    from ting_data_etl_spark.operators.curation import (
        _SQL_TOKS,
        _sql_gopher_ctes,
    )
    from ting_data_etl_spark.operators.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_REM,
        _minhash_sig_sql,
        _sql_banding_ctes,
    )

    return f"""
{_minhash_sig_sql()},
{_sql_banding_ctes(
    "corpus_capped",
    f" WHERE doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_REM}",
)},
batch AS (
  SELECT doc_id, j, band FROM bands
  WHERE doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_REM}
),
hits AS (
  SELECT b.doc_id, MIN(c.doc_id) AS dup_of
  FROM batch b JOIN corpus_capped c ON b.j = c.j AND b.band = c.band
  GROUP BY b.doc_id
),
{_SQL_TOKS},
{_sql_gopher_ctes()}
SELECT d.doc_id,
       g.passes_gopher,
       h.dup_of,
       h.dup_of IS NOT NULL AS is_dup
FROM (SELECT doc_id FROM documents
      WHERE doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_REM}) d
JOIN gop g ON d.doc_id = g.doc_id
LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


# OPTIMIZATION r16 (guide §2.1/§5, VERDICT r15 #1 — streaming driver gap):
# the arrival gate's size gate needs ONLY the batch row count, and the gate
# staged the stream's files itself — their parquet footers carry exact row
# counts. Reading footers once driver-side replaces a full count() action
# (plan + schedule + scan) per trigger. A mapping miss only picks the other
# PERFORMANCE path (the In-prune filters the index to a superset of the
# batch's bands either way), so the fallback count() is for robustness,
# not correctness.
def _staged_batch_rows(stage_dir: str) -> list[int]:
    """Footer row counts of *stage_dir*'s parquet files in replay order.

    With ``maxFilesPerTrigger`` 1 the file stream source replays files
    oldest mtime first, so micro-batch ``i`` reads the ``i``-th file by
    mtime. :func:`_stage_batch_arrivals` gives its files distinct,
    ascending mtimes (in name order), so that order is unambiguous.
    """
    try:
        import pyarrow.parquet as pq

        paths = [
            os.path.join(stage_dir, f)
            for f in os.listdir(stage_dir)
            if f.endswith(".parquet")
        ]
        paths.sort(key=lambda p: (os.path.getmtime(p), p))
        return [pq.ParquetFile(p).metadata.num_rows for p in paths]
    except (ImportError, OSError, ValueError):
        return []


@register("streaming_incremental_arrival_gate", oracle=_sql_arrival_gate)
def streaming_incremental_arrival_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Arriving documents gated + dedup-probed as a REAL file stream.

    The front of the incremental pipeline as it runs in production: crawl
    drops land as files, Structured Streaming replays them in arrival
    order (``maxFilesPerTrigger 1`` → 4 micro-batches), and each
    micro-batch is Gopher-gated and probed against the standing LSH band
    index inside ``foreachBatch`` — per-batch output is written to an
    idempotent per-batch-id directory (retry-safe, the generation-dir
    contract of ``streaming_foreachbatch_upsert`` without the merge,
    because this relation is append-only).

    Why this leg is streamable at all: both the gate (per-document) and
    the probe (per-document against FIXED standing state) distribute over
    any micro-batch partition of the arrivals, so the union over batches
    equals the one-shot computation the oracle runs — the same reasoning
    that makes the gate the STREAM stage while closure/budget (global,
    cross-document) stay at the daily-batch grain in
    ``corpus_incremental_selection``.

    Plan: the standing capped index is published ONCE as a bucketed-on-
    (j, band) table (:func:`_standing_capped_index`) so every micro-batch
    probe joins WITHOUT a standing-side Exchange or Sort — a small drop
    broadcasts its own bands (zero standing shuffle, one bucketed scan),
    a large one sort-merge-joins with only the batch side shuffled. Each
    micro-batch pays one signature pass over its own files only. The r11
    shape (localCheckpoint re-exchanged per trigger) measured ~6x
    stream/one-shot at 1M docs; the bucketed probe removes the per-trigger
    index shuffle, leaving the scan — which a production deployment
    shrinks further by retuning INDEX_BUCKETS with the corpus.
    """
    import tempfile

    from ting_data_etl_spark.operators.curation import gopher_metrics_df
    from ting_data_etl_spark.operators.dedup import (
        lsh_bands,
        minhash_signatures_df,
    )

    staged = _stage_batch_arrivals(spark, sf_dir)
    standing_capped = _standing_capped_index(spark, sf_dir)

    schema = spark.read.parquet(staged).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    # per-run output root; the run dir must survive this call (the caller
    # reads the returned DataFrame lazily), so sibling cleanup is the
    # shared pid-aware sweep (dead creators only — ADVICE r11 + r12 review)
    from ting_data_etl_spark.operators.dedup import new_run_dir

    base = new_run_dir(os.path.join(tempfile.gettempdir(), "ting_arrival_gate"))
    os.makedirs(base, exist_ok=True)  # per-batch subdirs land under it

    rows_by_batch = _staged_batch_rows(staged)

    # built ONCE per gate invocation, reused across triggers: unresolved
    # Columns are DataFrame-independent (OPTIMIZATION r16, same py4j
    # construction-cost removal as exprcache)
    bands_explode_col = F.posexplode(lsh_bands(F.col("sig"))).alias(
        "j", "band"
    )

    def gate(batch_df, batch_id: int) -> None:
        from ting_data_etl_spark.operators.dedup import MINHASH_BANDS

        # OPTIMIZATION r15 (guide §5): materialize the micro-batch ONCE.
        # foreachBatch hands a lazy plan over the trigger's files; the
        # size gate, the gopher leg, the signature leg and the output
        # join each re-scanned them — 4 input scans per trigger. The
        # persist is populated by the first action that touches the
        # batch, every later leg reads it, and the finally releases it
        # with the batch — per-trigger state, not cross-batch caching.
        batch_df = batch_df.persist()
        # the batch body may switch AQE off (below); the finally restores
        # the session conf and releases the persist on every exit path
        spark_b = batch_df.sparkSession
        aqe_key = "spark.sql.adaptive.enabled"
        prev_aqe = spark_b.conf.get(aqe_key)
        try:
            g = gopher_metrics_df(batch_df).select("doc_id", "passes_gopher")
            bands_b = minhash_signatures_df(batch_df).select(
                "doc_id", bands_explode_col
            )
            # SMALL drops (the land-and-gate-immediately case) additionally
            # key-prune the index SCAN: the drop's distinct band values are a
            # bounded collect (<= PROBE_PRUNE_KEYS by the size gate), pushed
            # into the bucketed scan as an In filter — with the index sorted
            # by (j, band) within buckets, parquet row-group stats skip
            # everything the drop doesn't touch, so a tiny drop's probe reads
            # index-touched row groups, not the index. Large drops touch
            # ~every band; for them the no-shuffle bucketed join is the win
            # and the extra signature pass would cost more than it prunes.
            idx = standing_capped
            n_rows = (
                rows_by_batch[batch_id]
                if batch_id < len(rows_by_batch)
                else batch_df.count()
            )
            # OPTIMIZATION r16 (guide §2.1): for a SMALL drop, AQE fragments
            # the per-trigger write into ~10 one-task query-stage jobs, each
            # paying ~0.1 s of driver re-planning — on a plan whose joins are
            # already fixed by construction (bucketed index scan, broadcast
            # drop side). Disable adaptive execution for the small-drop batch
            # body only — size-keyed like the In-prune path, NOT a local-mode
            # constant: a big drop (where AQE's coalescing/skew handling can
            # matter) keeps it on.
            if n_rows <= GATE_AQE_OFF_ROWS:
                spark_b.conf.set(aqe_key, "false")
            if n_rows * MINHASH_BANDS <= PROBE_PRUNE_KEYS:
                bands_b = bands_b.localCheckpoint(eager=True)
                vals = [
                    r["band"]
                    for r in bands_b.select("band").distinct().collect()
                ]
                idx = standing_capped.filter(F.col("band").isin(vals))
            hits = (
                bands_b.alias("b")
                .join(
                    idx.alias("c"),
                    (F.col("b.j") == F.col("c.j"))
                    & (F.col("b.band") == F.col("c.band")),
                )
                .groupBy(F.col("b.doc_id").alias("doc_id"))
                .agg(F.min(F.col("c.doc_id")).alias("dup_of"))
            )
            out = (
                batch_df.select("doc_id")
                .join(g, "doc_id")
                .join(hits, "doc_id", "left")
                .select(
                    "doc_id",
                    "passes_gopher",
                    "dup_of",
                    F.col("dup_of").isNotNull().alias("is_dup"),
                )
            )
            # overwrite into a per-batch-id dir: a micro-batch retry reproduces
            # the identical directory instead of appending duplicates
            out.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(base, f"batch_{batch_id}")
            )
        finally:
            spark_b.conf.set(aqe_key, prev_aqe)
            batch_df.unpersist()

    # the small-drop path pushes an In-set of up to PROBE_PRUNE_KEYS bands
    # into the parquet scan; past the default threshold (10) Spark would
    # degrade it to a min/max range filter, which random band values defeat
    conf_key = "spark.sql.parquet.pushdown.inFilterThreshold"
    prev_thresh = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, str(PROBE_PRUNE_KEYS + 1))
    try:
        q = (
            stream.writeStream.foreachBatch(gate)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev_thresh is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev_thresh)
    return spark.read.parquet(os.path.join(base, "batch_*"))


# --- contamination maintenance under deletes / re-edits (benchmark rotation) -
def _sql_contam_after_deletes() -> str:
    """From-scratch contamination over the post-edit standing corpus: docs2
    carries the edited text, ``ctok`` tokenizes only standing+alive rows,
    then the shared contamination CTE chain verbatim."""
    from ting_data_etl_spark.operators.curation import _sql_contam_ctes
    from ting_data_etl_spark.operators.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_REM,
        INCR_DELETE_MOD,
        INCR_DELETE_REM,
        INCR_READD_MOD,
        INCR_READD_REM,
    )
    from ting_data_etl_spark.plans.oracles import SQL_TOKEN_LIST

    deleted = f"doc_id % {INCR_DELETE_MOD} = {INCR_DELETE_REM}"
    readded = f"doc_id % {INCR_READD_MOD} = {INCR_READD_REM}"
    standing = f"doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_REM}"
    alive = f"NOT (({deleted}) AND NOT ({readded}))"
    return f"""
WITH docs2 AS (
  SELECT doc_id,
         CASE WHEN {readded}
              THEN text || ' edited ' || CAST(doc_id AS VARCHAR)
              ELSE text END AS text
  FROM documents
  WHERE ({standing}) AND ({alive})
),
ctok AS (
  SELECT doc_id, text,
         {SQL_TOKEN_LIST} AS toks
  FROM docs2
),
{_sql_contam_ctes()}
SELECT doc_id, n_grams, n_contaminated, contamination_frac, flagged FROM contam
"""


@register(
    "incremental_contamination_with_deletes",
    oracle=_sql_contam_after_deletes,
)
def incremental_contamination_with_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Contamination maintenance under tombstones + re-edits — benchmark
    ROTATION, the decontamination op additive updates can't express.

    Where arrivals only ever ADD benchmark grams (disjoint hit sets, counts
    add — ``incremental_contamination_update``), deleting or re-editing a
    BENCHMARK document shrinks the benchmark gram set, so surviving corpus
    documents' hit counts must go DOWN for grams no remaining benchmark doc
    carries, and up for grams the re-edits introduce. The staged gram index
    makes both exact without re-reading standing text:

    * removed_h / added_h = the symmetric difference between the pre-edit
      and post-edit benchmark gram sets (derived from the staged index +
      one O(edits) text pass for re-edited docs) — both broadcast-small,
      bounded by the edited/deleted benchmark docs' grams;
    * a surviving UNEDITED corpus doc's gram set is unchanged, so its new
      count = staged count − hits(removed_h) + hits(added_h), two
      broadcast probes of the staged index;
    * re-edited corpus docs rescore fresh against the post-edit benchmark
      set (their gram set changed); deleted docs drop.

    Oracle = the from-scratch sweep over the post-edit corpus, so the
    set-difference arithmetic is hash-checked end to end.
    """
    from ting_data_etl_spark.functions.text import portable_hash31
    from ting_data_etl_spark.operators.curation import (
        BENCHMARK_MOD,
        CONTAM_FLAG_FRAC,
        CONTAM_NGRAM,
    )
    from ting_data_etl_spark.operators.dedup import (
        _incr_mh_deleted,
        _incr_mh_readded,
        word_shingles_df,
    )

    bench_pred = F.col("doc_id") % BENCHMARK_MOD == 0
    alive_pred = ~(_incr_mh_deleted() & ~_incr_mh_readded())
    grams_st = _standing_grams(spark, sf_dir)

    edited = (
        load_table(spark, sf_dir, "documents")
        .filter(_incr_mh_readded() & ~_batch_pred())
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" edited "),
                F.col("doc_id").cast("string"),
            ).alias("text"),
        )
    )
    grams_e = (
        word_shingles_df(edited, n=CONTAM_NGRAM)
        .select("doc_id", portable_hash31(F.col("s")).alias("h"))
        .distinct()
        .localCheckpoint(eager=True)  # bench + corpus consumers
    )

    old_bench = (
        grams_st.filter(bench_pred)
        .select("h")
        .distinct()
        .filter(F.col("h").isNotNull())
    )
    new_bench = (
        grams_st.filter(bench_pred & alive_pred & ~_incr_mh_readded())
        .select("h")
        .unionByName(grams_e.filter(bench_pred).select("h"))
        .distinct()
        .filter(F.col("h").isNotNull())
    )
    removed_h = old_bench.join(new_bench, "h", "left_anti")
    added_h = new_bench.join(old_bench, "h", "left_anti")

    surviving = grams_st.filter(
        ~bench_pred & alive_pred & ~_incr_mh_readded()
    )
    minus = (
        surviving.join(F.broadcast(removed_h), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_minus"))
    )
    plus = (
        surviving.join(F.broadcast(added_h), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_plus"))
    )
    n_cont = (
        F.col("n_contaminated")
        - F.coalesce(F.col("n_minus"), F.lit(0))
        + F.coalesce(F.col("n_plus"), F.lit(0))
    ).cast("long")
    frac = n_cont.cast("double") / F.col("n_grams")
    updated = (
        _standing_contam(spark, sf_dir)
        .filter(alive_pred & ~_incr_mh_readded())
        .join(minus, "doc_id", "left")
        .join(plus, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            n_cont.alias("n_contaminated"),
            frac.alias("contamination_frac"),
            (frac >= CONTAM_FLAG_FRAC).cast("int").alias("flagged"),
        )
    )
    bench_hit = new_bench.withColumn("hit", F.lit(1))
    frac_e = F.count("hit").cast("double") / F.count("*")
    rescored = (
        grams_e.filter(~bench_pred)
        .join(F.broadcast(bench_hit), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
            frac_e.alias("contamination_frac"),
            (frac_e >= CONTAM_FLAG_FRAC).cast("int").alias("flagged"),
        )
    )
    return updated.unionByName(rescored)


# --- budget maintenance under deletes / re-edits ------------------------------
def _sql_budget_after_deletes() -> str:
    """Budget head over the post-edit standing corpus: ``tok`` built from
    the docs2 prelude (standing + alive, edited text), then the SHARED
    budget chain (``sql_budget_ctes_from_tok``) — one definition of the
    rank/total/cumsum arithmetic on both engines."""
    from ting_data_etl_spark.operators.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_REM,
        INCR_DELETE_MOD,
        INCR_DELETE_REM,
        INCR_READD_MOD,
        INCR_READD_REM,
    )
    from ting_data_etl_spark.operators.sampling import (
        BUDGET_PCT,
        sql_budget_ctes_from_tok,
    )
    from ting_data_etl_spark.plans.oracles import SQL_TOKEN_LIST

    deleted = f"doc_id % {INCR_DELETE_MOD} = {INCR_DELETE_REM}"
    readded = f"doc_id % {INCR_READD_MOD} = {INCR_READD_REM}"
    standing = f"doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_REM}"
    alive = f"NOT (({deleted}) AND NOT ({readded}))"
    return f"""
WITH docs2 AS (
  SELECT doc_id, lang, source, n_chars,
         CASE WHEN {readded}
              THEN text || ' edited ' || CAST(doc_id AS VARCHAR)
              ELSE text END AS text
  FROM documents
  WHERE ({standing}) AND ({alive})
),
tok AS (
  SELECT doc_id, lang, source, n_chars, text,
         {SQL_TOKEN_LIST} AS toks
  FROM docs2
),
{sql_budget_ctes_from_tok()}
SELECT doc_id, n_checks, n_toks, cum_before
FROM cum CROSS JOIN tt
WHERE cum_before < total * {BUDGET_PCT} // 100
"""


@register("incremental_budget_with_deletes", oracle=_sql_budget_after_deletes)
def incremental_budget_with_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Budget-head maintenance under tombstones + re-edits.

    Deleting documents shrinks the corpus token total (the budget itself
    moves — BUDGET_PCT of a smaller number) and re-edits change their own
    rank keys, so the greedy head must be re-cut; but the cut is a
    fixed-width pass: the staged standing ledger drops tombstoned rows,
    re-edited docs re-score through the same O(edits) text pass arrivals
    use, and the union feeds the shared banded prefix scan
    (``budget_head_from_ledger``). No standing text is re-read. Oracle =
    the budget statement over the post-edit corpus via the shared
    ``sql_budget_ctes_from_tok`` chain on a docs2 relation.
    """
    from ting_data_etl_spark.operators.dedup import (
        _incr_mh_deleted,
        _incr_mh_readded,
    )
    from ting_data_etl_spark.operators.sampling import (
        budget_head_from_ledger,
        budget_ledger_df,
    )

    alive_pred = ~(_incr_mh_deleted() & ~_incr_mh_readded())
    led = (
        _standing_ledger(spark, sf_dir)
        .filter(alive_pred & ~_incr_mh_readded())
        .select("doc_id", "n_checks", "n_toks", "okey")
    )
    edited = (
        load_table(spark, sf_dir, "documents")
        .filter(_incr_mh_readded() & ~_batch_pred())
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" edited "),
                F.col("doc_id").cast("string"),
            ).alias("text"),
        )
    )
    return budget_head_from_ledger(
        led.unionByName(budget_ledger_df(edited))
    )


# --- the capstone under deletes: post-edit decisions, maintained --------------
def _sql_selection_over(docs2: str, member_pred: str) -> str:
    """Final-selection statement over an ARBITRARY ``docs2`` universe.

    Same three-stage nesting as ``curation._sql_final_selection`` — e2e
    verdicts, SemDeDup, survivor budget — each stage's statement rebuilt
    over the docs2 universe: the minhash chain signs docs2
    (``_minhash_sig_sql(doc_relation=...)``), the closure labels docs2
    (``_sql_closure_ctes(docs_rel=...)``), gopher/contam read a
    docs2-based ``ctok``, SemDeDup keeps the FULL-corpus coarse fit but
    restricts membership (``_sql_semdedup(member_pred=...)`` — the
    pinned-model contract of the staged index), and the budget chain runs
    over a docs2-based ``tok`` via ``sql_budget_ctes_from_tok``. Span
    accounting is omitted: kept and kept_trimmed map to the same
    decisions, so the relation is decision-identical to a span-aware run
    (the same argument the incremental capstone's oracle rests on,
    verified there).

    *docs2* is the full ``docs2 AS (...),\n`` CTE text (must expose
    doc_id, source, text); *member_pred* is the SemDeDup membership
    predicate over ``vec_id``. Shared by the deletes-family oracle and the
    snapshot time-travel oracle (day-0 = the plain standing universe).
    """
    from ting_data_etl_spark.operators.curation import (
        BENCHMARK_MOD,
        _sql_contam_ctes,
        _sql_gopher_ctes,
    )
    from ting_data_etl_spark.operators.dedup import (
        _minhash_sig_sql,
        _sql_banding_ctes,
        _sql_closure_ctes,
    )
    from ting_data_etl_spark.operators.sampling import (
        BUDGET_PCT,
        sql_budget_ctes_from_tok,
    )
    from ting_data_etl_spark.operators.similarity import _sql_semdedup
    from ting_data_etl_spark.plans.oracles import SQL_TOKEN_LIST

    status_stmt = f"""
{_minhash_sig_sql(doc_relation="docs2", prelude=docs2)},
{_sql_banding_ctes()},
mh_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.j = b.j AND a.doc_id < b.doc_id
),
{_sql_closure_ctes(docs_rel="docs2")},
ctok AS (
  SELECT doc_id, text,
         {SQL_TOKEN_LIST} AS toks
  FROM docs2
),
{_sql_gopher_ctes()},
{_sql_contam_ctes()}
SELECT d.doc_id,
       CASE WHEN d.doc_id % {BENCHMARK_MOD} = 0 THEN 'benchmark'
            WHEN g.passes_gopher = 0 THEN 'low_quality'
            WHEN COALESCE(ct.flagged, 0) = 1 THEN 'contaminated'
            WHEN l.component <> d.doc_id THEN 'duplicate'
            ELSE 'kept' END AS status
FROM docs2 d
JOIN gop g ON d.doc_id = g.doc_id
LEFT JOIN contam ct ON d.doc_id = ct.doc_id
JOIN labeled l ON d.doc_id = l.doc_id
""".replace("WITH docs2", "WITH RECURSIVE docs2", 1)
    sem_stmt = _sql_semdedup(member_pred=member_pred)
    return f"""
WITH fss AS ({status_stmt}),
fsem AS ({sem_stmt}),
surv AS (
  SELECT doc_id FROM fss
  WHERE status = 'kept'
    AND doc_id NOT IN (SELECT vec_id FROM fsem)
),
{docs2}tok AS (
  SELECT doc_id, source, text,
         {SQL_TOKEN_LIST} AS toks
  FROM docs2
),
{sql_budget_ctes_from_tok("surv")},
bud AS (
  SELECT doc_id FROM cum CROSS JOIN tt
  WHERE cum_before < total * {BUDGET_PCT} // 100
)
SELECT fss.doc_id,
       CASE WHEN fss.status <> 'kept' THEN fss.status
            WHEN fss.doc_id IN (SELECT vec_id FROM fsem)
              THEN 'semantic_duplicate'
            WHEN fss.doc_id NOT IN (SELECT doc_id FROM bud)
              THEN 'over_budget'
            ELSE 'selected' END AS decision
FROM fss
"""


def _sql_selection_after_deletes() -> str:
    """From-scratch final selection over the post-edit standing corpus:
    the shared :func:`_sql_selection_over` statement instantiated with the
    tombstone/re-edit docs2 universe (standing + alive, edited text) and
    the matching SemDeDup membership predicate (re-edits don't change
    stored embeddings, so membership is id-based)."""
    from ting_data_etl_spark.operators.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_REM,
        INCR_DELETE_MOD,
        INCR_DELETE_REM,
        INCR_READD_MOD,
        INCR_READD_REM,
    )

    deleted = f"doc_id % {INCR_DELETE_MOD} = {INCR_DELETE_REM}"
    readded = f"doc_id % {INCR_READD_MOD} = {INCR_READD_REM}"
    standing = f"doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_REM}"
    alive = f"NOT (({deleted}) AND NOT ({readded}))"
    vdeleted = f"vec_id % {INCR_DELETE_MOD} = {INCR_DELETE_REM}"
    vreadded = f"vec_id % {INCR_READD_MOD} = {INCR_READD_REM}"
    vstanding = f"vec_id % {INCR_BATCH_MOD} <> {INCR_BATCH_REM}"
    valive = f"NOT (({vdeleted}) AND NOT ({vreadded}))"
    docs2 = f"""docs2 AS (
  SELECT doc_id, source,
         CASE WHEN {readded}
              THEN text || ' edited ' || CAST(doc_id AS VARCHAR)
              ELSE text END AS text
  FROM documents
  WHERE ({standing}) AND ({alive})
),
"""
    return _sql_selection_over(docs2, f"({vstanding}) AND ({valive})")


@register("corpus_selection_with_deletes", oracle=_sql_selection_after_deletes)
def corpus_selection_with_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full decision relation after tombstones + re-edits — every
    maintenance leg composed, no standing text re-read.

    The other half of the standing-corpus contract
    (``corpus_incremental_selection`` handles arrivals; this handles the
    day's DELETIONS and re-crawls): per-document decisions over the
    post-edit corpus, built entirely from the staged state plus one
    O(edits) text pass —

    * gopher/ledger: staged rows minus tombstones, re-edits rescored;
    * contamination: the benchmark-rotation update (broadcast
      set-difference probes — ``incremental_contamination_with_deletes``);
    * near-dup: affected-bucket pair maintenance incl. cap re-admission
      (``incremental_pairs_with_deletes``), closure over the maintained
      pair set (labels staged under their own key);
    * SemDeDup: re-edits don't change stored embeddings and the coarse
      model is pinned, so only clusters holding a TOMBSTONED vector can
      change — a deleted keeper can UN-prune its cluster-mates, so
      affected clusters are re-paired from their alive members while
      unaffected clusters keep their staged keeper rows verbatim (the
      touched-bucket argument at cluster granularity);
    * budget: the maintained ledger through the shared banded prefix scan
      (the budget itself moves — BUDGET_PCT of the post-delete total).

    Oracle = the from-scratch three-stage composition over the post-edit
    corpus (docs2 universe, pinned-model membership filter), so every
    maintenance argument above is hash-checked end to end in one relation.

    Delegates to :func:`selection_with_deletes_df` — the session-memoized
    post-edit decision relation ``incremental_manifest_with_deletes`` also
    consumes (OPTIMIZATION r15).
    """
    return selection_with_deletes_df(spark, sf_dir)


def selection_with_deletes_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-memoized post-edit (tombstones + re-edits) decision relation.

    Same rationale and keying as :func:`incremental_selection_df`: the
    registered capstone and ``incremental_manifest_with_deletes`` both
    executed this full relation per query inside one session.
    """
    from ting_data_etl_spark.operators.dedup import (
        _source_fp,
        _stage_version_token,
    )
    from ting_data_etl_spark.relcache import session_relation

    return session_relation(
        spark,
        (
            "selection_with_deletes",
            os.path.abspath(sf_dir),
            _stage_version_token(),
            _incr_token(),
            _source_fp(sf_dir, "documents"),
            _source_fp(sf_dir, "embeddings"),
        ),
        lambda: _selection_with_deletes_build(spark, sf_dir),
    )


def _selection_with_deletes_build(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The post-edit decision composition itself (see
    :func:`corpus_selection_with_deletes` for semantics)."""
    from ting_data_etl_spark.operators.curation import (
        BENCHMARK_MOD,
        gopher_metrics_df,
    )
    from ting_data_etl_spark.operators.dedup import (
        _incr_mh_deleted,
        _incr_mh_readded,
        staged_components,
    )
    from ting_data_etl_spark.operators.sampling import (
        budget_head_from_ledger,
        budget_ledger_df,
    )
    from ting_data_etl_spark.operators.similarity import (
        SEMDEDUP_EPS,
        cosine_udf,
    )

    alive_pred = ~(_incr_mh_deleted() & ~_incr_mh_readded())
    d = load_table(spark, sf_dir, "documents")
    universe = d.filter(~_batch_pred() & alive_pred).select("doc_id")
    edited = (
        d.filter(_incr_mh_readded() & ~_batch_pred())
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" edited "),
                F.col("doc_id").cast("string"),
            ).alias("text"),
        )
        .localCheckpoint(eager=True)  # gopher + ledger consumers
    )

    # gopher + budget ledger: staged minus tombstones, edits rescored
    led_keep = _standing_ledger(spark, sf_dir).filter(
        alive_pred & ~_incr_mh_readded()
    )
    gopher_all = led_keep.select("doc_id", "passes_gopher").unionByName(
        gopher_metrics_df(edited).select("doc_id", "passes_gopher")
    )
    ledger_all = led_keep.select(
        "doc_id", "n_checks", "n_toks", "okey"
    ).unionByName(budget_ledger_df(edited))

    # contamination: benchmark rotation (shares the registered leg's plan)
    contam_all = incremental_contamination_with_deletes(
        spark, sf_dir
    ).select("doc_id", "flagged")

    # near-dup: maintained pairs -> closure over the post-edit universe
    # Key folds _incr_token() (which carries INCR_BATCH/DELETE/READD):
    # the post-edit universe and maintained pair set depend on those
    # constants, and staged_components' own fingerprint does not see them.
    labels = staged_components(
        spark,
        sf_dir,
        f"incrdel_cc_{_incr_token()}",
        universe,
        incremental_pairs_with_deletes(spark, sf_dir),
    )

    status = (
        F.when(F.col("doc_id") % BENCHMARK_MOD == 0, F.lit("benchmark"))
        .when(F.col("passes_gopher") == 0, F.lit("low_quality"))
        .when(
            F.coalesce(F.col("flagged"), F.lit(0)) == 1, F.lit("contaminated")
        )
        .when(F.col("component") != F.col("doc_id"), F.lit("duplicate"))
        .otherwise(F.lit("kept"))
    )
    st = (
        universe.join(gopher_all, "doc_id")
        .join(contam_all, "doc_id", "left")
        .join(labels, "doc_id")
        .select("doc_id", status.alias("status"))
    )

    # SemDeDup: only clusters holding a tombstoned vector can change
    from ting_data_etl_spark.operators.dedup import (
        INCR_DELETE_MOD,
        INCR_DELETE_REM,
        INCR_READD_MOD,
        INCR_READD_REM,
    )

    sem = _standing_sem(spark, sf_dir)
    vdeleted = (
        F.pmod(F.col("vec_id"), F.lit(INCR_DELETE_MOD)) == INCR_DELETE_REM
    ) & ~(F.pmod(F.col("vec_id"), F.lit(INCR_READD_MOD)) == INCR_READD_REM)
    affected = (
        sem.filter(vdeleted).select("list_id").distinct()
    )
    kept_rows = (
        _standing_sem_pruned(spark, sf_dir)
        .join(F.broadcast(affected), "list_id", "left_anti")
        .select("vec_id")
    )
    alive_members = sem.filter(~vdeleted).join(
        F.broadcast(affected), "list_id"
    )
    a = alive_members.select(
        F.col("vec_id").alias("a_id"),
        F.col("q").alias("qa"),
        F.col("norm").alias("na"),
        "list_id",
    )
    b = alive_members.select(
        F.col("vec_id").alias("vec_id"),
        F.col("q").alias("qb"),
        F.col("norm").alias("nb"),
        F.col("list_id").alias("lb"),
    )
    repaired = (
        a.join(
            b,
            (F.col("list_id") == F.col("lb"))
            & (F.col("a_id") < F.col("vec_id")),
        )
        .select(
            "vec_id",
            cosine_udf()(
                F.col("qa"), F.col("qb"), F.col("na"), F.col("nb")
            ).alias("c"),
        )
        .filter(F.col("c") >= SEMDEDUP_EPS)
        .select("vec_id")
        .distinct()
    )
    pruned = (
        kept_rows.unionByName(repaired)
        .distinct()
        .withColumnRenamed("vec_id", "doc_id")
        .withColumn("sem_pruned", F.lit(True))
    )

    st = st.join(pruned, "doc_id", "left").localCheckpoint(eager=True)
    kept = F.col("status") == "kept"
    surv = st.filter(kept & F.col("sem_pruned").isNull()).select("doc_id")
    bud = (
        budget_head_from_ledger(ledger_all.join(surv, "doc_id"))
        .select("doc_id")
        .withColumn("in_budget", F.lit(True))
    )
    return st.join(bud, "doc_id", "left").select(
        "doc_id",
        F.when(~kept, F.col("status"))
        .when(F.col("sem_pruned").isNotNull(), F.lit("semantic_duplicate"))
        .when(F.col("in_budget").isNull(), F.lit("over_budget"))
        .otherwise(F.lit("selected"))
        .alias("decision"),
    )


# --- incremental manifest maintenance ----------------------------------------
# ``corpus_selection_manifest`` shards by the GLOBAL longest-first rank —
# exact token balance, but rank % N_SHARDS is rank-dependent: one arrival
# shifts every later doc's shard, so that manifest can only be recomputed,
# never maintained. The incremental manifest trades exact balance for
# STABILITY: shard = portable hash(doc_id) % N_SHARDS (statistically
# token-balanced, churn-invariant), and the per-shard membership checksum
# is an ORDER-INDEPENDENT XOR set digest over a portable 60-bit id hash
# (the incremental set-digest idea behind homomorphic set hashes, e.g.
# LtHash) instead of the md5-of-sorted-ids — so applying a day's selection
# delta is pure algebra on N_SHARDS fixed rows:
#
#   n_docs'       = n_docs + |adds in shard| - |removes in shard|
#   total_tokens' = total_tokens + sum(tok(adds)) - sum(tok(removes))
#   ids_xor'      = ids_xor XOR hash(adds) XOR hash(removes)
#
# (XOR removal = XOR again). The update never re-lists a shard's members
# and never re-reads standing text: delta token counts come from the
# staged ledger (standing docs) or the batch's own scoring (O(batch)).
# A mis-applied add/remove still flips ids_xor, so the digest keeps the
# manifest's audit property. Oracle: the from-scratch rollup over the
# post-merge corpus's full selection statement.


def _n_shards() -> int:
    """Call-time N_SHARDS (retunes must reach staged keys AND oracles)."""
    from ting_data_etl_spark.operators.sampling import N_SHARDS

    return N_SHARDS


def _manifest_shard_col(col: F.Column) -> F.Column:
    """Churn-stable shard id in [0, N_SHARDS): md5-derived, engine-portable
    (same idiom as ``sampling._bucket``; salt names the decision).

    Shard-count retune rule: ``capacity.manifest_shards`` (selected bytes /
    4 GB target, power of two — ~8192 at 10B docs; every test corpus
    floors to the registered N_SHARDS). The digest update is per-DELTA-row,
    so the count only sizes the physical files, never the maintenance cost.
    """
    from ting_data_etl_spark.operators.sampling import N_SHARDS

    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard|"), col.cast("string"))), 1, 8
            ),
            16,
            10,
        )
        .try_cast("long")
        % N_SHARDS
    ).cast("int")


def _sql_manifest_shard(expr: str) -> str:
    from ting_data_etl_spark.operators.sampling import N_SHARDS

    return (
        f"(CAST('0x' || substr(md5('shard|' || CAST({expr} AS VARCHAR)), "
        f"1, 8) AS BIGINT) % {N_SHARDS})"
    )


def _sql_digest_rollup() -> str:
    from ting_data_etl_spark.operators.sampling import _sql_manifest_hash

    return f"""
SELECT CAST({_sql_manifest_shard("doc_id")} AS INTEGER) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       CAST(bit_xor({_sql_manifest_hash("doc_id")}) AS BIGINT) AS ids_xor
FROM tok GROUP BY 1
"""


def _standing_selection(
    spark: SparkSession, sf_dir: str, gen: int = 0
) -> DataFrame:
    """Selected doc_ids of the PRE-batch standing corpus's own from-scratch
    selection — the membership the standing manifest digest is over.

    Built once per fingerprint from the already-staged standing states
    (ledger, contamination counts, bucket pair contributions, SemDeDup
    pruned set) composed exactly like the capstones compose their merged
    states — no batch state can leak in because none of the inputs see the
    batch.
    """
    from ting_data_etl_spark.operators.curation import (
        BENCHMARK_MOD,
        CONTAM_FLAG_FRAC,
    )
    from ting_data_etl_spark.operators.dedup import staged_components
    from ting_data_etl_spark.operators.sampling import budget_head_from_ledger

    def build() -> DataFrame:
        led = _standing_ledger(spark, sf_dir, gen)
        universe = led.select("doc_id")
        frac = F.col("n_contaminated").cast("double") / F.col("n_grams")
        contam = _standing_contam(spark, sf_dir, gen).select(
            "doc_id", (frac >= CONTAM_FLAG_FRAC).cast("int").alias("flagged")
        )
        pairs = (
            _standing_bucket_pairs(spark, sf_dir, gen)
            .select("doc_a", "doc_b")
            .distinct()
        )
        labels = staged_components(
            spark,
            sf_dir,
            f"incrman_cc_{''.join(t + '_' for t in _gen_tag(gen))}"
            f"{_incr_token()}",
            universe,
            pairs,
        )
        status = (
            F.when(F.col("doc_id") % BENCHMARK_MOD == 0, F.lit("benchmark"))
            .when(F.col("passes_gopher") == 0, F.lit("low_quality"))
            .when(
                F.coalesce(F.col("flagged"), F.lit(0)) == 1,
                F.lit("contaminated"),
            )
            .when(F.col("component") != F.col("doc_id"), F.lit("duplicate"))
            .otherwise(F.lit("kept"))
        )
        pruned = (
            _standing_sem_pruned(spark, sf_dir, gen)
            .select(F.col("vec_id").alias("doc_id"))
            .withColumn("sem_pruned", F.lit(True))
        )
        st = (
            led.select("doc_id", "passes_gopher")
            .join(contam, "doc_id", "left")
            .join(labels, "doc_id")
            .select("doc_id", status.alias("status"))
            .join(pruned, "doc_id", "left")
            .localCheckpoint(eager=True)
        )
        surv = st.filter(
            (F.col("status") == "kept") & F.col("sem_pruned").isNull()
        ).select("doc_id")
        return budget_head_from_ledger(
            led.select("doc_id", "n_checks", "n_toks", "okey").join(
                surv, "doc_id"
            )
        ).select("doc_id")

    return _stage(
        spark, sf_dir, "standingsel", build,
        tables=("documents", "embeddings"), gen=gen,
    )


def _digest_rollup_df(rows: DataFrame) -> DataFrame:
    """The from-scratch digest rollup over (doc_id, n_toks) rows — shared
    by the standing-digest build and any read-back verifier."""
    return (
        rows.select(
            _manifest_shard_col(F.col("doc_id")).alias("shard"),
            F.col("n_toks").cast("long").alias("n_toks"),
            _manifest_hash_col(F.col("doc_id")).alias("dh"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.expr("bit_xor(dh)").alias("ids_xor"),
        )
    )


def _standing_manifest_digest(
    spark: SparkSession, sf_dir: str, gen: int = 0
) -> DataFrame:
    """(shard, n_docs, total_tokens, ids_xor) over the standing selection —
    the N_SHARDS-row relation that is the ONLY standing manifest state the
    daily update reads."""

    def build() -> DataFrame:
        rows = _standing_selection(spark, sf_dir, gen).join(
            _standing_ledger(spark, sf_dir, gen).select("doc_id", "n_toks"),
            "doc_id",
        )
        return _digest_rollup_df(rows)

    return _stage(
        # Key folds N_SHARDS: the shard column is baked into the staged
        # rows and _incr_token() does not carry it — a shard-count retune
        # must rotate this stage, not serve 16-shard rows (the same
        # invalidation contract as the closure stages).
        spark,
        sf_dir,
        f"mandigest_{_n_shards()}",
        build,
        tables=("documents", "embeddings"),
        gen=gen,
    )


def _apply_manifest_delta(
    digest: DataFrame,
    adds: DataFrame,
    removes: DataFrame,
    retoken: DataFrame | None = None,
) -> DataFrame:
    """Fold (adds, removes[, retoken]) into a standing digest — the pure
    O(delta) algebra both registered updates share.

    *adds*/*removes* carry (doc_id, n_toks) — n_toks being the value the
    digest gains/loses; *retoken* carries (doc_id, d_toks) for docs whose
    membership is unchanged but whose token count moved (re-edits): a
    token adjustment with NO xor term and no count term. Shards the digest
    never saw appear via the union; shards emptied by removals drop out
    via the n_docs > 0 filter.
    """
    base = digest.select(
        "shard",
        F.col("n_docs").alias("dn"),
        F.col("total_tokens").alias("dt"),
        F.col("ids_xor").alias("dh"),
    )

    def leg(df: DataFrame, sign: int) -> DataFrame:
        return df.select(
            _manifest_shard_col(F.col("doc_id")).alias("shard"),
            F.lit(sign).cast("long").alias("dn"),
            (F.lit(sign) * F.col("n_toks")).cast("long").alias("dt"),
            _manifest_hash_col(F.col("doc_id")).alias("dh"),
        )

    parts = base.unionByName(leg(adds, 1)).unionByName(leg(removes, -1))
    if retoken is not None:
        parts = parts.unionByName(
            retoken.select(
                _manifest_shard_col(F.col("doc_id")).alias("shard"),
                F.lit(0).cast("long").alias("dn"),
                F.col("d_toks").cast("long").alias("dt"),
                F.lit(None).cast("long").alias("dh"),  # membership unchanged
            )
        )
    return (
        parts.groupBy("shard")
        .agg(
            F.sum("dn").cast("long").alias("n_docs"),
            F.sum("dt").cast("long").alias("total_tokens"),
            F.expr("bit_xor(dh)").alias("ids_xor"),
        )
        .filter(F.col("n_docs") > 0)
    )


def _sql_manifest_update() -> str:
    """From-scratch digest over the post-merge corpus's full selection —
    the nested-statement trick of ``_sql_selection_manifest``, with the
    hash shard + XOR digest in place of the rank shard + md5 list."""
    from ting_data_etl_spark.operators.curation import _sql_final_selection
    from ting_data_etl_spark.plans.oracles import SQL_TOKEN_LIST

    return f"""
WITH sel AS (
  SELECT doc_id FROM ({_sql_final_selection()}) f WHERE decision = 'selected'
),
tok AS (
  SELECT d.doc_id, len({SQL_TOKEN_LIST}) AS n_toks
  FROM documents d JOIN sel USING (doc_id)
)
{_sql_digest_rollup()}
"""


def _selected_post_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-memoized eager checkpoint of the arrivals day's selected
    doc_ids — the anti-join probe side ``_selection_delta`` feeds to the
    manifest update, the COW sink and the snapshot catalog. Before the
    memo each consumer re-filtered and re-checkpointed the decision
    relation (OPTIMIZATION r15; the relation itself is memoized by
    :func:`incremental_selection_df`, this adds the tiny selected-ids
    projection so the checkpoint block is shared too)."""
    from ting_data_etl_spark.operators.dedup import (
        _source_fp,
        _stage_version_token,
    )
    from ting_data_etl_spark.relcache import session_relation

    return session_relation(
        spark,
        (
            "incrsel_post_ids",
            os.path.abspath(sf_dir),
            _stage_version_token(),
            _incr_token(),
            _source_fp(sf_dir, "documents"),
            _source_fp(sf_dir, "embeddings"),
        ),
        lambda: incremental_selection_df(spark, sf_dir)
        .filter(F.col("decision") == "selected")
        .select("doc_id")
        .localCheckpoint(eager=True),
    )


def _selection_delta(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The arrivals day's PRICED selection delta: (adds, removes), each
    carrying (doc_id, n_toks).

    ONE derivation shared by the maintained manifest and the COW shard
    sink — their documented bit-equality rides on identical deltas, so
    the derivation must not be duplicated (r12 review). Prices come from
    the staged ledger (standing flips) and the batch's own scoring (new
    docs) — the only text this plan reads is the batch's.
    """
    from ting_data_etl_spark.operators.sampling import budget_ledger_df

    post = _selected_post_ids(spark, sf_dir)
    standing_sel = _standing_selection(spark, sf_dir)
    batch = load_table(spark, sf_dir, "documents").filter(_batch_pred())
    prices = _standing_ledger(spark, sf_dir).select(
        "doc_id", "n_toks"
    ).unionByName(budget_ledger_df(batch).select("doc_id", "n_toks"))
    adds = post.join(standing_sel, "doc_id", "left_anti").join(
        prices, "doc_id"
    )
    removes = standing_sel.join(post, "doc_id", "left_anti").join(
        prices, "doc_id"
    )
    return adds, removes


@register("incremental_manifest_update", oracle=_sql_manifest_update)
def incremental_manifest_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily manifest maintenance: fold the batch's selection delta into the
    standing per-shard digest — O(delta) rows touched, no shard re-listed.

    Consumes ``corpus_incremental_selection``'s post-merge decisions (the
    oracle-checked O(batch-text) path) via the shared ``_selection_delta``
    derivation and applies the XOR-digest algebra to the N_SHARDS staged
    rows. The from-scratch oracle re-derives the whole digest from the
    full selection statement, so a wrong shard hash, a dropped delta row,
    a stale token price, or broken XOR algebra all hash-mismatch.
    """
    adds, removes = _selection_delta(spark, sf_dir)
    return _apply_manifest_delta(
        _standing_manifest_digest(spark, sf_dir), adds, removes
    )


def _sql_manifest_with_deletes() -> str:
    """From-scratch digest over the post-edit standing corpus — selection
    from ``_sql_selection_after_deletes``, token prices from the EDITED
    text (docs2), rollup shared with the arrivals twin."""
    from ting_data_etl_spark.operators.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_REM,
        INCR_DELETE_MOD,
        INCR_DELETE_REM,
        INCR_READD_MOD,
        INCR_READD_REM,
    )
    from ting_data_etl_spark.plans.oracles import SQL_TOKEN_LIST

    deleted = f"doc_id % {INCR_DELETE_MOD} = {INCR_DELETE_REM}"
    readded = f"doc_id % {INCR_READD_MOD} = {INCR_READD_REM}"
    standing = f"doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_REM}"
    alive = f"NOT (({deleted}) AND NOT ({readded}))"
    return f"""
WITH seld AS (
  SELECT doc_id FROM ({_sql_selection_after_deletes()}) f
  WHERE decision = 'selected'
),
docs2 AS (
  SELECT doc_id,
         CASE WHEN {readded}
              THEN text || ' edited ' || CAST(doc_id AS VARCHAR)
              ELSE text END AS text
  FROM documents
  WHERE ({standing}) AND ({alive})
),
tok AS (
  SELECT d.doc_id, len({SQL_TOKEN_LIST}) AS n_toks
  FROM docs2 d JOIN seld USING (doc_id)
)
{_sql_digest_rollup()}
"""


def _selected_post_ids_with_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Post-edit twin of :func:`_selected_post_ids` (same memo rationale)."""
    from ting_data_etl_spark.operators.dedup import (
        _source_fp,
        _stage_version_token,
    )
    from ting_data_etl_spark.relcache import session_relation

    return session_relation(
        spark,
        (
            "incrdel_post_ids",
            os.path.abspath(sf_dir),
            _stage_version_token(),
            _incr_token(),
            _source_fp(sf_dir, "documents"),
            _source_fp(sf_dir, "embeddings"),
        ),
        lambda: selection_with_deletes_df(spark, sf_dir)
        .filter(F.col("decision") == "selected")
        .select("doc_id")
        .localCheckpoint(eager=True),
    )


@register(
    "incremental_manifest_with_deletes", oracle=_sql_manifest_with_deletes
)
def incremental_manifest_with_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Manifest maintenance under the day's tombstones + re-edits.

    Deletes are where the XOR digest earns its keep: removing a member is
    the SAME operation as adding one (hash and XOR again), so a tombstoned
    doc leaves the digest without its shard being re-listed — the md5-of-
    sorted-ids checksum would re-aggregate every surviving member. Three
    delta legs: adds priced at POST-edit tokens (an edited doc's new text),
    removes priced at the STAGED tokens (exactly the terms the standing
    digest holds — subtracting anything else would corrupt the sum), and a
    token-only adjustment for docs selected on both days whose text was
    re-edited (membership unchanged → no xor term, count unchanged, token
    delta only).
    """
    from ting_data_etl_spark.operators.dedup import _incr_mh_readded
    from ting_data_etl_spark.operators.sampling import budget_ledger_df

    post = _selected_post_ids_with_deletes(spark, sf_dir)
    standing_sel = _standing_selection(spark, sf_dir)
    staged_led = _standing_ledger(spark, sf_dir).select("doc_id", "n_toks")
    d = load_table(spark, sf_dir, "documents")
    edited = d.filter(_incr_mh_readded() & ~_batch_pred()).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" edited "), F.col("doc_id").cast("string")
        ).alias("text"),
    )
    edited_led = (
        budget_ledger_df(edited)
        .select("doc_id", "n_toks")
        .localCheckpoint(eager=True)  # adds prices + the retoken leg
    )
    # post-corpus prices: staged rows for unedited docs, fresh for edits
    post_prices = staged_led.join(
        edited_led, "doc_id", "left_anti"
    ).unionByName(edited_led)
    adds = post.join(standing_sel, "doc_id", "left_anti").join(
        post_prices, "doc_id"
    )
    removes = standing_sel.join(post, "doc_id", "left_anti").join(
        staged_led, "doc_id"
    )
    retoken = (
        post.join(standing_sel, "doc_id")  # selected on both days
        .join(edited_led.withColumnRenamed("n_toks", "new_toks"), "doc_id")
        .join(staged_led, "doc_id")
        .select(
            "doc_id", (F.col("new_toks") - F.col("n_toks")).alias("d_toks")
        )
    )
    return _apply_manifest_delta(
        _standing_manifest_digest(spark, sf_dir), adds, removes, retoken
    )


def _standing_shard_files(spark: SparkSession, sf_dir: str) -> str:
    """Stage path of the PHYSICAL standing shard files: the standing
    selection's (doc_id, n_toks) rows written partitioned by the manifest
    hash shard — the data files a training run mounts, in the layout the
    copy-on-write refresh rewrites per shard. One task per shard
    (repartition on the partition key) keeps the layout O(shards) files,
    the fanout sink's clustered contract."""
    from ting_data_etl_spark.operators.dedup import _publish_stage

    # N_SHARDS folded for the same reason as the digest stage: the shard
    # directories ARE the staged layout.
    out = _incr_stage_path(
        sf_dir, f"shardfiles_{_n_shards()}", ("documents", "embeddings")
    )
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        rows = (
            _standing_selection(spark, sf_dir)
            .join(
                _standing_ledger(spark, sf_dir).select("doc_id", "n_toks"),
                "doc_id",
            )
            .select(
                "doc_id",
                "n_toks",
                _manifest_shard_col(F.col("doc_id")).alias("shard"),
            )
            .repartition(F.col("shard"))
        )
        _publish_stage(rows, out, partition_by=("shard",))
    return out


def _cow_delta_parts(
    spark: SparkSession, sf_dir: str
) -> tuple[str, DataFrame, DataFrame, DataFrame, list[int]]:
    """(staged_dir, standing, adds, removes, touched) for the arrivals
    day's copy-on-write refresh — ONE derivation shared by the sink and
    the snapshot catalog (their documented agreement rides on identical
    deltas and an identical touched set). The touched-set collect is
    bounded by N_SHARDS."""
    staged_dir = _standing_shard_files(spark, sf_dir)
    standing = spark.read.parquet(staged_dir)
    d_adds, d_removes = _selection_delta(spark, sf_dir)
    adds = (
        d_adds.select(
            "doc_id",
            "n_toks",
            _manifest_shard_col(F.col("doc_id")).alias("shard"),
        )
        .localCheckpoint(eager=True)  # touched-set collect + rewrite
    )
    removes = (
        d_removes.select(
            "doc_id",
            "n_toks",  # the staged price the digest holds (catalog fold)
            _manifest_shard_col(F.col("doc_id")).alias("shard"),
        )
        .localCheckpoint(eager=True)
    )
    touched = sorted(
        r["shard"]
        for r in adds.select("shard")
        .unionByName(removes.select("shard"))
        .distinct()
        .collect()
    )
    return staged_dir, standing, adds, removes, touched


def _cow_rewritten(
    standing: DataFrame,
    adds: DataFrame,
    removes: DataFrame,
    touched: list[int],
) -> DataFrame:
    """The touched shards' post-delta rows, one task per shard — the rows a
    COW refresh physically rewrites (standing minus removes plus adds)."""
    return (
        standing.filter(F.col("shard").isin(touched))  # partition-pruned
        .select("doc_id", "n_toks")
        .join(removes.select("doc_id"), "doc_id", "left_anti")
        .withColumn("shard", _manifest_shard_col(F.col("doc_id")))
        .unionByName(adds)
        .repartition(F.col("shard"))  # one task per shard
    )


def _layout_digest_rollup(back: DataFrame) -> DataFrame:
    """Per-shard digest with the shard taken from the FILE LAYOUT (not
    re-hashed) — the read-back verification both the COW sink and the
    snapshot time-travel return: a row written to the wrong shard
    directory flips that shard's digest against the oracle's id-derived
    sharding."""
    return (
        back.select(
            "shard",
            F.col("n_toks").cast("long").alias("n_toks"),
            _manifest_hash_col(F.col("doc_id")).alias("dh"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.expr("bit_xor(dh)").alias("ids_xor"),
        )
    )


@register("incremental_shard_sink_delta", oracle=_sql_manifest_update)
def incremental_shard_sink_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write daily shard refresh: rewrite ONLY delta-touched shards.

    The physical half of :func:`incremental_manifest_update` — the
    lakehouse snapshot move: the day's adds/removes touch a subset of
    shards; those shards are rewritten (standing rows minus removes plus
    adds) into a new snapshot directory while every untouched shard is
    REFERENCED from the standing stage verbatim (zero bytes rewritten —
    at ``capacity.manifest_shards`` production counts the touched
    fraction, not the corpus, is the day's write bill). The returned
    relation is the digest recomputed FROM THE FILES the snapshot
    references — with the shard taken from the FILE LAYOUT, not re-hashed
    — so the from-scratch oracle hash-checks selection delta → shard
    routing → partitioned rewrite → read-back end to end: a row dropped,
    duplicated, or written to the wrong shard directory flips that
    shard's XOR digest against the oracle's id-derived sharding.
    """
    import tempfile

    from ting_data_etl_spark.operators.dedup import new_run_dir

    staged_dir, standing, adds, removes, touched = _cow_delta_parts(
        spark, sf_dir
    )
    untouched = standing.filter(~F.col("shard").isin(touched)).select(
        "doc_id", "n_toks", F.col("shard").cast("int").alias("shard")
    )
    if not touched:
        back = untouched
    else:
        run = new_run_dir(os.path.join(tempfile.gettempdir(), "ting_shard_cow"))
        _cow_rewritten(standing, adds, removes, touched).write.partitionBy(
            "shard"
        ).parquet(run)
        back = (
            # explicit schema: a pure-removal day can empty EVERY touched
            # shard, leaving a part-file-less run dir that schema
            # inference cannot read (r12 review)
            spark.read.schema("doc_id long, n_toks long, shard int")
            .parquet(run)
            .select("doc_id", "n_toks", F.col("shard").cast("int").alias("shard"))
            .unionByName(untouched)
        )
    return _layout_digest_rollup(back)


# --- snapshot catalog: the metadata layer over the COW sink (VERDICT r12 #2) --
def _snapshot_day1_files(spark: SparkSession, sf_dir: str, parts=None) -> str:
    """Stage path of day 1's REWRITTEN shard dirs — the durable half of the
    COW refresh (``incremental_shard_sink_delta`` writes a per-run tempdir
    because its job is the read-back verification; a snapshot the catalog
    references must outlive the run). Same rewrite relation, published
    once under the staged-artifact ritual, partitioned by shard. *parts*
    is an already-derived ``_cow_delta_parts`` tuple — the catalog passes
    its own so a cold build derives the delta ONCE, not twice."""
    from ting_data_etl_spark.operators.dedup import _publish_stage

    out = _incr_stage_path(
        sf_dir, f"snap1files_{_n_shards()}", ("documents", "embeddings")
    )
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        _, standing, adds, removes, touched = (
            parts if parts is not None else _cow_delta_parts(spark, sf_dir)
        )
        _publish_stage(
            _cow_rewritten(standing, adds, removes, touched),
            out,
            partition_by=("shard",),
        )
    return out


def _snapshot_catalog(spark: SparkSession, sf_dir: str) -> str:
    """Stage path of the snapshot CATALOG: one row per (snapshot_id, shard)
    with the shard's FILE REFERENCE and its digest row — the metadata
    layer that makes the COW sink a lakehouse (VERDICT r12 #2: without it
    an auditor can verify today but cannot reconstruct day N-1).

    Day 0 references every shard in the standing layout; day 1 references
    the rewritten dirs for delta-touched shards and the DAY-0 FILES
    VERBATIM for untouched ones (the copy-on-write sharing the catalog
    records — which is also its GC rule: a file is reclaimable exactly
    when no retained snapshot row references it, see
    :func:`snapshot_gc_candidates`). Digest rows are the maintained
    manifests (day 0: the staged standing digest; day 1: the O(delta) XOR
    fold), so a catalog read gives an auditor the expected digest next to
    the file list — reconstruction + rollup either matches or the
    snapshot is torn. Production appends one day-partition per refresh;
    the fixture's two days model the general forward fold.
    """
    from ting_data_etl_spark.operators.dedup import _publish_stage

    out = _incr_stage_path(
        sf_dir, f"snapcat_{_n_shards()}", ("documents", "embeddings")
    )
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        parts = _cow_delta_parts(spark, sf_dir)
        staged_dir, standing, adds, removes, touched = parts
        day1_dir = _snapshot_day1_files(spark, sf_dir, parts)
        d0 = _standing_manifest_digest(spark, sf_dir)
        ref0 = F.concat(
            F.lit(staged_dir + "/shard="), F.col("shard").cast("string")
        )
        cat0 = d0.select(
            F.lit(0).alias("snapshot_id"),
            F.col("shard").cast("int").alias("shard"),
            ref0.alias("file_ref"),
            "n_docs",
            "total_tokens",
            "ids_xor",
        )
        cat1 = _fold_catalog_day(cat0, 1, day1_dir, adds, removes, touched)
        _publish_stage(cat0.unionByName(cat1), out)
    return out


def _fold_catalog_day(
    prev_rows: DataFrame,
    day_id: int,
    day_dir: str,
    adds: DataFrame,
    removes: DataFrame,
    touched: list[int],
) -> DataFrame:
    """Append ONE day to a snapshot catalog: the generic forward fold.

    Given the PREVIOUS day's catalog rows (shard, file_ref, digest), the
    day's priced (adds, removes) delta, the directory its COW rewrite
    landed in, and the touched-shard list, produce the new day's rows:
    digest = the O(delta) XOR fold (:func:`_apply_manifest_delta`), ref =
    the day's rewritten dir for touched shards and the PREVIOUS day's ref
    verbatim for untouched ones (the copy-on-write sharing the catalog
    records). Production appends one day-partition per refresh by calling
    exactly this — :func:`_snapshot_catalog` is day 0 + one fold, and the
    multi-day pytest (``tests/test_incremental.py``) drives three folds
    and verifies every day still reconstructs (VERDICT r13 #2).

    A shard can only change digest via a delta leg, and every delta row's
    shard is in *touched* by construction — so an untouched shard always
    has a previous ref to inherit (shards newly-populated by adds are
    touched and take the day dir)."""
    digest = _apply_manifest_delta(
        prev_rows.select("shard", "n_docs", "total_tokens", "ids_xor"),
        adds,
        removes,
    )
    prev_refs = prev_rows.select(
        "shard", F.col("file_ref").alias("__prev_ref")
    )
    ref_new = F.concat(
        F.lit(day_dir + "/shard="), F.col("shard").cast("string")
    )
    return (
        digest.join(prev_refs, "shard", "left")
        .select(
            F.lit(day_id).alias("snapshot_id"),
            F.col("shard").cast("int").alias("shard"),
            F.when(F.col("shard").isin(touched), ref_new)
            .otherwise(F.col("__prev_ref"))
            .alias("file_ref"),
            "n_docs",
            "total_tokens",
            "ids_xor",
        )
    )


def _catalog_snapshot_read(
    spark: SparkSession, cat: DataFrame, snapshot_id: int
) -> DataFrame:
    """Reconstruct snapshot *snapshot_id* purely from catalog *cat*: open
    exactly the files its rows reference (shard parsed from the file
    LAYOUT, never re-derived) and return the digest rollup of what the
    files actually contain. The file-list collect is bounded by the
    catalog's shard count (metadata rows, never data). Raises loudly when
    the snapshot is absent from the catalog or its files are gone — the
    behavior a RETIRED snapshot must exhibit
    (:func:`incremental_snapshot_retire`)."""
    refs = sorted(
        r["file_ref"]
        for r in cat.filter(F.col("snapshot_id") == snapshot_id)
        .select("file_ref")
        .distinct()
        .collect()
    )
    if not refs:
        raise ValueError(f"snapshot {snapshot_id} not in catalog")
    missing = [p for p in refs if not os.path.isdir(p)]
    if missing:
        raise FileNotFoundError(
            f"snapshot {snapshot_id} references {len(missing)} reclaimed "
            f"dir(s) (first: {missing[0]}) — retired snapshots do not "
            "reconstruct"
        )
    back = (
        spark.read.schema("doc_id long, n_toks long")
        .parquet(*refs)
        .withColumn(
            "shard",
            F.regexp_extract(F.input_file_name(), r"shard=(\d+)", 1).cast(
                "int"
            ),
        )
    )
    return _layout_digest_rollup(back)


def snapshot_gc_candidates(cat: DataFrame, retained: list[int]) -> DataFrame:
    """File references no RETAINED snapshot uses — the catalog's
    reference-counted GC rule: retiring snapshot N reclaims exactly the
    shard versions only N referenced (a touched shard's pre-rewrite dir),
    never a dir a live snapshot still shares."""
    live = (
        cat.filter(F.col("snapshot_id").isin(retained))
        .select("file_ref")
        .distinct()
    )
    return (
        cat.select("file_ref").distinct().join(live, "file_ref", "left_anti")
    )


def _sql_standing_digest() -> str:
    """From-scratch day-0 digest: the full selection statement over the
    PRE-batch standing universe (the shared ``_sql_selection_over`` with a
    plain standing docs2), priced and rolled up like every digest twin."""
    from ting_data_etl_spark.operators.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_REM,
    )
    from ting_data_etl_spark.plans.oracles import SQL_TOKEN_LIST

    standing = f"doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_REM}"
    vstanding = f"vec_id % {INCR_BATCH_MOD} <> {INCR_BATCH_REM}"
    docs2 = f"""docs2 AS (
  SELECT doc_id, source, text FROM documents WHERE {standing}
),
"""
    sel = _sql_selection_over(docs2, vstanding)
    return f"""
WITH sel AS (
  SELECT doc_id FROM ({sel}) f WHERE decision = 'selected'
),
docs2 AS (
  SELECT doc_id, text FROM documents WHERE {standing}
),
tok AS (
  SELECT d.doc_id, len({SQL_TOKEN_LIST}) AS n_toks
  FROM docs2 d JOIN sel USING (doc_id)
)
{_sql_digest_rollup()}
"""


@register("incremental_snapshot_timetravel", oracle=_sql_standing_digest)
def incremental_snapshot_timetravel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TIME-TRAVEL read: reconstruct a NON-LATEST snapshot purely from the
    catalog and verify it — the capability the catalog exists to provide.

    Reads the catalog's day-0 rows, opens EXACTLY the files they
    reference (one scan over the ≤ N_SHARDS referenced dirs; the shard id
    is parsed from the file LAYOUT, never re-derived from the data), and
    returns the digest rollup of what the files actually contain. The
    oracle recomputes day 0's digest from scratch (full selection over
    the pre-batch standing universe), so a catalog pointing at the wrong
    file version, a swept-too-early dir, or a torn shard all
    hash-mismatch — day N-1 stays as verifiable as today. The file-list
    collect is bounded by N_SHARDS (catalog rows, never data).
    """
    cat = spark.read.parquet(_snapshot_catalog(spark, sf_dir))
    return _catalog_snapshot_read(spark, cat, 0)


# --- snapshot RETIRE: execute the GC rule as a verified operation -------------
# Day 2 of the retire store: a deterministic retention-policy delta over
# the day-1 (post-merge) corpus — remove every day-1 member in shard
# s ≡ RETIRE2_SHARD_REM (mod RETIRE2_SHARD_MOD) with
# doc_id ≡ RETIRE2_DOC_REM (mod RETIRE2_DOC_MOD), EXCEPT each shard's
# minimum doc_id. Removing by SHARD keeps most shards untouched on day 2
# (they inherit day-1 refs verbatim — the COW sharing the multi-step
# retire must respect); the shard-min exclusion makes the touched shards
# NON-empty by construction (partial rewrites, so day-2 dirs exist and
# day-1 dirs for those shards become exclusive) for ANY corpus — the r15
# testdata regeneration produced an sf0.01 corpus whose shard 7 members
# were all ≡ 0 (mod 3), which emptied the shard and tripped the
# fail-loud build guard; a corpus-tuned MOD/REM would just defer the
# same failure to the next regeneration. All predicates are
# engine-portable (md5 shard + integer mod + per-shard MIN), so the
# survivor digest keeps an exact DuckDB twin.
RETIRE2_SHARD_MOD = 5
RETIRE2_SHARD_REM = 2
RETIRE2_DOC_MOD = 3
RETIRE2_DOC_REM = 0
#: Days the retire store holds (day 0 = standing, day 1 = arrivals merge,
#: day 2 = the retention-policy delta). The retire verb may retire any
#: prefix of days; the latest is never retirable.
RETIRE_STORE_DAYS = 3


def _snapshot_store(spark: SparkSession, sf_dir: str) -> str:
    """Stage path of the snapshot STORE the retire verb owns: a physical
    THREE-day COW layout (``day0/`` = the standing selection's shard
    files, ``day1/`` = the arrivals-delta rewrites, ``day2/`` = the
    retention-policy rewrites — r15, VERDICT r14 #2) plus its
    ``catalog/`` whose file_refs point INSIDE the store.

    A registered query that PHYSICALLY DELETES files needs a layout it
    owns outright — the shared standing stages serve every other
    incremental query, so retiring against them would be a cross-query
    side effect. The store is the same relations (one extra partitioned
    write of the standing rows), published once under the all-or-nothing
    tmp-dir + rename ritual; at production scale the store IS the
    deployment's snapshot root and no copy exists — the fixture copy only
    isolates the deletion for repeatable verification.
    """
    import shutil

    # stage name folds the retention-predicate constants: the predicate is
    # part of the store's CONTENT (day 2), so retuning it — or the r15
    # shard-min exclusion itself ("k" = keep-min) — must rotate the stage
    # instead of serving a store built under the old rule
    # separator-joined (ADVICE r15): unseparated concatenation collides
    # distinct tunings — (5,2,30,0) and (5,23,0,0) both read "k52300",
    # which would serve a stale store after exactly the retune the token
    # exists to catch
    retire_tok = (
        f"k{RETIRE2_SHARD_MOD}_{RETIRE2_SHARD_REM}"
        f"_{RETIRE2_DOC_MOD}_{RETIRE2_DOC_REM}"
    )
    out = _incr_stage_path(
        sf_dir,
        f"snapstore_d3{retire_tok}_{_n_shards()}",
        ("documents", "embeddings"),
    )
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        parts = _cow_delta_parts(spark, sf_dir)
        _, standing, adds, removes, touched = parts
        tmp = f"{out}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp, exist_ok=True)
        day0 = os.path.join(tmp, "day0")
        day1 = os.path.join(tmp, "day1")
        day2 = os.path.join(tmp, "day2")
        standing.repartition(F.col("shard")).write.partitionBy(
            "shard"
        ).parquet(day0)
        _cow_rewritten(standing, adds, removes, touched).write.partitionBy(
            "shard"
        ).parquet(day1)
        # day 2: the retention delta over the FULL day-1 membership
        day1_rows = (
            standing.select("doc_id", "n_toks")
            .join(removes.select("doc_id"), "doc_id", "left_anti")
            .unionByName(adds.select("doc_id", "n_toks"))
            .withColumn("shard", _manifest_shard_col(F.col("doc_id")))
            .localCheckpoint(eager=True)  # rewrite + delta + touched set
        )
        # per-shard min over the FULL day-1 membership (bounded: N_SHARDS
        # rows); excluding it from removal keeps every touched shard
        # non-empty for any corpus — see the predicate comment above
        shard_mins = day1_rows.groupBy("shard").agg(
            F.min("doc_id").alias("shard_min")
        )
        rem2 = (
            day1_rows.join(shard_mins, "shard")
            .filter(
                (F.col("shard") % RETIRE2_SHARD_MOD == RETIRE2_SHARD_REM)
                & (F.pmod(F.col("doc_id"), RETIRE2_DOC_MOD) == RETIRE2_DOC_REM)
                & (F.col("doc_id") > F.col("shard_min"))
            )
            .select("doc_id", "n_toks", "shard")
        )
        adds2 = spark.createDataFrame(
            [], "doc_id long, n_toks long, shard int"
        )
        touched2 = sorted(  # bounded: ≤ N_SHARDS scalars
            r["shard"] for r in rem2.select("shard").distinct().collect()
        )
        _cow_rewritten(day1_rows, adds2, rem2, touched2).write.partitionBy(
            "shard"
        ).parquet(day2)
        # the shard-min exclusion makes an emptied shard structurally
        # impossible (every touched shard keeps its min doc_id), but an
        # emptied shard would publish a catalog ref to a dir the
        # partitioned write never created, and healthy-store reads would
        # crash later with a misleading 'retired' error — keep the build
        # guard as a fail-loud invariant check (r15 review).
        empty2 = [
            s
            for s in touched2
            if not os.path.isdir(os.path.join(day2, f"shard={s}"))
        ]
        if empty2:
            raise RuntimeError(
                f"day-2 retention delta emptied shard(s) {empty2[:5]} — "
                "the store would publish dangling refs; the shard-min "
                "exclusion should make this unreachable"
            )
        # catalog refs point at the PUBLISHED location (post-rename)
        d0 = _standing_manifest_digest(spark, sf_dir)
        cat0 = d0.select(
            F.lit(0).alias("snapshot_id"),
            F.col("shard").cast("int").alias("shard"),
            F.concat(
                F.lit(os.path.join(out, "day0") + "/shard="),
                F.col("shard").cast("string"),
            ).alias("file_ref"),
            "n_docs",
            "total_tokens",
            "ids_xor",
        )
        cat1 = _fold_catalog_day(
            cat0, 1, os.path.join(out, "day1"), adds, removes, touched
        ).localCheckpoint(eager=True)  # consumed by the day-2 fold + union
        cat2 = _fold_catalog_day(
            cat1, 2, os.path.join(out, "day2"), adds2, rem2, touched2
        )
        cat0.unionByName(cat1).unionByName(cat2).coalesce(1).write.parquet(
            os.path.join(tmp, "catalog")
        )
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        try:
            os.rename(tmp, out)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(os.path.join(out, "_SUCCESS")):
                raise
        # cold-build path only (the warm read-back must never delete —
        # the ADVICE r14 similarity-rebuild rule): sweep SUPERSEDED store
        # generations. The store family is not in the generation sweeper's
        # prefix list, so the r15 layout rename (snapstore_ →
        # snapstore_d3_) and every testdata-regeneration fingerprint would
        # otherwise leak whole two/three-day layouts forever (r15 review).
        root = os.path.dirname(out)
        mine = os.path.basename(out)
        for d in os.listdir(root):
            if (
                d.startswith("incrsel_snapstore")
                and d != mine
                and ".tmp." not in d  # a concurrent publisher's scratch
            ):
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return out


def _store_catalog(spark: SparkSession, store: str) -> DataFrame:
    """The snapshot store's FULL catalog: the base ``catalog/`` written at
    store build plus every published ``catalog_g*`` generation (appended by
    :func:`compact_snapshot_store` — r15). Generations are atomic
    (tmp-dir + rename, ``_SUCCESS``-gated), so a reader sees the base
    catalog alone or the base plus a complete generation, never a torn
    append — the reason compaction extends the catalog via a sibling dir
    instead of appending part files into the published base."""
    paths = [os.path.join(store, "catalog")]
    for d in sorted(os.listdir(store)):
        p = os.path.join(store, d)
        if d.startswith("catalog_g") and os.path.exists(
            os.path.join(p, "_SUCCESS")
        ):
            paths.append(p)
    return spark.read.parquet(*paths)


def retire_snapshot_day(
    spark: SparkSession, sf_dir: str, day: int
) -> list[str]:
    """Retire ONE snapshot day from the store; returns the refs THIS step
    newly reclaimed (r15, VERDICT r14 #2: retire generalized from the
    fixed day-0 form to an arbitrary retained set).

    Candidates are computed by set difference of the reference-count rule
    before/after the retained set shrinks — refs exclusive to
    {already retired} ∪ {day} minus refs already reclaimed — so chained
    retires stay equality-checkable step by step. Path-containment guard,
    idempotent per-day ``_RETIRED_{day}`` marker, and fail-loud post-check
    carry over from the r14 single-day form. The LATEST day is never
    retirable (there must always be a surviving snapshot)."""
    import json as _json
    import shutil

    store = _snapshot_store(spark, sf_dir)
    cat = _store_catalog(spark, store)
    days = sorted(
        r["snapshot_id"]
        for r in cat.select("snapshot_id").distinct().collect()
    )
    if day not in days:
        raise ValueError(f"snapshot {day} not in catalog (has {days})")
    if day == max(days):
        raise ValueError(
            f"refusing to retire snapshot {day}: it is the latest — "
            "a store must keep a surviving snapshot"
        )
    marker = os.path.join(store, f"_RETIRED_{day}")
    if os.path.exists(marker):
        with open(marker) as f:
            return _json.load(f)["reclaimed"]
    already = {
        d
        for d in days
        if os.path.exists(os.path.join(store, f"_RETIRED_{d}"))
    }
    ret_before = [d for d in days if d not in already]
    ret_after = [d for d in days if d not in already and d != day]
    gone = {
        r["file_ref"]
        for r in snapshot_gc_candidates(cat, retained=ret_before).collect()
    }
    cands = sorted(
        r["file_ref"]
        for r in snapshot_gc_candidates(cat, retained=ret_after).collect()
        if r["file_ref"] not in gone
    )
    root = os.path.realpath(store) + os.sep
    for ref in cands:
        if not os.path.realpath(ref).startswith(root):
            raise RuntimeError(
                f"GC candidate {ref!r} escapes the snapshot store — "
                "refusing to delete outside the owned layout"
            )
        # ignore_errors: a crash between deletes and the marker write
        # re-enters here with some dirs already gone — idempotent
        shutil.rmtree(ref, ignore_errors=True)
    left = [p for p in cands if os.path.exists(p)]
    if left:
        raise RuntimeError(f"GC failed to reclaim {left[:3]}")
    tmp_marker = f"{marker}.tmp.{os.getpid()}"
    with open(tmp_marker, "w") as f:
        _json.dump({"retired": day, "reclaimed": cands}, f)
    os.replace(tmp_marker, marker)
    return cands


def _sql_retire_survivor() -> str:
    """From-scratch digest of the retire store's LATEST day (day 2): the
    post-merge selection minus the retention-policy removals — the
    surviving snapshot the chained retire must still read back exactly."""
    from ting_data_etl_spark.operators.curation import _sql_final_selection
    from ting_data_etl_spark.plans.oracles import SQL_TOKEN_LIST

    shard = _sql_manifest_shard("d.doc_id")
    return f"""
WITH sel AS (
  SELECT doc_id FROM ({_sql_final_selection()}) f WHERE decision = 'selected'
),
day1 AS (
  SELECT d.doc_id, len({SQL_TOKEN_LIST}) AS n_toks,
         ({shard}) AS sh,
         MIN(d.doc_id) OVER (PARTITION BY ({shard})) AS shard_min
  FROM documents d JOIN sel USING (doc_id)
),
tok AS (
  SELECT doc_id, n_toks FROM day1
  WHERE NOT (sh % {RETIRE2_SHARD_MOD} = {RETIRE2_SHARD_REM}
             AND doc_id % {RETIRE2_DOC_MOD} = {RETIRE2_DOC_REM}
             AND doc_id > shard_min)
)
{_sql_digest_rollup()}
"""


@register("incremental_snapshot_retire", oracle=_sql_retire_survivor)
def incremental_snapshot_retire(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RETIRE snapshots day-by-day until only the latest survives, and
    physically reclaim exactly each step's exclusive files — the
    reference-count rule :func:`snapshot_gc_candidates` states, executed
    as a verified operation (VERDICT r13 #1 gave it the day-0 verb;
    VERDICT r14 #2 generalizes it: the store now holds THREE days and
    retire chains day 0 then day 1 through the day-generic
    :func:`retire_snapshot_day`).

    Each step, pinned by the pytest: (1) candidates = refs newly made
    exclusive by shrinking the retained set (a touched shard's
    pre-rewrite dir; a dir only already-retired days shared); (2) delete
    exactly those inside the store (path-containment guard; per-day
    ``_RETIRED_{d}`` marker makes warm calls no-ops); (3) a time-travel
    read of every retired day now FAILS loudly while every surviving day
    still reconstructs. Returns the LAST surviving snapshot's digest read
    from the post-GC files; the oracle recomputes it from scratch (the
    full post-merge selection minus the retention-policy removals), so a
    GC step that reclaimed a dir the survivor still shares loses those
    shards' rows and hash-mismatches. Matches the reference's frozen-
    baseline discipline (``result_v1_confirmed.md:10-15`` — old versions
    are retired deliberately, never silently).
    """
    for day in range(RETIRE_STORE_DAYS - 1):
        retire_snapshot_day(spark, sf_dir, day)
    store = _snapshot_store(spark, sf_dir)
    cat = _store_catalog(spark, store)
    # read back the LATEST surviving snapshot, not a hardcoded day (r15
    # review): after compact-then-retire(2) the survivor is the compacted
    # generation — same digest by the compaction contract, so the oracle
    # is unchanged, while a hardcoded day-2 read would raise forever
    days = sorted(
        r["snapshot_id"]
        for r in cat.select("snapshot_id").distinct().collect()
    )
    retired = {
        d
        for d in days
        if os.path.exists(os.path.join(store, f"_RETIRED_{d}"))
    }
    return _catalog_snapshot_read(spark, cat, max(set(days) - retired))


# --- snapshot COMPACT: consolidate COW fragmentation, content-preserving ------
#: The day the compaction consolidates (always the newest store day) and
#: the snapshot id the compacted generation is appended under. Fixed
#: constants keep the registered query deterministic for the oracle.
COMPACT_SOURCE_DAY = RETIRE_STORE_DAYS - 1
COMPACT_SNAPSHOT_ID = RETIRE_STORE_DAYS


def compact_snapshot_store(spark: SparkSession, sf_dir: str) -> str:
    """Consolidate the latest snapshot's fragmented COW file set into ONE
    generation directory and append a catalog generation pointing at it
    (r15 — the lifecycle verb between refresh and retire).

    After N COW refreshes the latest snapshot references one dir per
    (touched shard, day) — at production cadence that is thousands of
    small files per shard lineage, the small-file pathology every table
    format compacts away (Iceberg's rewrite-data-files; the same move
    here, on the catalog this store owns). Steps, each crash-safe:

    1. read the latest day's membership from EXACTLY its referenced files
       (the same layout read time travel uses — compaction can never see
       rows the snapshot does not own);
    2. rewrite it ``partitionBy(shard)`` into ``compact{day}/`` via the
       atomic tmp-dir + rename publish;
    3. publish a ``catalog_g{day}/`` generation: the latest day's catalog
       rows with ``snapshot_id`` = :data:`COMPACT_SNAPSHOT_ID` and every
       ``file_ref`` remapped into the compact dir — digests CARRY OVER
       unchanged (compaction is layout, never content), and a loud check
       requires the written shard dirs to match the non-empty catalog
       shards exactly;
    4. write the ``_COMPACTED_{day}`` marker (warm calls are no-ops).

    The compacted snapshot is now the store's LATEST, so the day-generic
    :func:`retire_snapshot_day` can retire the fragmented source day and
    reclaim exactly its exclusive dirs — compact-then-retire is the full
    defragmentation story, pinned by the pytest. Returns the compact
    data dir path."""
    import json as _json

    from ting_data_etl_spark.operators.dedup import _publish_stage

    store = _snapshot_store(spark, sf_dir)
    src = COMPACT_SOURCE_DAY
    compact_dir = os.path.join(store, f"compact{src}")
    gen_dir = os.path.join(store, f"catalog_g{src}")
    marker = os.path.join(store, f"_COMPACTED_{src}")

    def _finish() -> str:
        tmp_marker = f"{marker}.tmp.{os.getpid()}"
        with open(tmp_marker, "w") as f:
            _json.dump(
                {"compacted": src, "snapshot_id": COMPACT_SNAPSHOT_ID}, f
            )
        os.replace(tmp_marker, marker)
        return compact_dir

    if os.path.exists(marker):
        return compact_dir
    if os.path.exists(
        os.path.join(compact_dir, "_SUCCESS")
    ) and os.path.exists(os.path.join(gen_dir, "_SUCCESS")):
        # crash landed between the generation publish and the marker
        # write: the compacted artifact is already complete, and the
        # source day may legally have been retired in the meantime (the
        # catalog exposed snapshot 3 the moment the generation published)
        # — re-checking its refs here would wedge compaction forever
        # (r15 review). Just finish.
        return _finish()
    cat = _store_catalog(spark, store)
    src_rows = cat.filter(F.col("snapshot_id") == src)
    refs = sorted(
        r["file_ref"]
        for r in src_rows.select("file_ref").distinct().collect()
    )  # bounded: <= shard count (metadata rows, never data)
    if not refs:
        raise ValueError(f"snapshot {src} not in catalog — nothing to compact")
    missing = [p for p in refs if not os.path.isdir(p)]
    if missing:
        raise FileNotFoundError(
            f"snapshot {src} references {len(missing)} reclaimed dir(s) "
            f"(first: {missing[0]}) — a retired snapshot cannot be compacted"
        )
    if not os.path.exists(os.path.join(compact_dir, "_SUCCESS")):
        back = (
            spark.read.schema("doc_id long, n_toks long")
            .parquet(*refs)
            .withColumn(
                "shard",
                F.regexp_extract(
                    F.input_file_name(), r"shard=(\d+)", 1
                ).cast("int"),
            )
        )
        # repartition on the shard key: without it each input task writes
        # its own part file into every shard dir it touches — the output
        # would carry as many files per shard as the source had, which is
        # exactly the fragmentation compaction exists to remove. One
        # O(snapshot) shuffle, one file per shard (pytest-pinned).
        _publish_stage(
            back.repartition(F.col("shard")),
            compact_dir,
            partition_by=("shard",),
        )
    written = {
        int(d.split("=", 1)[1])
        for d in os.listdir(compact_dir)
        if d.startswith("shard=")
    }
    expected = {
        int(r["shard"])
        for r in src_rows.filter(F.col("n_docs") > 0)
        .select("shard")
        .collect()
    }
    if written != expected:
        raise RuntimeError(
            "compaction wrote a different shard set than the catalog "
            f"holds: written-only={sorted(written - expected)[:3]} "
            f"catalog-only={sorted(expected - written)[:3]}"
        )
    if not os.path.exists(os.path.join(gen_dir, "_SUCCESS")):
        gen_rows = src_rows.filter(F.col("n_docs") > 0).select(
            F.lit(COMPACT_SNAPSHOT_ID).alias("snapshot_id"),
            "shard",
            F.concat(
                F.lit(compact_dir + "/shard="),
                F.col("shard").cast("string"),
            ).alias("file_ref"),
            "n_docs",
            "total_tokens",
            "ids_xor",
        )
        _publish_stage(gen_rows.coalesce(1), gen_dir)
    return _finish()


@register("incremental_snapshot_compact", oracle=_sql_retire_survivor)
def incremental_snapshot_compact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COMPACT the latest snapshot and read the result back from the
    consolidated files (see :func:`compact_snapshot_store`).

    Returns the compacted snapshot's digest reconstructed PURELY from the
    compact generation's files — the same layout read time travel uses —
    so the oracle (the from-scratch latest-day statement, shared with
    ``incremental_snapshot_retire``: compaction must not change content)
    hash-mismatches if the rewrite lost, duplicated, or mis-sharded a
    single row. The pytest additionally pins the physical layout claims:
    every compacted ref lives in ONE generation dir, the fragmented
    source day's dirs become retirable, and retire-after-compact
    reclaims exactly them while the compacted snapshot still reads.
    """
    compact_snapshot_store(spark, sf_dir)
    store = _snapshot_store(spark, sf_dir)
    cat = _store_catalog(spark, store)
    return _catalog_snapshot_read(spark, cat, COMPACT_SNAPSHOT_ID)
