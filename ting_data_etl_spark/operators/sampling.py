"""Deterministic sampling / source mixing / sharding for training pipelines.

No reference-side counterpart (SURVEY.md §7.4 extension family). These are
the corpus-assembly verbs between curation and training: reproducible
subsampling, per-source mixture weighting, train/val/test splitting, and
balanced shard assignment. All decisions derive from a *portable content
hash* of the key — ``md5`` first-8-hex mod 100 — rather than ``rand()``:

* reproducible across runs, cluster sizes, and partitionings (a re-run of
  the pipeline samples the SAME documents — the property training-data
  lineage audits require);
* pure map-side predicates: a sample/split/mixture is a filter the parquet
  scan absorbs, no shuffle, no state, no driver involvement;
* engine-portable, so every operator here is full-hash oracle-checked
  (DuckDB computes the identical md5 arithmetic).

At 100 TB the md5 hex round-trip costs more than ``xxhash64``; flip
``_bucket_expr`` to ``F.pmod(F.xxhash64(col), 100)`` for the same plan with
a JVM-native hash (driver then checks rows-only, as with the other
``*_fast`` variants).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ting_data_etl_spark.plans.oracles import SQL_TOKEN_LIST
from ting_data_etl_spark.registry import register
from ting_data_etl_spark.sources.tables import load_table

SAMPLE_PCT = 20  # sample_hash_mod keeps hash-bucket < 20 (a 20% sample)

#: Mixture rates per source (percent kept). Upweights low-numbered sources;
#: unlisted sources fall back to DEFAULT_MIX_PCT — the "everything else"
#: bucket every mixture config carries.
MIXTURE_PCT: dict[str, int] = {"src0": 100, "src1": 80, "src2": 60, "src3": 40}
DEFAULT_MIX_PCT = 25

SPLIT_TRAIN_PCT = 80  # [0, 80) train
SPLIT_VAL_PCT = 10  # [80, 90) val; [90, 100) test

N_SHARDS = 16


def _bucket(col, salt: str) -> F.Column:
    """Deterministic hash bucket in [0, 100) from a key column.

    ``salt`` names the DECISION (sample / mix / split): without it the
    three pipeline verbs share one bucket value per doc and their outcomes
    are fully correlated — a 20% sample would be a strict subset of the
    80% train split, leaving a sampled corpus with EMPTY val/test sets.
    Per-purpose salts make the decisions independent.
    """
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + "|"), col.cast("string"))), 1, 8),
            16,
            10,
        )
        .try_cast("long")
        % 100
    )


def _sql_bucket(expr: str, salt: str) -> str:
    return (
        f"(CAST('0x' || substr(md5('{salt}|' || CAST({expr} AS VARCHAR)), 1, 8) "
        "AS BIGINT) % 100)"
    )


# --- deterministic subsample -----------------------------------------------
_SQL_SAMPLE = f"""
SELECT doc_id, source
FROM documents
WHERE {_sql_bucket("doc_id", "sample")} < {SAMPLE_PCT}
"""


@register("sample_hash_mod", oracle=_SQL_SAMPLE)
def sample_hash_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 20% (= SAMPLE_PCT) subsample — a pure pushed-down filter.

    The plan is a parquet scan with one predicate: no shuffle, no RNG state,
    and the sampled set is stable under any repartitioning — unlike
    ``df.sample()``, whose output depends on partition layout.
    """
    d = load_table(spark, sf_dir, "documents")
    return d.filter(_bucket(F.col("doc_id"), "sample") < SAMPLE_PCT).select(
        "doc_id", "source"
    )


# --- per-source weighted mixture -------------------------------------------
def _mix_rate_expr() -> F.Column:
    items = iter(MIXTURE_PCT.items())
    first_src, first_pct = next(items)
    expr = F.when(F.col("source") == first_src, F.lit(first_pct))
    for s, pct in items:
        expr = expr.when(F.col("source") == s, F.lit(pct))
    return expr.otherwise(F.lit(DEFAULT_MIX_PCT))


def _sql_mix_rate() -> str:
    whens = " ".join(
        f"WHEN source = '{s}' THEN {p}" for s, p in MIXTURE_PCT.items()
    )
    return f"CASE {whens} ELSE {DEFAULT_MIX_PCT} END"


_SQL_MIXTURE = f"""
WITH kept AS (
  SELECT doc_id, source
  FROM documents
  WHERE {_sql_bucket("doc_id", "mix")} < {_sql_mix_rate()}
)
SELECT source, COUNT(*) AS n_docs
FROM kept GROUP BY source
"""


@register("corpus_weighted_mixture", oracle=_SQL_MIXTURE)
def corpus_weighted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixture: keep each doc iff hash < its source's rate.

    The declarative form of "2 epochs of Wikipedia, 0.25 of CommonCrawl":
    one scan, one map-side predicate comparing the doc's hash bucket to its
    source's configured rate, then a count rollup for the mixture report.
    Rates > 100 (true multi-epoch oversampling) extend this with a
    ``sequence + explode`` repeat — same deterministic-hash machinery.
    """
    d = load_table(spark, sf_dir, "documents")
    kept = d.filter(_bucket(F.col("doc_id"), "mix") < _mix_rate_expr())
    return kept.groupBy("source").agg(F.count("*").alias("n_docs"))


# --- train/val/test split --------------------------------------------------
_SQL_SPLIT = f"""
SELECT doc_id,
       CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         (100 * (row_number() OVER (
             PARTITION BY source
             ORDER BY md5('split|' || CAST(doc_id AS VARCHAR)), doc_id
           ) - 1)) // COUNT(*) OVER (PARTITION BY source) AS bucket
  FROM documents
)
"""


@register("stratified_split", oracle=_SQL_SPLIT)
def stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED 80/10/10 train/val/test: exact proportions per source.

    Docs are hash-ranked WITHIN their source and the rank range is cut
    80/10/10, so every source — however small — contributes to all three
    sets in proportion (a plain global hash split can leave a 30-doc
    source entirely inside train). The selection is still deterministic
    and seedless (md5 rank), but exact stratification trades away
    append-stability: adding docs to a source shifts its ranks, so split
    membership is stable per released corpus snapshot, not across appends.
    For the append-stable (unstratified) property use the hash-bucket
    predicate of :func:`sample_hash_mod` with per-purpose salts.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))),
        F.col("doc_id"),
    )
    n = Window.partitionBy("source")
    b = F.floor(
        (100 * (F.row_number().over(w) - 1)) / F.count("*").over(n)
    )
    return d.select(
        "doc_id",
        F.when(b < SPLIT_TRAIN_PCT, "train")
        .when(b < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )


# --- token-balanced shard assignment ---------------------------------------
_SQL_SHARDS = f"""
WITH tok AS (
  SELECT doc_id,
         len({SQL_TOKEN_LIST}) AS n_toks
  FROM documents
),
ranked AS (
  SELECT doc_id, n_toks,
         (row_number() OVER (ORDER BY n_toks DESC, doc_id) - 1) % {N_SHARDS}
           AS shard
  FROM tok
)
SELECT CAST(shard AS INTEGER) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens
FROM ranked GROUP BY shard
"""


def shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced output shards: longest-first round-robin.

    Sorting by token count and dealing round-robin bounds any shard's token
    total within one max-document of the mean — the cheap deterministic
    approximation of bin packing that training-shard writers use.

    The global ``row_number`` here serializes through one partition, so
    this single-window form is NOT the registered query — it is the
    semantic reference that :func:`shard_assignment_banded` (registered,
    pytest-pinned identical) distributes.
    """
    from pyspark.sql import Window

    from ting_data_etl_spark.functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", token_count("text").alias("n_toks"))
    w = Window.orderBy(F.col("n_toks").desc(), F.col("doc_id"))
    ranked = tok.select(
        "doc_id",
        "n_toks",
        ((F.row_number().over(w) - 1) % N_SHARDS).alias("shard"),
    )
    return ranked.groupBy(F.col("shard").cast("int").alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
    )


# --- sequence packing (token-budget bins) ----------------------------------
PACK_BUDGET = 1024  # tokens per packed training sequence

_SQL_PACK = f"""
WITH tok AS (
  SELECT doc_id,
         len({SQL_TOKEN_LIST}) AS n_toks
  FROM documents
),
packed AS (
  SELECT doc_id, n_toks,
         CAST(FLOOR((SUM(n_toks) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_toks) / {PACK_BUDGET}) AS INTEGER) AS seq_id
  FROM tok
)
SELECT seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens
FROM packed GROUP BY seq_id
"""


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into ≤-budget training sequences (streaming fill).

    The sequence-packing verb of LLM data prep: documents fill sequence
    *seq_id = floor(preceding-token-cumsum / budget)* in a deterministic
    order, so each packed sequence holds ≥ budget−max_doc and < budget+max_doc
    tokens — the first-fit-in-order approximation packers use when exact bin
    packing (NP-hard, sequential) is off the table.

    The global cumulative sum serializes through one partition, so this
    single-window form is NOT the registered query — it is the semantic
    reference that :func:`pack_sequences_banded` (registered, pytest-pinned
    identical) distributes as a two-phase prefix scan.
    """
    from pyspark.sql import Window

    from ting_data_etl_spark.functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", token_count("text").alias("n_toks"))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    packed = tok.select(
        "doc_id",
        "n_toks",
        F.floor((F.sum("n_toks").over(w) - F.col("n_toks")) / PACK_BUDGET)
        .cast("int")
        .alias("seq_id"),
    )
    return packed.groupBy("seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
    )


# --- banded (two-phase) variants of the global-window operators ------------
def _quantile_bands(df: DataFrame, col: str, n_bands: int, desc: bool = False):
    """Deterministic band column from the key's quantile cuts.

    The previous formulation derived ``__band`` from
    ``repartitionByRange(...).spark_partition_id()`` and leaned on
    ``persist()`` for consistency — but a lost cached block recomputes
    through a RE-SAMPLED range exchange, so recomputed rows could land in
    different bands than the already-collected offsets (silently wrong
    output under executor loss, exactly the failure large clusters have).
    Quantile cuts make the band a PURE FUNCTION of the key: recomputation
    is always consistent, cache or no cache. Ties share a band by
    construction, which the rank math requires.
    """
    probs = [i / n_bands for i in range(1, n_bands)]
    cuts = sorted(set(df.approxQuantile(col, probs, 0.001)))
    if not cuts:
        return F.lit(0)
    if desc:
        band = sum((F.col(col) < F.lit(c)).cast("int") for c in cuts)
        # A NULL key compares to NULL -> NULL band, which the offsets
        # equi-join would silently drop (and _band_offsets would crash on a
        # NULL band_total). Pin NULLs to a sentinel band placed where
        # Spark's window order puts them (DESC -> nulls last), mirroring
        # skew.banded_running_sum's NULL-band handling.
        return F.when(F.col(col).isNull(), F.lit(len(cuts) + 1)).otherwise(
            band
        )
    band = sum((F.col(col) > F.lit(c)).cast("int") for c in cuts)
    # ASC -> nulls first in Spark's window order, so NULLs band before 0.
    return F.when(F.col(col).isNull(), F.lit(-1)).otherwise(band)


def _band_offsets(df: DataFrame, value_col: str) -> DataFrame:
    """Per-partition row/total offsets via one tiny driver-side prefix sum.

    Phase 1 of the distributed scan pattern: each range-band reports its
    (count, sum); the driver prefix-sums B rows (B = #bands, not #rows) and
    broadcasts the offsets back. This is the only driver involvement — B
    scalars, never data.
    """
    return _band_offsets_with_total(df, value_col)[0]


def _band_offsets_with_total(
    df: DataFrame, value_col: str
) -> tuple[DataFrame, int]:
    """:func:`_band_offsets` plus the grand total of *value_col*.

    OPTIMIZATION r16 (guide §2.1, VERDICT r15 #7): the total IS the final
    prefix-sum accumulator the offsets collect already computed — callers
    that also need it (the budget heads' ``total·PCT DIV 100`` threshold)
    were running a second aggregate job + broadcast crossJoin for a
    number the driver already held.
    """
    per_band = (
        df.groupBy("__band")
        .agg(
            F.count("*").alias("band_rows"),
            F.sum(value_col).alias("band_total"),
        )
        .orderBy("__band")
        .collect()
    )
    offsets, row_off, tot_off = [], 0, 0
    for r in per_band:
        offsets.append((r["__band"], row_off, tot_off))
        row_off += r["band_rows"]
        # An all-NULL-value band (e.g. the NULL-key sentinel band) sums to
        # NULL; it still occupies rank positions but contributes 0 total.
        tot_off += r["band_total"] or 0
    spark = df.sparkSession
    return (
        F.broadcast(
            spark.createDataFrame(
                offsets, "__band int, row_offset long, total_offset long"
            )
        ),
        tot_off,
    )


@register("shard_assignment", oracle=_SQL_SHARDS)
def shard_assignment_banded(
    spark: SparkSession, sf_dir: str, n_bands: int = 8
) -> DataFrame:
    """The 100 TB formulation of :func:`shard_assignment` — no global sort.

    This banded form IS the registered ``shard_assignment`` query (round 3):
    the oracle stays the single-window SQL because the outputs are
    identical by construction.

    Band by the token count's quantile cuts (deterministic — see
    :func:`_quantile_bands`), rank locally within each band, and convert
    to global ranks with the per-band offsets from :func:`_band_offsets`.
    Every shuffle is bounded (per-band sorts); the only serialized work is
    a B-row prefix sum on the driver. Output is IDENTICAL to the
    single-window form (pytest-pinned): ties on n_toks share a band and
    the (n_toks desc, doc_id) in-band order is unique, so band-local
    ranks + offsets reproduce the exact global ranking.
    """
    from pyspark.sql import Window

    from ting_data_etl_spark.functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", token_count("text").alias("n_toks"))
    band = _quantile_bands(tok, "n_toks", n_bands, desc=True)
    banded = tok.withColumn("__band", band)
    banded = banded.persist()
    try:
        offsets = _band_offsets(banded, "n_toks")
        local = Window.partitionBy("__band").orderBy(
            F.col("n_toks").desc(), F.col("doc_id")
        )
        ranked = (
            banded.withColumn("__lr", F.row_number().over(local))
            .join(offsets, "__band")
            .select(
                "doc_id",
                "n_toks",
                ((F.col("row_offset") + F.col("__lr") - 1) % N_SHARDS).alias(
                    "shard"
                ),
            )
        )
        out = ranked.groupBy(F.col("shard").cast("int").alias("shard")).agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
        )
        out = out.localCheckpoint(eager=True)
        return out
    finally:
        banded.unpersist()


@register("pack_sequences", oracle=_SQL_PACK)
def pack_sequences_banded(
    spark: SparkSession, sf_dir: str, n_bands: int = 8
) -> DataFrame:
    """The 100 TB formulation of :func:`pack_sequences` — two-phase cumsum.

    This banded form IS the registered ``pack_sequences`` query (round 3):
    the oracle stays the single-window SQL because the outputs are
    identical by construction.

    Band-local cumulative sums plus the broadcast band total-offsets give
    the exact global running total (the textbook distributed prefix scan),
    so sequence ids match the single-window form bit for bit
    (pytest-pinned) while no partition ever sees more than its band.
    """
    from pyspark.sql import Window

    from ting_data_etl_spark.functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", token_count("text").alias("n_toks"))
    band = _quantile_bands(tok, "doc_id", n_bands)
    banded = tok.withColumn("__band", band)
    banded = banded.persist()
    try:
        offsets = _band_offsets(banded, "n_toks")
        local = Window.partitionBy("__band").orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, 0
        )
        packed = (
            banded.withColumn("__lc", F.sum("n_toks").over(local))
            .join(offsets, "__band")
            .select(
                "doc_id",
                "n_toks",
                F.floor(
                    (F.col("total_offset") + F.col("__lc") - F.col("n_toks"))
                    / PACK_BUDGET
                )
                .cast("int")
                .alias("seq_id"),
            )
        )
        out = packed.groupBy("seq_id").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
        )
        out = out.localCheckpoint(eager=True)
        return out
    finally:
        banded.unpersist()


# --- fixed-k deterministic per-group sample --------------------------------
RESERVOIR_K = 5

_SQL_RESERVOIR = f"""
SELECT source, doc_id, rk
FROM (
  SELECT source, doc_id,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS BIGINT) AS rk
  FROM documents
)
WHERE rk <= {RESERVOIR_K}
"""


@register("sample_per_group_fixed_k", oracle=_SQL_RESERVOIR)
def sample_per_group_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly k docs per source, chosen by hash rank — a deterministic
    reservoir sample.

    The eval-set / spot-check staple: every group contributes exactly k
    rows regardless of group size, selection is uniform-at-random under the
    md5 rank yet fully reproducible, and adding documents only displaces
    items whose hash outranks them (stable under append, unlike
    random()-based sampling). One window over the group key — the same
    single-shuffle shape as top-k per group; at corpus scale the rank
    computation is map-side until the per-group top-k merge.
    """
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("source", "doc_id")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= RESERVOIR_K)
    )


# --- quality-weighted sampling ---------------------------------------------
#: Acceptance percentage per passed quality gate: 0 checks -> drop, 3 checks
#: -> keep 90%. Integer arithmetic end to end — the threshold NEVER rides on
#: a float->int cast (Spark CAST truncates where DuckDB rounds).
QUALITY_ACCEPT_PCT_PER_CHECK = 30


def _sql_quality_ctes(tok_rel: str = "tok") -> str:
    """Quality-gate CTE chain ending in ``c`` (doc_id, source, n_checks) —
    shared by the plain quality sampler and the r9 surprisal-band gate.
    Requires *tok_rel* (doc_id, source, text, toks) in scope. (The r10
    ``prefix`` parameterization was reverted in r11: the incremental
    selection's oracle nests the FULL final-selection statement instead of
    composing prefixed fragments, so the prefix never found a consumer.)"""
    from ting_data_etl_spark.functions.text import WS_CHARS
    from ting_data_etl_spark.operators.text_queries import _sql_hits

    return f"""
m AS (
  SELECT doc_id, source,
         length(text) AS n,
         length(text) - length(regexp_replace(text, '[^\\p{{L}}\\p{{N}}{WS_CHARS}]', '', 'g'))
           AS n_punct,
         len(toks) AS n_toks,
         {_sql_hits("en")} AS en_hits
  FROM {tok_rel}
),
c AS (
  SELECT doc_id, source,
         (CASE WHEN n BETWEEN 50 AND 2000 THEN 1 ELSE 0 END
          + CASE WHEN (CASE WHEN n > 0 THEN CAST(n_punct AS DOUBLE) / n
                            ELSE 0.0 END) <= 0.2 THEN 1 ELSE 0 END
          + CASE WHEN (CASE WHEN n_toks > 0 THEN CAST(en_hits AS DOUBLE) / n_toks
                            ELSE 0.0 END) >= 0.05 THEN 1 ELSE 0 END
         ) AS n_checks
  FROM m
)"""


def _sql_quality_sample() -> str:
    from ting_data_etl_spark.operators.text_queries import _SQL_TOKS

    return f"""
WITH {_SQL_TOKS},
{_sql_quality_ctes()}
SELECT doc_id, source,
       CAST(n_checks * {QUALITY_ACCEPT_PCT_PER_CHECK} AS INTEGER) AS accept_pct
FROM c
WHERE {_sql_bucket("doc_id", "qsample")} < n_checks * {QUALITY_ACCEPT_PCT_PER_CHECK}
"""


@register("sample_quality_weighted", oracle=_sql_quality_sample)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality-weighted subsample (DoReMi-flavored selection).

    Each document's acceptance probability is proportional to its passed
    quality-gate count (:func:`~ting_data_etl_spark.functions.text.
    quality_checks` — the integer core quality_score divides by 3): zero
    gates drops the doc outright, all three keep it with 90% probability.
    The coin is the same salted md5 bucket every sampling verb uses, so
    the decision is reproducible, independent of partitioning, and
    decorrelated from the plain sampler and the train/val/test split
    (per-purpose salt). Plan: one scan + codegen predicate — no shuffle,
    no RNG state; at 100 TB it rides scan bandwidth like sample_hash_mod.
    """
    from ting_data_etl_spark.functions.text import quality_checks

    d = load_table(spark, sf_dir, "documents")
    accept = (
        quality_checks(F.col("text")) * QUALITY_ACCEPT_PCT_PER_CHECK
    ).cast("int")
    return d.select(
        "doc_id", "source", accept.alias("accept_pct")
    ).filter(_bucket(F.col("doc_id"), "qsample") < F.col("accept_pct"))


# --- temperature-scaled source mixture -------------------------------------
#: sqrt-temperature (tau = 0.5) budget numerator: a source's acceptance
#: percentage is floor(TEMP_BUDGET / sqrt(n_source)), capped at 95 — the
#: expected kept volume is then proportional to sqrt(n_source), i.e. the
#: classic temperature-flattened mixture (T5/PaLM style) that upweights
#: small sources relative to their raw share. tau is FIXED at 0.5 because
#: sqrt is an exactly-rounded IEEE op: the whole rate computation is
#: bit-identical across engines, where a general pow(n, tau) is not.
TEMP_BUDGET = 200.0
TEMP_MAX_PCT = 95


def _sql_temp_mixture() -> str:
    return f"""
WITH n AS (SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source),
r AS (
  SELECT source, n_total,
         CAST(least({TEMP_MAX_PCT},
                    floor({TEMP_BUDGET} / sqrt(CAST(n_total AS DOUBLE))))
              AS INTEGER) AS accept_pct
  FROM n
),
kept AS (
  SELECT d.source, r.n_total, r.accept_pct
  FROM documents d JOIN r ON d.source = r.source
  WHERE {_sql_bucket("d.doc_id", "tempmix")} < r.accept_pct
)
SELECT source,
       CAST(MAX(n_total) AS BIGINT) AS n_total,
       MAX(accept_pct) AS accept_pct,
       CAST(COUNT(*) AS BIGINT) AS n_kept
FROM kept GROUP BY source
"""


@register("corpus_temperature_mixture", oracle=_sql_temp_mixture)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixture: kept volume ∝ sqrt(source size).

    Unlike :func:`corpus_weighted_mixture` (hand-configured per-source
    rates), the rates here DERIVE from the corpus itself: big sources are
    downweighted toward the root of their share, the standard temperature
    knob for balancing a scraped corpus against boutique sources. The
    per-source form needs no global normalization term, so there is no
    order-sensitive float sum anywhere — every arithmetic step (sqrt,
    divide, floor) is exactly rounded and engine-identical.

    Plan: a map-side-combine count rollup (tiny: one row per source),
    broadcast back onto the scan as a rate dimension, one codegen
    predicate, one final rollup. The corpus-sized leg is scan + filter —
    no data-sized shuffle at any scale.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_total"))
    rates = counts.select(
        "source",
        "n_total",
        F.least(
            F.lit(TEMP_MAX_PCT),
            F.floor(F.lit(TEMP_BUDGET) / F.sqrt(F.col("n_total").cast("double"))),
        )
        .cast("int")
        .alias("accept_pct"),
    )
    kept = d.join(F.broadcast(rates), "source").filter(
        _bucket(F.col("doc_id"), "tempmix") < F.col("accept_pct")
    )
    return kept.groupBy("source").agg(
        F.max("n_total").cast("long").alias("n_total"),
        F.max("accept_pct").alias("accept_pct"),
        F.count("*").alias("n_kept"),
    )


# --- surprisal-band quality gate (CCNet/RedPajama shape) ---------------------
#: Integer band bounds on the per-document mean unigram surprisal (linear
#: space, see text_queries.SURPRISAL_SCALE). CCNet buckets documents into
#: head/middle/tail by LM perplexity and keeps the head preferentially; the
#: distributed proxy is the corpus-unigram surprisal. The band test is pure
#: integer arithmetic on the fixed-point accumulator — s_fixed < bound *
#: n_tokens * SCALE — so it is EXACT and engine-identical, never a float
#: mean comparison (a doc sitting on the boundary cannot flip between
#: engines). Bounds chosen so all three bands are populated on the
#: synthetic corpus (head ~40%, middle ~55%, tail ~5%).
SURPRISAL_HEAD_MAX = 30
SURPRISAL_TAIL_MIN = 40
#: Acceptance percentage PER PASSED QUALITY CHECK by band: the head keeps
#: the plain sampler's 30%/check, the middle is downweighted, the tail —
#: the gibberish/OCR-noise bucket CCNet drops — is rejected outright
#: regardless of its other quality gates.
SURPRISAL_BAND_PCT = {"head": 30, "middle": 20, "tail": 0}


def _sql_surprisal_gate() -> str:
    from ting_data_etl_spark.operators.text_queries import (
        _SQL_TOKS,
        SURPRISAL_SCALE,
        sql_surprisal_ctes,
    )

    return f"""
WITH {_SQL_TOKS},
{_sql_quality_ctes()},
{sql_surprisal_ctes("tok")},
banded AS (
  SELECT c.doc_id, c.source, c.n_checks,
         CASE WHEN s.s_fixed < {SURPRISAL_HEAD_MAX} * s.n_tokens * {SURPRISAL_SCALE}
              THEN 'head'
              WHEN s.s_fixed >= {SURPRISAL_TAIL_MIN} * s.n_tokens * {SURPRISAL_SCALE}
              THEN 'tail'
              ELSE 'middle' END AS band
  FROM c JOIN surp s ON c.doc_id = s.doc_id
),
scored AS (
  SELECT doc_id, source, band,
         CAST(n_checks * CASE band WHEN 'head' THEN {SURPRISAL_BAND_PCT['head']}
                                   WHEN 'middle' THEN {SURPRISAL_BAND_PCT['middle']}
                                   ELSE {SURPRISAL_BAND_PCT['tail']} END
              AS INTEGER) AS accept_pct
  FROM banded
)
SELECT doc_id, source, band, accept_pct
FROM scored
WHERE {_sql_bucket("doc_id", "qsurp")} < accept_pct
"""


@register("sample_surprisal_gated", oracle=_sql_surprisal_gate)
def sample_surprisal_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality sampling with the perplexity-proxy band gate (VERDICT r8 #6).

    ``sample_quality_weighted`` accepts on gopher-ish gate counts alone;
    CCNet/RedPajama's actual selection knob is the LM-perplexity band.
    This gate composes both: a document's acceptance percentage is its
    passed-gate count times a PER-BAND rate — head documents (low mean
    unigram surprisal = common, fluent text) keep the full 30%/check,
    middle 20%/check, tail (rare-token-heavy: gibberish, OCR noise,
    boilerplate codes) dropped outright. The coin is the salted md5 bucket
    (salt ``qsurp``), so the decision is reproducible and independent of
    the plain sampler's.

    Determinism: the band test compares the EXACT decimal(38,0) fixed-point
    accumulator against ``bound * n_tokens * SCALE`` — integer arithmetic
    on both engines, no float mean anywhere in the decision path.

    Plan: the surprisal stats (two fixed-width-key shuffles, broadcast
    totals) join the one-scan quality relation on doc_id; the gate itself
    is a codegen predicate. Zero-token documents have no surprisal row and
    drop out (no evidence -> not sampled), matching the oracle's inner
    join.
    """
    from ting_data_etl_spark.functions.text import quality_checks
    from ting_data_etl_spark.operators.text_queries import (
        SURPRISAL_SCALE,
        surprisal_stats,
    )

    d = load_table(spark, sf_dir, "documents")
    checks = d.select(
        "doc_id", "source", quality_checks(F.col("text")).alias("n_checks")
    )
    s = surprisal_stats(spark, sf_dir).select("doc_id", "n_tokens", "s_fixed")
    scale = F.lit(SURPRISAL_SCALE)
    band = (
        F.when(
            F.col("s_fixed")
            < F.lit(SURPRISAL_HEAD_MAX) * F.col("n_tokens") * scale,
            F.lit("head"),
        )
        .when(
            F.col("s_fixed")
            >= F.lit(SURPRISAL_TAIL_MIN) * F.col("n_tokens") * scale,
            F.lit("tail"),
        )
        .otherwise(F.lit("middle"))
    )
    band_pct = (
        F.when(F.col("band") == "head", F.lit(SURPRISAL_BAND_PCT["head"]))
        .when(F.col("band") == "middle", F.lit(SURPRISAL_BAND_PCT["middle"]))
        .otherwise(F.lit(SURPRISAL_BAND_PCT["tail"]))
    )
    return (
        checks.join(s, "doc_id")
        .withColumn("band", band)
        .select(
            "doc_id",
            "source",
            "band",
            (F.col("n_checks") * band_pct).cast("int").alias("accept_pct"),
        )
        .filter(_bucket(F.col("doc_id"), "qsurp") < F.col("accept_pct"))
    )


# --- DSIR: hashed-feature importance selection (Xie et al. 2023) -------------
#: Hashed n-gram feature space size. DSIR's memory story: BOTH distribution
#: estimates live in a fixed B-bucket table regardless of corpus vocabulary,
#: so the weight table is always broadcast-able (B rows, two BIGINT counts)
#: no matter how many tokens the 100 TB corpus carries.
DSIR_BUCKETS = 1024
#: Fixed-point units for the per-token importance ratio (3 decimals) — same
#: discipline as text_queries.SURPRISAL_SCALE: ONE pinned IEEE expression
#: rounds to BIGINT per bucket, per-document sums are exact integers.
DSIR_SCALE = 1000


def _sql_dsir() -> str:
    from ting_data_etl_spark.operators.text_queries import _SQL_TOKS
    from ting_data_etl_spark.plans.oracles import sql_shingle_hash

    b = DSIR_BUCKETS
    return f"""
WITH {_SQL_TOKS},
{_sql_quality_ctes()},
dtf AS (
  SELECT doc_id, {sql_shingle_hash("t")} % {b} AS b, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS t FROM tok)
  GROUP BY 1, 2
),
dflag AS (SELECT doc_id, (n_checks = 3) AS is_target FROM c),
dcnt AS (
  SELECT b,
         CAST(SUM(CASE WHEN f.is_target THEN tf ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(tf) AS BIGINT) AS cs
  FROM dtf JOIN dflag f USING (doc_id)
  GROUP BY b
),
dtot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cs) AS BIGINT) AS ts
  FROM dcnt
),
dr AS (
  SELECT b,
         CAST(ROUND(
           (CAST(ct + 1 AS DOUBLE) * CAST(ts + {b} AS DOUBLE))
           / (CAST(cs + 1 AS DOUBLE) * CAST(tt + {b} AS DOUBLE))
           * {DSIR_SCALE}) AS BIGINT) AS r
  FROM dcnt CROSS JOIN dtot
),
dw AS (
  SELECT dtf.doc_id,
         CAST(SUM(tf) AS BIGINT) AS n_tokens,
         SUM(tf * r) AS w_fixed
  FROM dtf JOIN dr USING (b)
  GROUP BY dtf.doc_id
)
SELECT doc_id, n_tokens,
       CAST(w_fixed AS DOUBLE) / n_tokens / {DSIR_SCALE}.0 AS mean_ratio,
       (w_fixed >= n_tokens * {DSIR_SCALE}) AS accepted
FROM dw
"""


@register("sample_dsir_importance", oracle=_sql_dsir)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR: data selection by importance resampling over hashed features.

    The RedPajama-2/Pile-CC-era selection verb (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): estimate a
    TARGET unigram distribution from an exemplar set and the SOURCE
    distribution from the raw corpus — both over a fixed B-bucket hashed
    feature space — and keep documents whose tokens look more target-like
    than source-like. The exemplar set here is the corpus' own
    all-three-quality-gates documents (the same integer gate core as
    `sample_quality_weighted`); in production it is Wikipedia/books.

    Determinism (house surprisal discipline, NOT the paper's float
    log-likelihood ratio): the per-bucket importance ratio
    ``((ct+1)·(Ts+B)) / ((cs+1)·(Tt+B))`` — add-one-smoothed
    p_target/p_source in LINEAR space, monotone in the paper's log ratio
    per token — is ONE pinned chain of exactly-rounded IEEE ops rounded to
    a fixed-point BIGINT once per bucket; per-document accumulation is an
    exact decimal(38,0) ``Σ tf·r``, so no float sum ever depends on
    partition order, and the accept decision is an integer cross-multiply
    (``w_fixed ≥ n_tokens·SCALE`` — mean ratio ≥ 1), never a float→int
    cast.

    Plan shape: one (doc, bucket) aggregation over the exploded tokens,
    one B-row bucket aggregation (B = {DSIR_BUCKETS}: broadcast-able BY
    CONSTRUCTION — DSIR's whole point), a broadcast 1-row totals join, the
    B-row weight table broadcast back onto the (doc, bucket) relation, and
    one doc-keyed aggregation. The target flag rides the first scan
    (computed once per document, carried through the explode), so the
    quality gates add ZERO extra scans or shuffles. Text never shuffles.
    """
    from ting_data_etl_spark.functions.text import (
        portable_hash31,
        quality_checks,
        tokens,
    )

    from ting_data_etl_spark.sources.tables import fan_out

    # fan_out (OPTIMIZATION r15, guide §2.5): the tokenize+hash explode and
    # the quality_checks flag pass are heavy narrow work chained onto a
    # single-row-group scan — 1-task stages otherwise; the shared explicit
    # exchange spreads both and is a no-op on multi-row-group tables
    d = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    b = DSIR_BUCKETS
    # the target flag is computed ONCE PER DOCUMENT in its own relation and
    # joined onto the tf rows — same shape as the oracle's dtf⋈dflag.
    # Computing it inline before the explode reads nicer but is a trap:
    # Catalyst collapses the projection into the Generate, re-evaluating
    # quality_checks (which re-tokenizes the text) once per TOKEN row —
    # measured 25s instead of 1.5s at sf0.1.
    flags = d.select(
        "doc_id", (quality_checks(F.col("text")) == 3).alias("is_target")
    )
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
        .select("doc_id", (portable_hash31(F.col("t")) % b).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("tf"))
        # cut the lineage at the compact (doc, bucket, tf) relation: it is
        # read TWICE (the estimate pass and the score pass), and each read
        # would otherwise re-run the tokenize+explode over the corpus text
        # (OPTIMIZATION r15) — DSIR's two passes share one tokenization
        .localCheckpoint(eager=True)
    )
    cnt = tf.join(flags, "doc_id").groupBy("b").agg(
        F.sum(F.when(F.col("is_target"), F.col("tf")).otherwise(0)).alias("ct"),
        F.sum("tf").alias("cs"),
    )
    # cut the lineage at the B-row estimate: without this, every reader of
    # cnt (totals, weights) re-tokenizes the corpus — 6 scans instead of
    # DSIR's natural two passes (estimate, then score)
    cnt = cnt.localCheckpoint(eager=True)
    tot = F.broadcast(
        cnt.agg(F.sum("ct").alias("tt"), F.sum("cs").alias("ts"))
    )
    r = cnt.crossJoin(tot).select(
        "b",
        F.round(
            (
                (F.col("ct") + 1).cast("double")
                * (F.col("ts") + b).cast("double")
            )
            / (
                (F.col("cs") + 1).cast("double")
                * (F.col("tt") + b).cast("double")
            )
            * DSIR_SCALE
        )
        .cast("long")
        .alias("r"),
    )
    w = (
        tf.join(F.broadcast(r), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf").cast("decimal(38,0)") * F.col("r")).alias(
                "w_fixed"
            ),
        )
    )
    return w.select(
        "doc_id",
        "n_tokens",
        (
            F.col("w_fixed").cast("double")
            / F.col("n_tokens")
            / F.lit(float(DSIR_SCALE))
        ).alias("mean_ratio"),
        (
            F.col("w_fixed")
            >= (F.col("n_tokens") * F.lit(DSIR_SCALE)).cast("decimal(38,0)")
        ).alias("accepted"),
    )


# --- seeded epoch shuffle: deterministic training order ----------------------
#: Epoch tag salted into the order key. A new epoch = a new salt ("epoch2",
#: ...): every document gets a fresh pseudo-random position with zero state
#: carried between epochs — the reproducible global shuffle a training data
#: loader needs (same order on every re-run, any cluster size, any partition
#: layout). The registered fixture pins epoch 1.
EPOCH_SALT = "epoch1"


def _order_key(col, salt: str) -> F.Column:
    """Full-width deterministic order key (md5 first-8-hex as BIGINT).

    The 32-bit keyspace keeps collisions rare; the (okey, doc_id) composite
    sort is what makes the order total and unique regardless.
    """
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + "|"), col.cast("string"))), 1, 8
            ),
            16,
            10,
        )
        .try_cast("long")
    )


_SQL_EPOCH = f"""
WITH k AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('{EPOCH_SALT}|' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) AS okey
  FROM documents
)
SELECT doc_id, CAST(okey % {N_SHARDS} AS INTEGER) AS shard,
       CAST(row_number() OVER (PARTITION BY okey % {N_SHARDS}
                               ORDER BY okey, doc_id) AS BIGINT) AS pos
FROM k
"""


@register("corpus_epoch_order", oracle=_SQL_EPOCH)
def corpus_epoch_order(
    spark: SparkSession, sf_dir: str, n_bands: int = 8
) -> DataFrame:
    """Seeded epoch shuffle: every doc gets a (shard, position) for training.

    The data-loader contract behind every large-scale training run: an
    epoch's global order must be pseudo-random, REPRODUCIBLE (lineage
    audits, elastic restarts, loss-spike forensics all need to replay the
    exact stream), and readable as N_SHARDS independent sequential shards.
    Deriving the order from a salted md5 of the doc id — the same portable
    hash every sampling verb here uses, never ``rand()`` or
    ``ORDER BY rand()`` — gives all three: reader *r* streams shard *r* in
    (okey, doc_id) order and the concatenation is the epoch permutation.

    Scale shape: NO global sort. The shard is ``okey % N_SHARDS`` (a pure
    map expression) and the in-shard position comes from the same
    two-phase banded rank as `shard_assignment` — band by the order key's
    quantile cuts, rank locally within (shard, band), convert to exact
    in-shard positions with per-(shard, band) count offsets prefix-summed
    on the driver (shards × bands rows, never data). The quantile cuts
    affect only band boundaries, not the output (pure rank algebra), so
    the single-window oracle stays the semantic truth.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    k = d.select(
        "doc_id", _order_key(F.col("doc_id"), EPOCH_SALT).alias("okey")
    ).withColumn("shard", F.pmod(F.col("okey"), N_SHARDS).cast("int"))
    banded = k.withColumn(
        "__band", _quantile_bands(k, "okey", n_bands)
    ).persist()
    try:
        per = (
            banded.groupBy("shard", "__band")
            .agg(F.count("*").alias("n"))
            .orderBy("shard", "__band")
            .collect()
        )  # shards × bands rows — the only driver involvement
        offsets, acc = [], {}
        for r in per:
            off = acc.get(r["shard"], 0)
            offsets.append((r["shard"], r["__band"], off))
            acc[r["shard"]] = off + r["n"]
        odf = F.broadcast(
            spark.createDataFrame(
                offsets, "shard int, __band int, row_offset long"
            )
        )
        local = Window.partitionBy("shard", "__band").orderBy(
            "okey", "doc_id"
        )
        out = (
            banded.withColumn("__lr", F.row_number().over(local))
            .join(odf, ["shard", "__band"])
            .select(
                "doc_id",
                "shard",
                (F.col("row_offset") + F.col("__lr"))
                .cast("long")
                .alias("pos"),
            )
        )
        out = out.localCheckpoint(eager=True)
        return out
    finally:
        banded.unpersist()


# --- token-budget head: data-constrained best-first selection ----------------
#: Percent of the corpus' total tokens the selected head may hold.
BUDGET_PCT = 25
#: Composite rank key base: okey = (3 − n_checks)·2⁴⁸ + doc_id sorts by
#: (quality desc, doc_id asc) as ONE monotone BIGINT — bandable by quantile
#: cuts like any scalar. Headroom: doc ids must stay < 2⁴⁸ (≈ 2.8·10¹⁴ —
#: far past any corpus row count); the key itself peaks < 2⁵⁰.
_BUDGET_KEY_BASE = 1 << 48


def sql_budget_ctes(keep_rel: str | None = None) -> str:
    """Budget-head CTE chain (tok/m/c/h/tt/cum) — composable.

    *keep_rel* restricts the ranked universe to an id relation already in
    scope (the final-selection pipeline budgets over curation+semantic
    SURVIVORS; the standalone query budgets over the whole corpus). The
    budget total is then the SURVIVORS' token total — the pipeline rule on
    both engines.
    """
    from ting_data_etl_spark.operators.text_queries import _SQL_TOKS

    return f"""
{_SQL_TOKS},
{sql_budget_ctes_from_tok(keep_rel)}"""


def sql_budget_ctes_from_tok(keep_rel: str | None = None) -> str:
    """The budget chain below the tokenizer (m/c/h/tt/cum) — reads an
    in-scope ``tok`` relation, so a caller can supply a MODIFIED document
    universe (the delete/re-edit maintenance oracle builds ``tok`` from a
    docs2 CTE) while the rank/total/cumsum arithmetic stays ONE definition."""
    keep = f" JOIN {keep_rel} USING (doc_id)" if keep_rel else ""
    return f"""{_sql_quality_ctes()},
h AS (
  SELECT c.doc_id, c.n_checks, m.n_toks,
         CAST(3 - c.n_checks AS BIGINT) * {_BUDGET_KEY_BASE} + c.doc_id AS okey
  FROM c JOIN m USING (doc_id){keep}
),
tt AS (SELECT CAST(SUM(n_toks) AS BIGINT) AS total FROM h),
cum AS (
  SELECT doc_id, n_checks, CAST(n_toks AS BIGINT) AS n_toks,
         CAST(SUM(n_toks) OVER (ORDER BY okey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks
              AS BIGINT) AS cum_before
  FROM h
)"""


def _sql_budget_head() -> str:
    return f"""
WITH {sql_budget_ctes()}
SELECT doc_id, n_checks, n_toks, cum_before
FROM cum CROSS JOIN tt
WHERE cum_before < total * {BUDGET_PCT} // 100
"""


@register("corpus_budget_head", oracle=_sql_budget_head)
def corpus_budget_head(
    spark: SparkSession,
    sf_dir: str,
    n_bands: int = 8,
    keep: DataFrame | None = None,
) -> DataFrame:
    """Best-first selection under a global token budget (the head cut).

    The data-constrained-scaling verb (Muennighoff et al. 2023 regime):
    given a token budget — here BUDGET_PCT of the corpus' own total — keep
    the best documents first until the budget is spent. "Best" ranks by
    the integer quality-gate count (ties broken by doc_id for a total
    deterministic order); a document is selected iff the tokens BEFORE it
    in rank order fit the budget — the greedy prefix rule, integer end to
    end (budget = ``total·PCT DIV 100``, an integer division on both
    engines; no float threshold anywhere).

    Scale shape: the rank is ONE monotone BIGINT key ((3−n_checks)·2⁴⁸ +
    doc_id), so the global cumulative sum is the same two-phase banded
    prefix scan as `pack_sequences` — band by the key's quantile cuts,
    band-local window sums, per-band offsets prefix-summed on the driver
    (B rows, never data). The corpus total rides a broadcast 1-row
    aggregate. No global sort, no single-partition window.
    """
    d = load_table(spark, sf_dir, "documents")
    h = budget_ledger_df(d)
    if keep is not None:
        # pipeline composition: rank and budget over the surviving ids
        # only (the budget total becomes the survivors' token total)
        h = h.join(keep.select("doc_id").distinct(), "doc_id")
    # materialize the fixed-width ledger ONCE (OPTIMIZATION r15): the
    # banded pass reads it twice before its own persist can help — the
    # okey quantile sketch, then the cache-populating band scan — and each
    # read re-ran quality_checks + token_count over the corpus text
    h = h.localCheckpoint(eager=True)
    return budget_head_from_ledger(h, n_bands=n_bands)


def budget_ledger_df(docs: DataFrame) -> DataFrame:
    """The budget head's per-document ledger from any (doc_id, text) relation.

    ONE definition of the rank key: okey = (3 − n_checks)·2⁴⁸ + doc_id —
    shared by :func:`corpus_budget_head` (full corpus) and the
    incremental-selection path (standing-stage build + batch scoring), so
    a key-scheme change cannot desync the two. Per-document semantics:
    scoring a subset equals scoring the corpus restricted to the subset.
    """
    from ting_data_etl_spark.functions.text import quality_checks, token_count

    return docs.select(
        "doc_id",
        quality_checks(F.col("text")).alias("n_checks"),
        token_count(F.col("text")).cast("long").alias("n_toks"),
    ).withColumn(
        "okey",
        (F.lit(3) - F.col("n_checks")).cast("long") * _BUDGET_KEY_BASE
        + F.col("doc_id"),
    )


def budget_head_from_ledger(h: DataFrame, n_bands: int = 8) -> DataFrame:
    """The budget head's banded-prefix pass over a fixed-width LEDGER.

    *h* carries (doc_id, n_checks, n_toks, okey) — no text. Split out of
    :func:`corpus_budget_head` (r10) so the incremental-selection path can
    budget the merged survivor ledger (staged standing rows ∪ the batch's
    freshly scored rows) without re-reading any document text: the pass
    touches ~24-byte rows only, the honest O(N-fixed-width) tail of an
    otherwise O(batch) decision update.
    """
    return _budget_head_plan(h, n_bands).localCheckpoint(eager=True)


def _budget_head_plan(h: DataFrame, n_bands: int = 8) -> DataFrame:
    """The LAZY banded-prefix plan (split for the plan-pin suite, ADVICE
    r15: the registered query's eager checkpoint pinned all zeros)."""
    from pyspark.sql import Window

    # no persist (OPTIMIZATION r16): *h* is an eager checkpoint (or a
    # staged parquet read on the incremental path) at every call site, and
    # __band is a pure function of okey given the collected cuts — the two
    # extra scans the persist shielded are cheap fixed-width re-reads,
    # while the cache population itself cost a pass plus storage blocks.
    banded = h.withColumn("__band", _quantile_bands(h, "okey", n_bands))
    # ONE aggregate job serves both the offsets and the corpus total
    # (VERDICT r15 #7) — the total used to be a second aggregate +
    # broadcast crossJoin; it is now a driver-side literal, and the
    # integer budget arithmetic (total·PCT DIV 100) is unchanged.
    offsets, total = _band_offsets_with_total(banded, "n_toks")
    local = Window.partitionBy("__band").orderBy("okey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        banded.withColumn("__lc", F.sum("n_toks").over(local))
        .join(offsets, "__band")
        .select(
            "doc_id",
            "n_checks",
            "n_toks",
            (F.col("total_offset") + F.col("__lc") - F.col("n_toks"))
            .cast("long")
            .alias("cum_before"),
        )
    )
    return cum.filter(
        F.col("cum_before") < F.lit(int(total) * BUDGET_PCT // 100)
    ).select("doc_id", "n_checks", "n_toks", "cum_before")


def _sql_source_budget_head() -> str:
    from ting_data_etl_spark.operators.text_queries import _SQL_TOKS

    return f"""
WITH {_SQL_TOKS},
{_sql_quality_ctes()},
h AS (
  SELECT c.doc_id, c.source, c.n_checks, m.n_toks,
         CAST(3 - c.n_checks AS BIGINT) * {_BUDGET_KEY_BASE} + c.doc_id
           AS okey
  FROM c JOIN m USING (doc_id)
),
st AS (
  SELECT source, CAST(SUM(n_toks) AS BIGINT) AS total FROM h GROUP BY source
),
cum AS (
  SELECT doc_id, source, CAST(n_toks AS BIGINT) AS n_toks,
         CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY okey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks
              AS BIGINT) AS cum_before
  FROM h
)
SELECT cum.doc_id, cum.source, cum.n_toks, cum.cum_before
FROM cum JOIN st USING (source)
WHERE cum_before < total * {BUDGET_PCT} // 100
"""


@register("corpus_source_budget_head", oracle=_sql_source_budget_head)
def corpus_source_budget_head(
    spark: SparkSession, sf_dir: str, n_bands: int = 8
) -> DataFrame:
    """Best-first selection under PER-SOURCE token budgets.

    The domain-balanced form of :func:`corpus_budget_head`: each source
    keeps BUDGET_PCT of its OWN token total (greedy quality-first prefix
    within the source), so one dominant domain cannot eat the corpus-wide
    budget and every domain's retention is the same fraction — the
    per-domain budget rule mixture-constrained pretraining runs apply
    before cross-domain weighting. Rank key, budget arithmetic (integer
    ``total·PCT DIV 100``), and the greedy prefix rule are shared with the
    global head — one definition of "best under a budget".

    Scale shape: the per-source cumulative sum CANNOT be a plain
    ``Window.partitionBy(source)`` — a source holding 30% of a 100 TB
    corpus would collapse onto one reducer (the exact straggler
    `skew_banded_running_value` measured at 18×). Instead the shared
    two-phase banded scan runs per source: band by the GLOBAL okey
    quantile cuts (a band slices each source's okey-ordered stream into
    contiguous runs), window within (source, band) — B× more, bounded
    partitions — and prefix-sum the (source, band) token totals on the
    driver (sources × bands scalars, never data; the same shape
    `corpus_epoch_order` uses per shard). Per-source budget thresholds
    ride the same collect (OPTIMIZATION r16 — they are its accumulators).
    The ledger is built once (one text pass); the source column rides a
    second scan pruned to (doc_id, source).
    """
    lazy, _banded = _source_budget_head_plan(spark, sf_dir, n_bands)
    return lazy.localCheckpoint(eager=True)


def _source_budget_head_plan(
    spark: SparkSession, sf_dir: str, n_bands: int = 8
) -> tuple[DataFrame, DataFrame]:
    """The LAZY per-source budget plan plus the banded relation.

    Split from :func:`corpus_source_budget_head` so the plan-pin suite can
    digest the PRE-checkpoint plan (the r12 query checkpointed eagerly, so
    its committed pin was all zeros and guarded nothing — ADVICE r12). The
    registered query checkpoints the returned plan; ``banded`` is returned
    for digesting only (no longer persisted — OPTIMIZATION r16).
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    # materialize the fixed-width ledger ONCE (OPTIMIZATION r15) — same
    # double-text-scoring shape as corpus_budget_head: the quantile sketch
    # and the band scan each re-ran the scoring pass otherwise
    h = (
        budget_ledger_df(d)
        .join(d.select("doc_id", "source"), "doc_id")
        .localCheckpoint(eager=True)
    )
    # no persist (OPTIMIZATION r16): *h* is an eager checkpoint, so the
    # second scan the persist shielded is a cheap fixed-width re-read
    # (same reasoning as budget_head_from_ledger).
    banded = h.withColumn("__band", _quantile_bands(h, "okey", n_bands))
    per = (
        banded.groupBy("source", "__band")
        .agg(F.sum("n_toks").alias("n"))
        .orderBy("source", "__band")
        .collect()
    )  # sources × bands rows — the only driver involvement
    offsets, acc = [], {}
    for r in per:
        off = acc.get(r["source"], 0)
        offsets.append((r["source"], r["__band"], off))
        acc[r["source"]] = off + (r["n"] or 0)
    # the per-source budget thresholds ARE the accumulators this collect
    # just produced (VERDICT r15 #7): attach them to the offsets rows
    # instead of running a second per-source aggregate + broadcast join —
    # integer arithmetic (total·PCT DIV 100) computed on the driver,
    # unchanged values.
    odf = F.broadcast(
        spark.createDataFrame(
            [
                (src, band, off, int(acc[src]) * BUDGET_PCT // 100)
                for src, band, off in offsets
            ],
            "source string, __band int, token_offset long, budget long",
        )
    )
    local = (
        Window.partitionBy("source", "__band")
        .orderBy("okey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        banded.withColumn("__lc", F.sum("n_toks").over(local))
        .join(odf, ["source", "__band"])
        .select(
            "doc_id",
            "source",
            F.col("n_toks").cast("long").alias("n_toks"),
            (F.col("token_offset") + F.col("__lc") - F.col("n_toks"))
            .cast("long")
            .alias("cum_before"),
            "budget",
        )
    )
    out = cum.filter(F.col("cum_before") < F.col("budget")).select(
        "doc_id", "source", "n_toks", "cum_before"
    )
    return out, banded


# --- multi-epoch oversampling mixture ----------------------------------------
#: Rates in PERCENT of one epoch; > 100 means true oversampling (the
#: "2 epochs of Wikipedia, 0.5 epochs of CommonCrawl" recipe): a source at
#: 250 emits floor(250/100) = 2 full copies of every doc plus a third copy
#: for the docs whose hash coin lands under 250 mod 100 = 50.
EPOCH_MIX_PCT: dict[str, int] = {"src0": 250, "src1": 100, "src2": 150}
DEFAULT_EPOCH_MIX_PCT = 50


def _epoch_mix_rate_expr() -> F.Column:
    items = iter(EPOCH_MIX_PCT.items())
    first_src, first_pct = next(items)
    expr = F.when(F.col("source") == first_src, F.lit(first_pct))
    for s2, pct in items:
        expr = expr.when(F.col("source") == s2, F.lit(pct))
    return expr.otherwise(F.lit(DEFAULT_EPOCH_MIX_PCT))


def _sql_epoch_mix_rate() -> str:
    whens = " ".join(
        f"WHEN source = '{s}' THEN {p}" for s, p in EPOCH_MIX_PCT.items()
    )
    return f"CASE {whens} ELSE {DEFAULT_EPOCH_MIX_PCT} END"


def _sql_mixture_epochs() -> str:
    return f"""
WITH r AS (
  SELECT doc_id, source,
         ({_sql_epoch_mix_rate()}) // 100
           + CASE WHEN {_sql_bucket("doc_id", "epochmix")}
                       < ({_sql_epoch_mix_rate()}) % 100
                  THEN 1 ELSE 0 END AS copies
  FROM documents
)
SELECT doc_id, source, CAST(unnest(range(0, copies)) AS INTEGER) AS copy
FROM r
"""


@register("corpus_mixture_epochs", oracle=_sql_mixture_epochs)
def corpus_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source mixture with TRUE multi-epoch oversampling (rates > 100%).

    `corpus_weighted_mixture` keeps or drops; real mixture recipes also
    OVERSAMPLE ("2 epochs of books, half an epoch of crawl"). Each doc
    emits ``rate DIV 100`` guaranteed copies plus one more when its hash
    coin lands under ``rate MOD 100`` — so a source's expected emitted
    volume is exactly rate/100 epochs, deterministically (same salted-md5
    coin as every sampling verb; the copy index is explicit so downstream
    shuffles can decorrelate copies). Zero-copy docs drop out on both
    engines (``sequence``/``range`` of an empty span).

    Plan: one scan, one codegen rate expression, one generator — the
    explode's fan-out IS the requested oversampling (bounded by
    max(rate)/100 + 1 copies), no shuffle, no state.
    """
    d = load_table(spark, sf_dir, "documents")
    rate = _epoch_mix_rate_expr()
    # integer floor-div, matching the oracle's `rate // 100` bit-for-bit by
    # construction (ADVICE r9: no float detour in the sampling family)
    copies = F.floor(rate / 100).cast("int") + F.when(
        _bucket(F.col("doc_id"), "epochmix") < rate % 100, 1
    ).otherwise(0)
    r = d.select("doc_id", "source", copies.alias("copies"))
    return r.select(
        "doc_id",
        "source",
        F.explode(
            F.when(
                F.col("copies") > 0,
                F.sequence(F.lit(0), F.col("copies") - 1),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("copy"),
    )


# --- selection manifest: the artifact handed to training ---------------------
def _sql_selection_manifest() -> str:
    """The full final-selection statement nested as a subquery (the
    can-never-disagree trick of the funnel/trimmed oracles), its
    ``selected`` ids sharded by the single-window reference rank, with a
    per-shard XOR membership digest so shard MEMBERSHIP is hash-checked,
    not just volumes (same algebra as the incremental digest family)."""
    from ting_data_etl_spark.operators.curation import _sql_final_selection

    return f"""
WITH sel AS (
  SELECT doc_id FROM ({_sql_final_selection()}) f WHERE decision = 'selected'
),
tok AS (
  SELECT d.doc_id, len({SQL_TOKEN_LIST}) AS n_toks
  FROM documents d JOIN sel USING (doc_id)
),
ranked AS (
  SELECT doc_id, n_toks,
         (row_number() OVER (ORDER BY n_toks DESC, doc_id) - 1) % {N_SHARDS}
           AS shard
  FROM tok
)
SELECT CAST(shard AS INTEGER) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       CAST(bit_xor({_sql_manifest_hash("doc_id")}) AS BIGINT) AS ids_xor
FROM ranked GROUP BY shard
"""


@register("corpus_selection_manifest", oracle=_sql_selection_manifest)
def corpus_selection_manifest(
    spark: SparkSession, sf_dir: str, n_bands: int = 8
) -> DataFrame:
    """The training-corpus manifest: selected docs sharded, checksummed.

    What a curation run actually hands to the training job next to the
    data: per output shard, the document count, token total, and the XOR
    set digest over the member ids — the lineage record that lets a
    training run (or an auditor) verify it read EXACTLY the corpus the
    selection decided, not volumes that happen to match. Composes the two
    verified verbs: ``corpus_final_selection``'s ``selected`` set feeds
    the longest-first round-robin shard rank (token-balanced, same rule as
    ``shard_assignment``) restricted to the selection.

    Plan shape: the selection relation joins the token ledger on
    ``doc_id`` and is eagerly materialized once (three fixed-width passes
    read it: quantile cuts, band offsets, the ranked rollup); the global
    rank is the shared banded two-phase scan — no global sort, no
    single-partition window. The checksum rides the shard rollup's
    existing aggregation (a constant-width XOR fold per member).
    """
    # rollup checkpointed: the 16-row relation is read multiple times by
    # every consumer (driver compare, hashing) — same shape as pre-r12
    return _manifest_rollup(
        _selection_shard_rows(spark, sf_dir, n_bands)
    ).localCheckpoint(eager=True)


def _selection_shard_rows(
    spark: SparkSession, sf_dir: str, n_bands: int = 8
) -> DataFrame:
    """(doc_id, n_toks, shard) for every selected document — the shared
    pre-rollup relation of the manifest and the physical shard sink.

    The global longest-first rank is the banded two-phase scan (quantile
    cuts + per-band offsets — no global sort, no one-partition window);
    eagerly materialized because every consumer reads it more than once
    (the manifest's rollup is one pass, but the sink writes it AND
    re-rolls the read-back; re-deriving would re-run the nested
    final-selection). SESSION-memoized on top (VERDICT r13 #7): the
    manifest and the shard sink both consume this checkpointed relation,
    so within one session the rank derivation runs once, not per query —
    the memo key carries the same constants tokens + source fingerprints
    as the staged artifacts (see ``relcache``)."""
    import os as _os

    from ting_data_etl_spark.operators.dedup import (
        _source_fp,
        _stage_version_token,
    )
    from ting_data_etl_spark.operators.incremental import _incr_token
    from ting_data_etl_spark.relcache import session_relation

    return session_relation(
        spark,
        (
            "selection_shard_rows",
            _os.path.abspath(sf_dir),
            n_bands,
            N_SHARDS,
            _stage_version_token(),
            _incr_token(),
            _source_fp(sf_dir, "documents"),
            _source_fp(sf_dir, "embeddings"),
        ),
        lambda: _selection_shard_rows_build(spark, sf_dir, n_bands),
    )


def _selection_shard_rows_build(
    spark: SparkSession, sf_dir: str, n_bands: int = 8
) -> DataFrame:
    """The rank derivation itself (see :func:`_selection_shard_rows`)."""
    from pyspark.sql import Window

    from ting_data_etl_spark.functions.text import token_count
    from ting_data_etl_spark.operators.curation import final_selection_df

    sel = (
        final_selection_df(spark, sf_dir)
        .filter(F.col("decision") == "selected")
        .select("doc_id")
    )
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", token_count("text").alias("n_toks"))
        .join(sel, "doc_id")
        .localCheckpoint(eager=True)
    )
    banded = tok.withColumn(
        "__band", _quantile_bands(tok, "n_toks", n_bands, desc=True)
    ).persist()
    try:
        offsets = _band_offsets(banded, "n_toks")
        local = Window.partitionBy("__band").orderBy(
            F.col("n_toks").desc(), F.col("doc_id")
        )
        ranked = (
            banded.withColumn("__lr", F.row_number().over(local))
            .join(offsets, "__band")
            .select(
                "doc_id",
                "n_toks",
                ((F.col("row_offset") + F.col("__lr") - 1) % N_SHARDS)
                .cast("int")
                .alias("shard"),
            )
        )
        return ranked.localCheckpoint(eager=True)
    finally:
        banded.unpersist()


def _manifest_hash_col(col: F.Column) -> F.Column:
    """60-bit portable doc hash — the XOR set digest's member term (15 hex
    digits keeps it positive and exactly representable in both engines).

    ONE definition shared by the rank-sharded manifest rollup here and the
    incremental hash-sharded digest family (``operators.incremental``) —
    both manifest flavors verify membership with the same algebra
    (VERDICT r12 #3)."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit("manifest|"), col.cast("string"))), 1, 15
        ),
        16,
        10,
    ).try_cast("long")


def _sql_manifest_hash(expr: str) -> str:
    return (
        f"CAST('0x' || substr(md5('manifest|' || CAST({expr} AS VARCHAR)), "
        "1, 15) AS BIGINT)"
    )


def _manifest_rollup(ranked: DataFrame, ordered_md5: bool = False) -> DataFrame:
    """Per-shard (n_docs, total_tokens, ids_xor) over (doc_id, n_toks,
    shard) rows.

    The membership checksum is the order-independent 60-bit XOR set digest
    (constant-width per-row algebra — a member's hash folds in with plain
    aggregation state, so a production shard's rollup never concentrates
    its full id list in one buffer). Running the SAME rollup over
    written-then-read-back rows is what makes the sink verifiable against
    the manifest. *ordered_md5* additionally emits the id-ORDER md5 — the
    stronger sequenced checksum for consumers that must pin member order,
    at the cost of collecting each shard's ids into one aggregation buffer
    (bounded by ``capacity.manifest_shards``; keep it off hot paths —
    VERDICT r12 #3 demoted it from the default)."""
    aggs = [
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.expr("bit_xor(__dh)").alias("ids_xor"),
    ]
    if ordered_md5:
        aggs.append(
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.sort_array(F.collect_list("doc_id")),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("doc_ids_md5")
        )
    return (
        ranked.withColumn("__dh", _manifest_hash_col(F.col("doc_id")))
        .groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(*aggs)
    )


@register("corpus_manifest_shard_sink", oracle=_sql_selection_manifest)
def corpus_manifest_shard_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physically write the selection's N_SHARDS data files, verify by
    READ-BACK: the returned relation is the manifest recomputed from the
    files on disk, so the driver's oracle hash-checks the whole loop —
    selection → shard rank → partitioned write → read-back — against the
    from-scratch manifest statement (VERDICT r11 #6: the auditor story's
    last step, previously checksummed but never physically written).

    Sink shape = ``sinks.fanout.write_fanout``'s clustered contract:
    repartition on the partition key so each shard's rows land in ONE task
    and the output is O(shards) files (pinned by
    ``tests/test_sampling.py::test_manifest_shard_sink_file_count``), with
    dynamic-partition parquet — at 100 TB each shard is one columnar
    stream a trainer mounts directly. Any row the sink dropped, duplicated
    or mis-routed flips that shard's XOR membership digest and
    hash-mismatches.
    """
    import os
    import tempfile

    from ting_data_etl_spark.operators.dedup import new_run_dir

    ranked = _selection_shard_rows(spark, sf_dir)
    out = new_run_dir(os.path.join(tempfile.gettempdir(), "ting_manifest_sink"))
    (
        ranked.repartition(F.col("shard"))
        .sortWithinPartitions("shard")
        .write.partitionBy("shard")
        .parquet(out)
    )
    readback = spark.read.parquet(out).select("doc_id", "n_toks", "shard")
    return _manifest_rollup(readback)
