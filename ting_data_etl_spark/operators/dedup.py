"""Deduplication operators for training-data pipelines (SURVEY.md §7.4).

No reference-side counterpart — these are the LLM-data-pipeline extensions
the north star mandates, designed for 100 TB corpora:

* **exact** — group on normalized text (or its fingerprint): one shuffle on
  the hash key; with the fingerprint variant the shuffle key is a fixed-width
  digest, not the document body, so shuffle IO is O(#docs × 16 B).
* **MinHash + LSH** — per-row signature computation is pure JVM higher-order
  functions (no shuffle, no UDF); only the *band keys* (b × 16 B per doc)
  shuffle for the candidate-pair self-join. This is the standard
  shingle→minhash→band→bucket-join construction; candidate recall follows
  the (b, r) S-curve.
* **SimHash** — 32-bit per-doc signature from token digests, again pure
  JVM expressions; near-dup candidates via identical-signature grouping.
* **n-gram Jaccard** — exact pairwise similarity via a shared-shingle
  self-join, bounded to same-``source`` blocks (blocking is what keeps the
  pair count tractable at scale).

Digest portability: oracle-checked variants use ``md5`` (identical hex in
DuckDB). At 100 TB you'd flip ``HASH = F.xxhash64`` — ~5× faster, JVM-native,
same semantics (the ``*_fast`` functions) — which the driver then checks
rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ting_data_etl_spark.functions.text import (
    doc_fingerprint_md5,
    word_ngrams,
)
from ting_data_etl_spark.plans.oracles import (
    SQL_TOKEN_LIST,
    sql_normalize_text,
    sql_shingle_hash,
)
from ting_data_etl_spark.registry import register
from ting_data_etl_spark.sources.tables import load_table

MINHASH_HASHES = 16  # signature length
MINHASH_BANDS = 8  # → r = MINHASH_HASHES // MINHASH_BANDS rows per band
MINHASH_ROWS_PER_BAND = MINHASH_HASHES // MINHASH_BANDS
SHINGLE_N = 3  # word 3-gram shingles

#: Hot-bucket guards for the candidate-pair self-joins. A band bucket (or a
#: shared shingle within a ``source`` block) holding *cap* documents produces
#: O(cap²) candidate pairs — boilerplate text (cookie banners, license
#: headers) routinely creates buckets with millions of members at corpus
#: scale, turning the join quadratic. Buckets above the cap are dropped
#: before the join on BOTH the Spark and the oracle side (same constants), so
#: the semantics — "near-dup candidates, excluding boilerplate buckets" —
#: stay engine-identical.
BAND_FREQUENCY_CAP = 50
SHINGLE_FREQUENCY_CAP = 100

from ting_data_etl_spark.functions.text import MERSENNE_31 as MERSENNE_P

# 2^31 - 1; (a·x+b) mod p stays in int64. Shared with portable_hash31 so
# the minhash and winnow/curation hash families can never drift apart.

# Fixed affine-permutation coefficients (seeded, embedded identically in the
# oracle SQL). One md5 per shingle + 16 integer permutations replaces 16 md5
# passes — ~10× cheaper signatures.
import random as _random

_rng = _random.Random(42)
PERMS: list[tuple[int, int]] = [
    (_rng.randrange(1, MERSENNE_P), _rng.randrange(0, MERSENNE_P))
    for _ in range(MINHASH_HASHES)
]


def _shingle_hash_spark(s):
    """Portable 31-bit base hash — THE shared definition, see text.py."""
    from ting_data_etl_spark.functions.text import portable_hash31

    return portable_hash31(s if not isinstance(s, str) else F.col(s))


# --- exact dedup -----------------------------------------------------------
_SQL_DEDUP_EXACT = f"""
WITH n AS (
  SELECT doc_id,
         md5({sql_normalize_text()}) AS fp
  FROM documents
),
k AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS keeper
  FROM n
)
SELECT doc_id, keeper, (doc_id <> keeper) AS is_dup
FROM k
"""


@register("dedup_exact", oracle=_SQL_DEDUP_EXACT)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keeper = min doc_id per content-fingerprint group.

    The window partitions by the md5 *fingerprint* of the normalized text,
    never the text itself — the shuffle carries 16-byte digests regardless of
    document size, which at 100 TB is the difference between shuffling hashes
    and shuffling the corpus. The single window expression is aliased once and
    reused so the plan has exactly one Window node.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", doc_fingerprint_md5("text").alias("fp")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("fp")
    keeper = d.select("doc_id", F.min("doc_id").over(w).alias("keeper"))
    return keeper.select(
        "doc_id", "keeper", (F.col("doc_id") != F.col("keeper")).alias("is_dup")
    )


# --- fingerprint dedup (md5 digest as the shuffle key) ---------------------
_SQL_DEDUP_FP = f"""
WITH n AS (
  SELECT doc_id,
         md5({sql_normalize_text()}) AS fp
  FROM documents
)
SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keeper
FROM n GROUP BY fp
"""


@register("dedup_fingerprint_md5", oracle=_SQL_DEDUP_FP)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-fingerprint dedup: md5(normalized) → group → keeper.

    The digest (16 B) is the shuffle key — at 100 TB this is the difference
    between shuffling documents and shuffling hashes. Fast path:
    ``F.xxhash64`` instead of md5 (same plan shape).
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", doc_fingerprint_md5("text").alias("fp")
    )
    return d.groupBy("fp").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper")
    )


# --- MinHash signatures + LSH banding --------------------------------------
def minhash_signature(text_col) -> F.Column:
    """MinHash signature as array<long>: sig_i = min over shingles of
    (aᵢ·h(s)+bᵢ) mod p, h = 31-bit md5-derived base hash.

    Column-expression form, useful for small inputs. For datasets use
    :func:`minhash_signatures_df` — higher-order-function lambdas are
    interpreted (no codegen, no common-subexpression elimination), so this
    nested form re-evaluates the shingle pipeline per permutation; the
    explode→aggregate form computes each md5 exactly once inside
    whole-stage codegen.
    """
    from ting_data_etl_spark.functions.text import tokens

    shingles = word_ngrams(text_col, SHINGLE_N)
    hashes = F.transform(shingles, _shingle_hash_spark)

    def perm_min(a: int, b: int):
        return F.array_min(
            F.transform(hashes, lambda x: (F.lit(a) * x + F.lit(b)) % MERSENNE_P)
        )

    sig = F.array(*[perm_min(a, b) for a, b in PERMS])
    # zero-token docs sign as 16 NULLs — identical to the dataset form
    # (whose shingle rows are NULL for such docs) and the SQL oracles
    null_sig = F.array(
        *[F.lit(None).cast("long") for _ in range(MINHASH_HASHES)]
    )
    return F.when(
        F.coalesce(F.size(tokens(text_col)), F.lit(0)) <= 0, null_sig
    ).otherwise(sig)


def word_shingles_df(
    docs: DataFrame,
    text_col: str = "text",
    n: int | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id[, extra], s) word n-gram shingle rows — codegen formulation.

    :func:`ting_data_etl_spark.functions.text.word_ngrams` materializes a
    per-document shingle ARRAY through an interpreted ``transform`` (a
    slice+concat per shingle, out of codegen) before exploding. This form
    explodes tokens once and assembles each shingle from ``lead`` windows —
    tokenize/explode/lead/concat all inside whole-stage codegen, one shuffle
    on doc_id, no per-doc array allocation. Output rows are identical
    (parity pytest-pinned), including the edge cases: documents shorter
    than *n* tokens yield one partial shingle; ZERO-TOKEN documents (NULL
    text, empty text, punctuation-only) yield one NULL shingle via
    ``posexplode_outer``'s null row — the oracle's semantics exactly
    (DuckDB's ``array_to_string`` over an empty/NULL slice is NULL), so
    such documents hash to NULL and are unpairable on BOTH engines,
    instead of Spark giving them the empty-string hash and pairing every
    empty doc with every other. ``n`` resolves ``SHINGLE_N`` at CALL time
    (None sentinel), so a runtime retune moves the Spark side together
    with the call-time-built oracles (the lsh_bands convention).
    """
    from pyspark.sql import Window

    from ting_data_etl_spark.functions.text import tokens

    if n is None:
        n = SHINGLE_N

    # Column construction cached per (text_col, n) — OPTIMIZATION r16:
    # these unresolved exprs cost ~150 py4j round-trips to build and are
    # identical across calls; the arrival gate rebuilds them per trigger.
    # Key folds n (SHINGLE_N resolves at call time — retune-safe).
    from ting_data_etl_spark.exprcache import cached_exprs

    def _build():
        wdoc = Window.partitionBy("doc_id").orderBy("pos")
        cnt = Window.partitionBy("doc_id")
        explode_col = F.posexplode_outer(tokens(F.col(text_col))).alias(
            "pos", "t"
        )
        shingle_col = (
            F.when(F.col("pos").isNull(), F.lit(None).cast("string"))
            .otherwise(
                F.concat_ws(
                    " ", "t", *[F.lead("t", i).over(wdoc) for i in range(1, n)]
                )
            )
            .alias("s")
        )
        ntok_col = F.count("pos").over(cnt).alias("__n_tok")
        keep = F.col("pos").isNull() | (
            F.col("pos") <= F.greatest(F.col("__n_tok") - n, F.lit(0))
        )
        return explode_col, shingle_col, ntok_col, keep

    explode_col, shingle_col, ntok_col, keep = cached_exprs(
        ("word_shingles", text_col, n), _build
    )
    tok = docs.select("doc_id", *extra_cols, explode_col)
    sh = tok.select("doc_id", *extra_cols, "pos", shingle_col, ntok_col)
    return sh.filter(keep).drop("pos", "__n_tok")


def minhash_signatures_df(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, sig: array<long>) via shingle rows → 16 min-aggregates.

    The scale formulation: :func:`word_shingles_df` keeps shingle assembly
    in codegen, one md5 per (doc, shingle) row, and the groupBy reuses the
    window's doc_id partitioning (no second shuffle), map-side partial
    mins. Identical output to :func:`minhash_signature`.
    """
    from ting_data_etl_spark.exprcache import cached_exprs

    sh = word_shingles_df(docs, text_col)

    # agg/array Column construction cached per (PERMS, p) — OPTIMIZATION
    # r16: the 16 min-aggregates alone cost ~0.24 s of py4j round-trips
    # per construction (cProfile), rebuilt per arrival-gate trigger. Key
    # folds the permutation table so a retune mints a fresh entry.
    def _build():
        hash_col = _shingle_hash_spark(F.col("s")).alias("x")
        aggs = [
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % MERSENNE_P).alias(
                f"h{i}"
            )
            for i, (a, b) in enumerate(PERMS)
        ]
        sig_col = F.array(
            *[f"h{i}" for i in range(len(PERMS))]
        ).alias("sig")
        return hash_col, aggs, sig_col

    hash_col, aggs, sig_col = cached_exprs(
        ("minhash_aggs", tuple(tuple(p) for p in PERMS), MERSENNE_P), _build
    )
    hx = sh.select("doc_id", hash_col)
    wide = hx.groupBy("doc_id").agg(*aggs)
    return wide.select("doc_id", sig_col)


def lsh_bands(sig_col, n_bands: int | None = None) -> F.Column:
    """Band keys as array<string>: band_j = 'sig[jr],…,sig[jr+r-1]'.

    Joined together with the band index (separate hash tables per band —
    the standard LSH construction). ``n_bands`` resolves the module global
    at CALL time (not def time) so a runtime retune of ``MINHASH_BANDS``
    takes effect everywhere — the same def-time-default trap fixed for
    ``KMEANS_LISTS`` in round 6.
    """
    if n_bands is None:
        n_bands = MINHASH_BANDS
    r = MINHASH_HASHES // n_bands
    if r * n_bands != MINHASH_HASHES:
        # a ValueError, not assert: under python -O an assert vanishes and
        # the trailing permutations would silently drop from LSH coverage
        raise ValueError(
            f"MINHASH_BANDS={n_bands} must divide MINHASH_HASHES="
            f"{MINHASH_HASHES}; {MINHASH_HASHES % n_bands} signature "
            "positions would be silently uncovered"
        )
    # a zero-token document's signature is 16 NULLs; its band keys must be
    # NULL (oracle: array_to_string over an all-NULL slice is NULL) so the
    # equi-join can never pair empty/NULL docs with each other — concat_ws
    # alone would give them all the SAME '' band and pair every empty doc
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda j: F.when(
            F.element_at(sig_col, 1).isNull(), F.lit(None).cast("string")
        ).otherwise(F.concat_ws(",", F.slice(sig_col, j * r + 1, r))),
    )


def _sql_perm_mins() -> str:
    terms = ", ".join(
        f"list_min(list_transform(hashes, x -> ({a} * x + {b}) % {MERSENNE_P}))"
        for a, b in PERMS
    )
    return f"list_value({terms})"


def _minhash_sig_sql(doc_relation: str = "documents", prelude: str = "") -> str:
    """Signature CTE, rebuilt at CALL time from the current constants.

    The whole minhash oracle family is registered as zero-arg callables
    (resolved per run by ``registry.resolve_oracles``) rather than baked
    import-time strings, so a runtime retune of ``MINHASH_BANDS`` /
    ``BAND_FREQUENCY_CAP`` / ``SHINGLE_N`` keeps the oracle on the SAME
    semantics as the Spark side (whose ``lsh_bands`` /
    ``band_frequency_cap`` already resolve the globals at call time) —
    the pattern the simhash family established.

    *doc_relation* names the (doc_id, text) relation the chain tokenizes
    (the r9 delete variant points it at an edited-text CTE supplied via
    *prelude*, which is spliced verbatim after ``WITH``).
    """
    return f"""
WITH {prelude}tok AS (
  SELECT doc_id,
         {SQL_TOKEN_LIST} AS toks
  FROM {doc_relation}
),
sh AS (
  SELECT doc_id,
         list_transform(
           range(0, greatest(len(toks) - {SHINGLE_N - 1}, 1)),
           i -> array_to_string(list_slice(toks, i + 1, i + {SHINGLE_N}), ' ')
         ) AS shingles
  FROM tok
),
hx AS (
  SELECT doc_id,
         list_transform(shingles, s -> {sql_shingle_hash("s")}) AS hashes
  FROM sh
),
sig AS (SELECT doc_id, {_sql_perm_mins()} AS sig FROM hx)
"""


def _sql_banding_ctes(capped_name: str = "capped", corpus_filter: str = "") -> str:
    """The bands + frequency-capped CTEs — ONE definition shared by the
    self-join pairs chain and the incremental probe chain (previously two
    byte-identical copies that a band-encoding change could desync)."""
    r = MINHASH_HASHES // MINHASH_BANDS
    return f"""
bands AS (
  SELECT doc_id, j,
         array_to_string(list_slice(sig,
           j * {r} + 1,
           j * {r} + {r}), ',') AS band
  FROM sig CROSS JOIN (SELECT unnest(range(0, {MINHASH_BANDS})) AS j)
),
{capped_name} AS (
  SELECT doc_id, j, band FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY j, band) AS bucket_n
    FROM bands{corpus_filter}
  ) WHERE bucket_n <= {BAND_FREQUENCY_CAP}
)"""


def _sql_minhash_pairs_cte(recursive: bool = False) -> str:
    """MinHash candidate-pair CTE chain (ends in ``mh_pairs``).

    ``recursive=True`` emits ``WITH RECURSIVE`` so a downstream closure CTE
    (:func:`_sql_closure_ctes`) can compose — the flag replaces the fragile
    ``.replace("WITH tok", "WITH RECURSIVE tok", 1)`` surgery that used to
    be copy-pasted at every recursive call site (dedup cc, keep-canonical,
    e2e status, ensemble cc).
    """
    cte = f"""
{_minhash_sig_sql()},
{_sql_banding_ctes()},
mh_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.j = b.j AND a.doc_id < b.doc_id
)"""
    if recursive:
        cte = cte.replace("WITH tok", "WITH RECURSIVE tok", 1)
    return cte


def _sql_closure_ctes(pairs_rel: str = "mh_pairs", docs_rel: str = "documents") -> str:
    """Transitive-closure CTE chain over an (doc_a, doc_b) pair relation.

    Ends in ``labeled(doc_id, component)`` — every doc joined to the
    min-reachable label, singletons labeled by themselves. ONE copy shared
    by the dedup cc, keep-canonical, e2e-status, and ensemble oracles (the
    enclosing WITH must be RECURSIVE; see ``_sql_minhash_pairs_cte``), so a
    labeling fix cannot land in one twin and silently miss the others.
    *docs_rel* names the node universe (the delete-maintenance selection
    labels a post-edit docs2 CTE instead of the full table).
    """
    return f"""und AS (
  SELECT doc_a AS a, doc_b AS b FROM {pairs_rel}
  UNION ALL
  SELECT doc_b, doc_a FROM {pairs_rel}
),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
),
comp AS (SELECT a AS doc_id, MIN(b) AS min_reach FROM reach GROUP BY a),
labeled AS (
  SELECT d.doc_id,
         LEAST(d.doc_id, COALESCE(c.min_reach, d.doc_id)) AS component
  FROM {docs_rel} d LEFT JOIN comp c ON d.doc_id = c.doc_id
)"""


def _sql_minhash_pairs() -> str:
    return f"""
{_sql_minhash_pairs_cte()}
SELECT doc_a, doc_b FROM mh_pairs
"""


def band_frequency_cap(bands: DataFrame, cap: int | None = None) -> DataFrame:
    """Drop LSH band buckets holding more than *cap* documents.

    ``cap`` resolves ``BAND_FREQUENCY_CAP`` at call time so a retune both
    rotates the staged-pairs fingerprint AND rebuilds with the new value.

    A window count over ``(j, band)`` — the SAME key the candidate self-join
    shuffles on, so with co-partitioning the cap adds no extra shuffle over
    what the join already pays. Buckets above the cap are boilerplate (every
    member pair would be emitted, O(cap²) blow-up); dropping them bounds the
    join's worst-case fan-out at ``cap²/2`` pairs per bucket.
    """
    from pyspark.sql import Window

    if cap is None:
        cap = BAND_FREQUENCY_CAP

    w = Window.partitionBy("j", "band")
    return (
        bands.withColumn("bucket_n", F.count("*").over(w))
        .filter(F.col("bucket_n") <= cap)
        .drop("bucket_n")
    )


def _dedup_memo_key(sf_dir: str, tag: str) -> tuple | None:
    """Relcache key for the dedup-family memoized relations: the staged-
    artifact constants token (every knob that changes signatures, bands
    or caps) + the documents source fingerprint — the same invalidation
    discipline as the staged pairs/labels dirs and the ANN memos.

    Returns ``None`` when ``sf_dir`` holds no documents parquet (unit
    tests monkeypatch :func:`load_table` with synthetic frames under a
    fake dir): there is no on-disk fingerprint to key on, and memoizing
    unkeyed synthetic inputs in the shared session could serve one
    test's data to another — callers bypass the memo instead."""
    import os

    src = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(src):
        return None
    return (
        tag,
        os.path.abspath(sf_dir),
        _stage_version_token(),
        _source_fp(sf_dir, "documents"),
    )


def _memo_or_build(spark, key, build):
    """``session_relation`` when *key* is real, the bare lazy build when
    the memo key is unavailable (synthetic-input tests)."""
    from ting_data_etl_spark.relcache import session_relation

    if key is None:
        return build()
    return session_relation(spark, key, build)


def corpus_minhash_sigs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-memoized eager checkpoint of the full-corpus MinHash
    signatures (doc_id, sig: array<long>).

    OPTIMIZATION r15 (guide §2.4): five registered queries — the LSH
    self-join, the raw signatures, both incremental probes and the
    estimate-error report — each re-ran the shingle → md5 → 16-min
    signature pass over the whole corpus per invocation. One 17-longs-
    per-doc checkpoint per session serves every consumer; batch-only
    signing (arrival gate, re-edit re-sign) stays on the lazy
    :func:`minhash_signatures_df` path.
    """
    return _memo_or_build(
        spark,
        _dedup_memo_key(sf_dir, "minhash_sigs"),
        lambda: minhash_signatures_df(
            load_table(spark, sf_dir, "documents")
        ).localCheckpoint(eager=True),
    )


def _minhash_pairs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH candidate-pair plan itself (see the registered query for
    semantics); consumers go through :func:`minhash_pairs_df`."""
    sig = corpus_minhash_sigs_df(spark, sf_dir)
    bands = sig.select(
        "doc_id", F.posexplode(lsh_bands(F.col("sig"))).alias("j", "band")
    )
    bands = band_frequency_cap(bands)
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.j") == F.col("b.j"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    return pairs.distinct()


def minhash_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-memoized eager checkpoint of the distinct LSH candidate
    pairs.

    OPTIMIZATION r15 (guide §2.4): the pair relation feeds FOUR
    registered queries per session — the pairs query itself, the
    estimate-error report, the cross-source overlap rollup and the
    near-dup pagerank — each previously re-running the banded self-join.
    The cross-SESSION staged parquet (:func:`staged_minhash_pairs`)
    already exists for the component builds; this memo is the in-session
    complement for the one-shot analytics that must recompute from the
    parquet inputs each run. Plan guarding moves to the PRE_CHECKPOINT
    composite digest in tests/test_plan_pins.py.
    """
    return _memo_or_build(
        spark,
        _dedup_memo_key(sf_dir, "minhash_pairs_rel"),
        lambda: _minhash_pairs_plan(spark, sf_dir).localCheckpoint(
            eager=True
        ),
    )


@register("dedup_minhash_lsh_pairs", oracle=_sql_minhash_pairs)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via MinHash-LSH banding.

    Plan shape: per-row signature (codegen) → explode bands (b rows/doc,
    16 B keys) → :func:`band_frequency_cap` → self-join on band → distinct
    pairs. The only shuffle carries band keys; the cap (mirrored in the
    oracle SQL) keeps pathological boilerplate bands from going quadratic.
    """
    return minhash_pairs_df(spark, sf_dir)


def _sql_minhash_sigs() -> str:
    return f"""
{_minhash_sig_sql()}
SELECT doc_id, array_to_string(sig, ',') AS sig_str FROM sig
"""


@register("dedup_minhash_signatures", oracle=_sql_minhash_sigs)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw MinHash signatures (joined to one string for oracle comparison)."""
    sig = corpus_minhash_sigs_df(spark, sf_dir)
    # zero-token docs: sig is 16 NULLs -> sig_str NULL, matching DuckDB's
    # array_to_string (which returns NULL here where concat_ws returns '')
    return sig.select(
        "doc_id",
        F.when(F.element_at("sig", 1).isNull(), F.lit(None).cast("string"))
        .otherwise(
            F.concat_ws(",", F.transform("sig", lambda x: x.cast("string")))
        )
        .alias("sig_str"),
    )


# --- n-gram Jaccard (exact pairwise, blocked by source) --------------------
def _sql_jaccard() -> str:
    """Call-time builder (the module convention): a runtime retune of
    SHINGLE_FREQUENCY_CAP / SHINGLE_N / the threshold rebuilds the oracle
    with the Spark side instead of serving an import-time snapshot."""
    return f"""
WITH tok AS (
  SELECT doc_id, source,
         {SQL_TOKEN_LIST} AS toks
  FROM documents
),
sh AS (
  -- 60-bit shingle ids: join/shuffle carries 8-byte ints, not shingle text
  SELECT doc_id, source, unnest(list_distinct(list_transform(
           range(0, greatest(len(toks) - {SHINGLE_N - 1}, 1)),
           i -> CAST('0x' || substr(md5(array_to_string(list_slice(toks, i + 1, i + {SHINGLE_N}), ' ')), 1, 15) AS BIGINT)
         ))) AS shingle
  FROM tok
),
capped AS (
  SELECT doc_id, source, shingle FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY source, shingle) AS bucket_n FROM sh
  ) WHERE bucket_n <= {SHINGLE_FREQUENCY_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM capped a JOIN capped b
    ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b,
       CAST(s.common AS DOUBLE) / (sa.n + sb.n - s.common) AS jaccard
FROM shared s
JOIN sizes sa ON s.doc_a = sa.doc_id
JOIN sizes sb ON s.doc_b = sb.doc_id
WHERE CAST(s.common AS DOUBLE) / (sa.n + sb.n - s.common) >= 0.1
"""


def shingle_frequency_cap(sh: DataFrame, cap: int | None = None) -> DataFrame:
    """Drop shingles shared by more than *cap* docs within a source block.

    ``cap`` resolves ``SHINGLE_FREQUENCY_CAP`` at CALL time (None sentinel,
    same as :func:`band_frequency_cap` / :func:`lsh_bands`) so a runtime
    retune actually changes the jaccard block's semantics instead of
    silently keeping the import-time value.

    Same construction as :func:`band_frequency_cap` but keyed on
    ``(source, shingle)`` — the block+join key of the shared-shingle
    self-join. A boilerplate shingle appearing in every document of a source
    would otherwise contribute O(n²) join rows; capping bounds it at cap²
    while the Jaccard denominator (per-doc shingle count) is computed over
    the same capped set on both engines, keeping scores consistent.
    """
    from pyspark.sql import Window

    if cap is None:
        cap = SHINGLE_FREQUENCY_CAP

    w = Window.partitionBy("source", "shingle")
    return (
        sh.withColumn("bucket_n", F.count("*").over(w))
        .filter(F.col("bucket_n") <= cap)
        .drop("bucket_n")
    )


@register("dedup_ngram_jaccard_pairs", oracle=_sql_jaccard)
def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ 0.1, blocked by ``source``.

    The shared-shingle self-join is the scalable formulation (vs. a cross
    join): pair candidates materialize only where an actual shingle is
    shared, the ``source`` block bounds worst-case fan-out, and
    :func:`shingle_frequency_cap` (mirrored in the oracle) removes
    boilerplate shingles that would make a block quadratic. Jaccard is
    exact integer arithmetic — deterministic across engines.
    """
    p = shingle_pair_counts_df(spark, sf_dir)
    out = p.select(
        "doc_a",
        "doc_b",
        (
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common"))
        ).alias("jaccard"),
    )
    return out.filter(F.col("jaccard") >= 0.1)


def _shingle_pair_counts_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, common, na, nb) over the capped 60-bit shingle
    relation — the shared-shingle self-join both exact-similarity
    queries score from; consumers go through
    :func:`shingle_pair_counts_df`."""
    d = load_table(spark, sf_dir, "documents")
    sh = (
        word_shingles_df(d, extra_cols=("source",))
        .select(
            "doc_id",
            "source",
            F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10)
            .try_cast("long")
            .alias("shingle"),
        )
        .distinct()
    )
    sh = shingle_frequency_cap(sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        shared.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "common",
            F.col("sa.n").alias("na"),
            F.col("sb.n").alias("nb"),
        )
    )


def shingle_pair_counts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-memoized eager checkpoint of the shared-shingle pair
    counts (doc_a, doc_b, common, na, nb).

    OPTIMIZATION r15 (guide §2.4): ``dedup_ngram_jaccard_pairs`` and
    ``dedup_shingle_containment`` build the IDENTICAL capped-shingle
    self-join (their own docstrings note "the two scores can share one
    shared-join execution") and differ only in the final score
    expression — Jaccard ``common/(na+nb-common)`` vs containment
    ``common/min(na,nb)``. One checkpointed count relation per session
    serves both scorings; plan guarding moves to the PRE_CHECKPOINT
    composite digest in tests/test_plan_pins.py.
    """
    return _memo_or_build(
        spark,
        _dedup_memo_key(sf_dir, "shingle_pair_counts"),
        lambda: _shingle_pair_counts_plan(spark, sf_dir).localCheckpoint(
            eager=True
        ),
    )


# --- SimHash (32-bit, nibble-arithmetic portable) --------------------------
#: SimHash signature width — THE capacity knob of the simhash family, sized
#: to the corpus exactly like ``similarity.SRP_BITS``. The 4-band search
#: splits the signature into bands of ``SIMHASH_BITS / 4`` bits, so a band
#: has ``2^(BITS/4)`` distinct bucket values and a corpus of N docs puts
#: ~``N / 2^(BITS/4)`` docs in each bucket. At 32 bits a band holds 8 bits →
#: 256 buckets: right-sized for the 5k-doc test corpus (~20 docs/bucket),
#: SATURATED at ~500k docs (~2000 docs/bucket — every bucket blows past
#: ``BAND_FREQUENCY_CAP`` and recall collapses; measured in SCALE_r06).
#: Deployments pick ``BITS ≈ 4·log2(N / target_bucket_size)`` (target 16-64
#: docs/bucket; e.g. N=500k → 60 bits, the md5-derived maximum here). Beyond
#: ~2^26 docs, widen past 60 bits by switching the digest to 64-bit halves
#: of the md5 and raising the band count (8 bands → complete for hamming ≤7).
#: It is a CONSTANT, not a formula, because the DuckDB oracle embeds the
#: same width at registration time — retuning is a config change that refits
#: both sides together (the register() callables below re-read it).
SIMHASH_BITS = 32


def simhash32(text_col) -> F.Column:
    """``SIMHASH_BITS``-bit SimHash from token md5 digests, as a BIGINT.

    Per token: first ``SIMHASH_BITS/4`` hex chars of md5 → nibbles → bits.
    Per bit: +1 if set else -1, summed over tokens; sign forms the signature
    bit. Pure string/integer arithmetic so DuckDB reproduces it exactly.
    (Name kept from the 32-bit original; the width now follows the module
    constant — max 60 bits so the top bit stays clear of the int64 sign.)
    """
    from ting_data_etl_spark.functions.text import tokens

    bits = SIMHASH_BITS
    toks = tokens(text_col)
    digests = F.transform(toks, lambda t: F.substring(F.md5(t), 1, bits // 4))
    def nibble(d, pos):  # value of hex digit at 1-based pos
        return F.conv(F.substring(d, pos, 1), 16, 10).try_cast("int")

    def vote_fn(pos, shift):
        # two-arg closure factory — Spark HOF lambdas must take exactly
        # the declared arity, no extra default params
        def fn(acc, d):
            return acc + F.when(
                F.floor(nibble(d, pos) / (2**shift)) % 2 == 1, F.lit(1)
            ).otherwise(F.lit(-1))

        return fn

    bit_votes = []
    for i in range(bits):
        pos = i // 4 + 1  # hex char index
        shift = 3 - (i % 4)  # bit within nibble, MSB first
        votes = F.aggregate(digests, F.lit(0), vote_fn(pos, shift))
        bit_votes.append(
            F.when(votes > 0, F.lit(2 ** (bits - 1 - i))).otherwise(F.lit(0))
        )
    total = bit_votes[0]
    for b in bit_votes[1:]:
        total = total + b
    return total.cast("long")


def _sql_simhash_bits() -> str:
    """SQL twin of :func:`simhash32`: ``SIMHASH_BITS`` vote terms summed.

    Same nibble arithmetic as the Spark side — hex digit at position
    ``i // 4 + 1``, bit ``3 - i % 4`` within the nibble, +1/-1 votes summed
    over token digests (empty docs vote 0 → bit 0, matching ``F.aggregate``'s
    zero init).
    """
    terms = []
    for i in range(SIMHASH_BITS):
        pos = i // 4 + 1
        shift = 3 - (i % 4)
        nib = f"CAST('0x' || substr(d, {pos}, 1) AS BIGINT)"
        vote = f"CASE WHEN ({nib} // {2 ** shift}) % 2 = 1 THEN 1 ELSE -1 END"
        votes = f"coalesce(list_sum(list_transform(digests, d -> {vote})), 0)"
        terms.append(
            f"CASE WHEN {votes} > 0 THEN {2 ** (SIMHASH_BITS - 1 - i)} ELSE 0 END"
        )
    return " + ".join(terms)


def _sql_simhash() -> str:
    """Oracle for the signature query — built at resolve time so a
    ``SIMHASH_BITS`` retune regenerates it alongside the Spark side."""
    return f"""
WITH tok AS (
  SELECT doc_id,
         {SQL_TOKEN_LIST} AS toks
  FROM documents
),
dig AS (
  SELECT doc_id, list_transform(toks, t -> substr(md5(t), 1, {SIMHASH_BITS // 4})) AS digests
  FROM tok
)
SELECT doc_id, CAST({_sql_simhash_bits()} AS BIGINT) AS simhash FROM dig
"""


def simhash_signatures_df(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) via explode → 32 codegen vote-sum aggregates.

    The dataset formulation of :func:`simhash32` (same trick as
    :func:`minhash_signatures_df`): higher-order-function lambdas are
    interpreted, so folding 32 bit-votes per row is slow; exploding tokens
    and summing 32 ``CASE`` expressions in one hash aggregate keeps the
    whole pipeline inside whole-stage codegen with ONE shuffle on doc_id.
    ``explode_outer`` keeps empty documents (zero votes → simhash 0),
    matching the fold's zero init. Output is identical bit for bit.
    """
    from ting_data_etl_spark.functions.text import tokens

    bits = SIMHASH_BITS
    tok = docs.select(
        "doc_id", F.explode_outer(tokens(F.col(text_col))).alias("t")
    )
    d8 = tok.select("doc_id", F.substring(F.md5("t"), 1, bits // 4).alias("d"))
    # hex nibbles computed once, shared by their 4 bit-vote expressions
    nibs = d8.select(
        "doc_id",
        *[
            F.conv(F.substring("d", pos, 1), 16, 10).try_cast("int").alias(f"n{pos}")
            for pos in range(1, bits // 4 + 1)
        ],
    )
    votes = []
    for i in range(bits):
        pos = i // 4 + 1
        shift = 3 - (i % 4)
        nib = F.col(f"n{pos}")
        vote = (
            F.when(nib.isNull(), 0)  # explode_outer's empty-doc row
            .when(F.floor(nib / (2**shift)) % 2 == 1, 1)
            .otherwise(-1)
        )
        votes.append(F.sum(vote).alias(f"v{i}"))
    wide = nibs.groupBy("doc_id").agg(*votes)
    total = F.lit(0).cast("long")
    for i in range(bits):
        total = total + F.when(
            F.col(f"v{i}") > 0, F.lit(2 ** (bits - 1 - i))
        ).otherwise(F.lit(0))
    return wide.select("doc_id", total.alias("simhash"))


# --- incremental dedup: new batch vs indexed corpus ------------------------
#: The "new crawl" split: docs with doc_id % 5 == 1 play the incoming batch,
#: the rest the already-indexed corpus. In production the corpus side is a
#: PERSISTED band index (bucketed by (j, band)); the batch re-signs only its
#: own documents, so incremental cost is O(|batch|), never O(|corpus|).
INCR_BATCH_MOD = 5
INCR_BATCH_REM = 1

def _sql_incr_minhash() -> str:
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
)
SELECT d.doc_id, h.dup_of, h.dup_of IS NOT NULL AS is_dup
FROM (SELECT DISTINCT doc_id FROM batch) d
LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


@register("dedup_incremental_minhash", oracle=_sql_incr_minhash)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedupe an incoming batch against the indexed corpus (asymmetric LSH).

    The operational form of near-dup dedup at 100 TB: a full self-join over
    the corpus happens once, at bootstrap; every crawl after that asks "which
    of these NEW documents already exist?". The corpus's banded signatures
    are a standing index — here rebuilt from the same table for test
    determinism, in production a bucketed table partitioned by (j, band) —
    and the batch side signs only its own rows and equi-joins into that
    layout: corpus-side cost is a partition-pruned index probe, batch-side
    cost is O(|batch|), and a small batch broadcasts. The hot-bucket cap is
    applied to the CORPUS side (boilerplate buckets, same constant as the
    self-join form) and mirrored in the oracle.

    Output: one row per batch document — ``dup_of`` = smallest matching
    corpus doc_id (the canonical keeper rule) or NULL, plus ``is_dup``.
    """
    d = load_table(spark, sf_dir, "documents")
    sig = corpus_minhash_sigs_df(spark, sf_dir)
    bands = sig.select(
        "doc_id", F.posexplode(lsh_bands(F.col("sig"))).alias("j", "band")
    )
    is_batch = F.pmod(F.col("doc_id"), F.lit(INCR_BATCH_MOD)) == INCR_BATCH_REM
    corpus = band_frequency_cap(bands.filter(~is_batch))
    batch = bands.filter(is_batch)
    hits = (
        batch.alias("b")
        .join(
            corpus.alias("c"),
            (F.col("b.j") == F.col("c.j")) & (F.col("b.band") == F.col("c.band")),
        )
        .groupBy(F.col("b.doc_id").alias("doc_id"))
        .agg(F.min(F.col("c.doc_id")).alias("dup_of"))
    )
    batch_docs = d.filter(is_batch).select("doc_id")
    return batch_docs.join(hits, "doc_id", "left").select(
        "doc_id",
        "dup_of",
        F.col("dup_of").isNotNull().alias("is_dup"),
    )


# --- incremental minhash with deletes / re-edits (tombstone maintenance) -----
#: Maintenance scenario on the standing band index (VERDICT r8 #4's lexical
#: twin): of the CORPUS (doc_id % 5 != 1), every doc_id % 10 == 4 row is
#: DELETED from the index; half of those (doc_id % 20 == 4) are RE-EDITED
#: (text || ' edited ' || doc_id — deterministic, per-doc-unique, both
#: engines) and re-signed through the same O(batch) path new arrivals use.
INCR_DELETE_MOD, INCR_DELETE_REM = 10, 4
INCR_READD_MOD, INCR_READD_REM = 20, 4


def _incr_mh_deleted() -> F.Column:
    return F.pmod(F.col("doc_id"), F.lit(INCR_DELETE_MOD)) == INCR_DELETE_REM


def _incr_mh_readded() -> F.Column:
    return F.pmod(F.col("doc_id"), F.lit(INCR_READD_MOD)) == INCR_READD_REM


def _sql_incr_minhash_delete() -> str:
    deleted = f"doc_id % {INCR_DELETE_MOD} = {INCR_DELETE_REM}"
    readded = f"doc_id % {INCR_READD_MOD} = {INCR_READD_REM}"
    corpus = f"doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_REM}"
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
{_sql_banding_ctes("corpus_capped", f" WHERE ({corpus}) AND ({alive})")},
batch AS (
  SELECT doc_id, j, band FROM bands
  WHERE doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_REM}
),
hits AS (
  SELECT b.doc_id, MIN(c.doc_id) AS dup_of
  FROM batch b JOIN corpus_capped c ON b.j = c.j AND b.band = c.band
  GROUP BY b.doc_id
)
SELECT d.doc_id, h.dup_of, h.dup_of IS NOT NULL AS is_dup
FROM (SELECT DISTINCT doc_id FROM batch) d
LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


@register("dedup_incremental_minhash_delete", oracle=_sql_incr_minhash_delete)
def dedup_incremental_minhash_delete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental LSH probe against a tombstoned + re-edited band index.

    The lexical twin of :func:`~ting_data_etl_spark.operators.similarity.
    similarity_incremental_ivf_delete`, completing the maintenance
    contract for the standing band index WITHOUT re-signing the corpus:

    - **delete**: tombstone ids LEFT-ANTI-JOINED out of the standing bands
      (broadcast id set — works for an arbitrary deletions feed);
    - **update (re-edit)**: an edited document is delete + re-insert — its
      NEW text is re-signed through the same O(batch) signature pass new
      arrivals use, then unions into the index;
    - the batch then probes the post-edit index exactly like the base
      query (hot-bucket cap applied to the POST-edit corpus on both
      engines, so a re-edit that lands in a boilerplate bucket is dropped
      identically).

    The oracle signs a ``docs2`` relation carrying the edited text and
    filters the banded corpus by the alive-predicate — tombstone leaks
    (a deleted doc matching as ``dup_of``) and stale-signature matches
    (an edited doc matching via its PRE-edit bands) hash-mismatch.
    """
    d = load_table(spark, sf_dir, "documents")
    sig = corpus_minhash_sigs_df(spark, sf_dir)
    bands = sig.select(
        "doc_id", F.posexplode(lsh_bands(F.col("sig"))).alias("j", "band")
    )
    is_batch = F.pmod(F.col("doc_id"), F.lit(INCR_BATCH_MOD)) == INCR_BATCH_REM
    standing = bands.filter(~is_batch)
    tombstones = d.filter(_incr_mh_deleted() & ~is_batch).select("doc_id")
    alive = standing.join(F.broadcast(tombstones), "doc_id", "left_anti")
    # re-edited docs re-enter with NEW text through the O(batch) sign path
    edited = d.filter(_incr_mh_readded() & ~is_batch).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" edited "), F.col("doc_id").cast("string")
        ).alias("text"),
    )
    readd_bands = minhash_signatures_df(edited).select(
        "doc_id", F.posexplode(lsh_bands(F.col("sig"))).alias("j", "band")
    )
    corpus = band_frequency_cap(alive.unionByName(readd_bands))
    batch = bands.filter(is_batch)
    hits = (
        batch.alias("b")
        .join(
            corpus.alias("c"),
            (F.col("b.j") == F.col("c.j")) & (F.col("b.band") == F.col("c.band")),
        )
        .groupBy(F.col("b.doc_id").alias("doc_id"))
        .agg(F.min(F.col("c.doc_id")).alias("dup_of"))
    )
    batch_docs = d.filter(is_batch).select("doc_id")
    return batch_docs.join(hits, "doc_id", "left").select(
        "doc_id",
        "dup_of",
        F.col("dup_of").isNotNull().alias("is_dup"),
    )


#: SimHash near-dup search: 4 equal bands over the ``SIMHASH_BITS``-bit
#: signature. By pigeonhole, two signatures within hamming distance ≤ 3 MUST
#: agree on at least one full band — so band-join candidates + an exact
#: hamming filter is a *complete* (not approximate) ≤3-bit near-dup search.
#: Band width (= the bucket-count capacity knob) follows ``SIMHASH_BITS``.
SIMHASH_N_BANDS = 4
SIMHASH_HAMMING_MAX = SIMHASH_N_BANDS - 1


def _sql_simhash_pairs() -> str:
    """Oracle for the pairs query — rebuilt at resolve time so a
    ``SIMHASH_BITS`` retune regenerates bands and masks on both sides."""
    w = SIMHASH_BITS // SIMHASH_N_BANDS
    mask = (1 << w) - 1
    return f"""
WITH tok AS (
  SELECT doc_id,
         {SQL_TOKEN_LIST} AS toks
  FROM documents
),
dig AS (
  SELECT doc_id, list_transform(toks, t -> substr(md5(t), 1, {SIMHASH_BITS // 4})) AS digests
  FROM tok
),
sig AS (SELECT doc_id, CAST({_sql_simhash_bits()} AS BIGINT) AS simhash FROM dig),
bands AS (
  SELECT doc_id, simhash, j, (simhash >> ({w} * j)) & {mask} AS band
  FROM sig CROSS JOIN (SELECT unnest(range(0, {SIMHASH_N_BANDS})) AS j)
),
capped AS (
  SELECT doc_id, simhash, j, band FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY j, band) AS bucket_n FROM bands
  ) WHERE bucket_n <= {BAND_FREQUENCY_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
  FROM capped a JOIN capped b
    ON a.j = b.j AND a.band = b.band AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= {SIMHASH_HAMMING_MAX}
"""


@register("dedup_simhash_pairs", oracle=_sql_simhash_pairs)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded LSH + exact hamming ≤ 3 filter.

    Same bucketed plan shape as :func:`dedup_minhash_pairs` — the shuffle
    carries (band index, band value) keys, :func:`band_frequency_cap` bounds
    hot buckets, and the hamming verify is one codegen ``bit_count(xor)`` per
    candidate. Unlike MinHash-LSH this construction is exact for its radius:
    4 bands guarantee every ≤3-bit pair shares a band (pigeonhole), so recall
    is 1.0 by construction — PROVIDED the per-band bucket space
    ``2^(SIMHASH_BITS/4)`` is sized to the corpus (see ``SIMHASH_BITS``);
    an undersized width floods every bucket past ``BAND_FREQUENCY_CAP`` and
    the cap, correctly protecting the join, drops all recall.
    """
    w = SIMHASH_BITS // SIMHASH_N_BANDS
    mask = (1 << w) - 1
    sig = corpus_simhash_sigs_df(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), w * j).bitwiseAND(F.lit(mask))
                    for j in range(SIMHASH_N_BANDS)
                ]
            )
        ).alias("j", "band"),
    )
    bands = band_frequency_cap(bands)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)


@register("dedup_simhash_signatures", oracle=_sql_simhash)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc ``SIMHASH_BITS``-bit SimHash, oracle-checked against DuckDB.

    Candidate near-dups then group on the signature (or band it 4×8 bits for
    hamming-distance-≤k search) — both single-shuffle plans.
    ``tests/test_text.py`` asserts the expression form (:func:`simhash32`)
    and this dataset form agree.
    """
    return corpus_simhash_sigs_df(spark, sf_dir)


def corpus_simhash_sigs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-memoized eager checkpoint of the full-corpus SimHash
    signatures (doc_id, simhash).

    OPTIMIZATION r15 (guide §2.4): the banded pair search and the raw
    signature query each re-ran the tokenize → md5 → 32-vote aggregate
    per invocation; one 16-byte-per-doc checkpoint serves both. Same
    keying discipline as :func:`corpus_minhash_sigs_df` (the constants
    token folds SIMHASH_BITS/SIMHASH_N_BANDS)."""
    return _memo_or_build(
        spark,
        _dedup_memo_key(sf_dir, "simhash_sigs"),
        lambda: simhash_signatures_df(
            load_table(spark, sf_dir, "documents")
        ).localCheckpoint(eager=True),
    )


# --- connected components over near-dup pairs ------------------------------
CC_MAX_ITERS = 25

def _sql_cc() -> str:
    return f"""
{_sql_minhash_pairs_cte(recursive=True)},
{_sql_closure_ctes()}
SELECT doc_id, component FROM labeled
"""


def _persistent_rdd_ids(spark) -> set[int]:
    """Ids of every RDD currently persisted in the block manager."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


#: Serializes the snapshot→checkpoint→snapshot window below. The id diff is
#: only a correct attribution if no OTHER thread persists an RDD inside that
#: window — two clustering loops running concurrently (e.g. the minhash and
#: ensemble staged builds) would otherwise attribute each other's checkpoint
#: blocks and destroy them at the next generation swap, and localCheckpoint
#: blocks are unrecoverable once unpersisted (lineage is truncated).
import threading as _threading

_CHECKPOINT_LOCK = _threading.Lock()


def _tracked_checkpoint(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """``localCheckpoint(eager=True)`` + the exact RDD ids it persisted.

    Diffs the persistent-RDD id set immediately around the checkpoint call
    (under ``_CHECKPOINT_LOCK``, so concurrent callers of THIS helper can
    never cross-attribute), so the caller learns precisely which blocks
    belong to this generation. The clustering loops below free superseded
    generations by unpersisting ONLY ids they created themselves — never a
    global sweep. Residual scope: a concurrent ``persist()``/checkpoint
    issued by code outside this module during the (held-lock) checkpoint
    job would still land in the diff; within this module every iterative
    loop routes through this helper, which is the hazard that matters.
    """
    spark = df.sparkSession
    with _CHECKPOINT_LOCK:
        before = _persistent_rdd_ids(spark)
        out = df.localCheckpoint(eager=True)
        return out, _persistent_rdd_ids(spark) - before


def _unpersist_ids(spark, ids: set[int]) -> None:
    """Unpersist exactly the RDD ids in *ids* (non-blocking).

    ``localCheckpoint`` stores blocks outside the SQL cache manager, so
    ``DataFrame.unpersist`` cannot free them and reclamation otherwise
    waits on the JVM/Python GC cycle (ContextCleaner). The iterative
    clustering loops below create one checkpoint per label generation;
    under a long bench run four CC-family queries stack dozens of label
    tables in storage memory before the cleaner catches up, squeezing
    execution memory for every query that follows (measured: an unchanged
    CC query swinging 3.5 s → 24.5 s under that pressure). Unpersisting
    each superseded generation eagerly bounds the loop's storage footprint
    to O(edges + 2 label tables) by construction.
    """
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for k in m.keySet().toArray():
        if int(k) in ids:
            m.get(k).unpersist(False)


_STAGED_COMPONENTS: dict[tuple[str, str], str] = {}

#: Which input tables each staged-components key derives its labels from.
#: The stage fingerprint folds every listed table's (mtime, size) — an
#: embeddings-only testdata regeneration must invalidate the 'ensemble'
#: stage even though documents.parquet is untouched.
_STAGE_SOURCES: dict[str, tuple[str, ...]] = {
    "minhash": ("documents",),
    "ensemble": ("documents", "embeddings"),
}


def _stage_version_token() -> str:
    """Constants token folded into the stage fingerprint.

    Any constant that changes the candidate-pair set (and therefore the
    component labels) must invalidate a durable stage directory — mtime
    fingerprints only see DATA changes, not CODE changes. Collected lazily
    so the similarity module (SRP constants, used by the ensemble key) is
    only imported when a stage is actually built.
    """
    from ting_data_etl_spark.operators import similarity as _sim

    parts = (
        MINHASH_HASHES,
        MINHASH_BANDS,
        SHINGLE_N,
        BAND_FREQUENCY_CAP,
        SHINGLE_FREQUENCY_CAP,
        SIMHASH_N_BANDS,
        SIMHASH_BITS,
        _sim.SRP_TABLES,
        _sim.SRP_BITS,
        _sim.NEAR_DUP_THRESHOLD,
    )
    import hashlib

    return hashlib.md5("_".join(str(p) for p in parts).encode()).hexdigest()[:10]


def _stage_dir(sf_dir: str, fp_parts: list[str]) -> str:
    """ONE path scheme for every staged artifact under this module.

    The dataset tag is ``basename + md5(abspath)[:8]`` — readable, and
    collision-free where the old ``strip('/').replace('/','_')`` munging
    aliased ``/a/b_c`` with ``/a/b/c``. Shared by the labels and pairs
    stages so a change to the invalidation scheme cannot drift between
    them.
    """
    import hashlib
    import os
    import tempfile

    ap = os.path.abspath(sf_dir)
    tag = f"{os.path.basename(ap)}_{hashlib.md5(ap.encode()).hexdigest()[:8]}"
    return os.path.join(
        tempfile.gettempdir(), "ting_cc_stage", tag, "_".join(fp_parts)
    )


def new_run_dir(root: str) -> str:
    """Mint a per-invocation run dir under *root*, sweeping stale siblings.

    ONE definition of the tempdir run-output lifecycle (the r12 review
    found the sweep copy-pasted across three sinks, and its 1-hour TTL
    could delete a run whose lazily-returned DataFrame a long-lived caller
    still held): run dirs are named ``<pid>-<hex>`` and a sibling is
    pruned when its creator process is DEAD — a live process may still
    read its files, a dead one cannot (the session died with it) — or,
    as a recycled-pid / legacy-name bound, when it is older than 24 h.
    Returns the new run dir path, NOT created (parquet writers refuse an
    existing target; callers that append subdirs makedirs it themselves).
    """
    import os
    import shutil
    import time
    import uuid

    if os.path.isdir(root):
        now = time.time()
        for d in os.listdir(root):
            p = os.path.join(root, d)
            try:
                age = now - os.path.getmtime(p)
            except OSError:
                age = 0.0
            try:
                # parsed separately: an unparseable name (e.g. a legacy
                # 'foo-bar' dir) must NOT reset a measured age to 0.0, or
                # the 24 h fallback never prunes it (ADVICE r12)
                pid = int(d.split("-", 1)[0]) if "-" in d else None
            except ValueError:
                pid = None
            dead = False
            if pid is not None:
                try:
                    os.kill(pid, 0)
                except ProcessLookupError:
                    dead = True
                except OSError:
                    pass
            if dead or age > 24 * 3600:
                shutil.rmtree(p, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    return os.path.join(root, f"{os.getpid()}-{uuid.uuid4().hex}")


def _source_fp(sf_dir: str, table: str) -> str:
    import os

    src = os.path.join(sf_dir, f"{table}.parquet")
    return f"{int(os.path.getmtime(src))}_{os.path.getsize(src)}"


def _publish_stage(
    df: DataFrame, out: str, partition_by: tuple[str, ...] = ()
) -> None:
    """Atomic write-once publish: write a tmp dir, rename into place.

    check-_SUCCESS-then-``mode('overwrite')`` straight onto the shared
    stage path is a race: two processes cold-starting together would
    overwrite each other mid-commit and could leave a mixed part-file set
    under a valid ``_SUCCESS`` — served permanently because the
    fingerprint still matches. Writing to a pid-suffixed tmp dir and
    ``os.rename``-ing makes publication all-or-nothing: the loser's
    rename fails (ENOTEMPTY), it discards its tmp dir, and every reader
    sees exactly one complete artifact. Same contract as the IVF model
    json (similarity.ivf_centroids) and the streaming split stage.
    """
    import os
    import shutil

    from ting_data_etl_spark import runstats

    runstats.record("stage_build", out)
    tmp = f"{out}.tmp.{os.getpid()}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    try:
        os.rename(tmp, out)
    except OSError:
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            # A concurrent publisher won the race with a complete artifact.
            shutil.rmtree(tmp, ignore_errors=True)
            return
        # `out` exists but carries no _SUCCESS: a stale partial left by a
        # crashed writer (e.g. a pre-rename-era mode('overwrite') dying
        # mid-write). Without this sweep every later publish would fail
        # the rename (ENOTEMPTY), see no _SUCCESS, and re-raise forever —
        # a permanent wedge the old direct-overwrite write self-healed.
        shutil.rmtree(out, ignore_errors=True)
        try:
            os.rename(tmp, out)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(os.path.join(out, "_SUCCESS")):
                raise


def purge_stages(sf_dir: str) -> None:
    """Remove every staged artifact for *sf_dir* — disk AND process dicts.

    The supported way for stress harnesses to force a cold BUILD
    measurement. Callers must NOT re-derive the on-disk path themselves:
    the tag scheme lives in :func:`_stage_dir` and has already changed
    once (lossy munging -> md5 tag), silently turning a re-derived purge
    into a no-op that served cached artifacts as "build" timings.
    """
    import os
    import shutil

    shutil.rmtree(os.path.dirname(_stage_dir(sf_dir, ["x"])), ignore_errors=True)
    # the per-session relation memo rides the same invalidation contract:
    # a purge that forces cold stage builds must also force cold relations
    from ting_data_etl_spark import relcache

    relcache.clear()
    # dict keys hold the RAW sf_dir strings callers passed; compare by
    # abspath so './x' and '/abs/x/' purge the same entries the rmtree hit
    ap = os.path.abspath(sf_dir)
    for k in [k for k in _STAGED_PAIRS if os.path.abspath(k) == ap]:
        del _STAGED_PAIRS[k]
    for k in [k for k in _STAGED_COMPONENTS if os.path.abspath(k[0]) == ap]:
        del _STAGED_COMPONENTS[k]
    # The IVF model json lives under the same stage tree (swept above), but
    # similarity keeps a warm in-memory copy keyed by (sf_dir, fp, params);
    # leaving it would make a post-purge "cold build" silently serve the
    # warm model — the exact dishonest-timing mode this function exists to
    # prevent.
    from ting_data_etl_spark.operators import similarity as _sim

    for k in [k for k in _sim._CENTROIDS if os.path.abspath(k[0]) == ap]:
        del _sim._CENTROIDS[k]
    # the PQ sub-codebooks share the staleness trap (r9)
    for k in [k for k in _sim._PQ_BOOKS if os.path.abspath(k[0]) == ap]:
        del _sim._PQ_BOOKS[k]


def component_stage_path(sf_dir: str, key: str) -> str:
    """Stage dir for the (sf_dir, key) components artifact — path only.

    Keyed by EVERY source table's (mtime, size) fingerprint plus a
    constants version token: a testdata regeneration of ANY input table
    (embeddings included, for the ensemble key) or a candidate-generation
    constant change invalidates the stage instead of serving stale labels
    from a persistent temp dir (the round-4 failure mode for any durable
    derived artifact). Exposed so callers (the ensemble build) can test
    for a warm on-disk stage BEFORE paying the candidate-generation work —
    the in-process dict alone made a fresh process regenerate and then
    discard the pair relation.
    """
    fp_parts = [key, _stage_version_token()]
    for table in _STAGE_SOURCES.get(key, ("documents",)):
        fp_parts.append(_source_fp(sf_dir, table))
    return _stage_dir(sf_dir, fp_parts)


def staged_components(
    spark: SparkSession, sf_dir: str, key: str, nodes: "DataFrame", pairs: "DataFrame"
) -> DataFrame:
    """Materialized components view: cluster once per (process, sf_dir, key).

    The dedup labels table is the canonical write-once artifact of a
    curation pipeline — built by one clustering job, consumed by every
    downstream query (keeper selection, e2e status, the labels relation
    itself). Staging it as parquet gives all consumers the production
    read path (a 16-byte-row columnar scan) instead of re-running the
    iterative clustering, the same amortization contract as the IVF
    k-means fit and the bucketed tables: the build lands in bench pass 1,
    steady-state queries pay only the read. The ``_SUCCESS`` check makes
    re-staging idempotent across processes sharing the temp dir.
    """
    import os

    # the fingerprinted path is RECOMPUTED on every call (it is cheap: a
    # stat per source table): an in-process testdata regeneration rotates
    # the fingerprint and lands on a fresh stage, instead of the dict
    # serving the pre-regeneration labels forever. The dict records the
    # last-known path for observers (ensemble's warm probe, tests).
    out = component_stage_path(sf_dir, key)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        labels = connected_components_jump(nodes, pairs)
        _publish_stage(labels, out)
    _STAGED_COMPONENTS[(sf_dir, key)] = out
    return spark.read.parquet(out)


_STAGED_PAIRS: dict[str, str] = {}


def staged_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized MinHash candidate-pair relation (write-once artifact).

    The pair relation is the other standing artifact of a dedup run (the
    labels table being the first): the clustering build, the keeper
    selection AND the graph-shape observability read all consume it.
    Staging it once gives each consumer a narrow parquet scan instead of
    re-running signature + band join — and feeding the iterative CC loop
    from a parquet scan keeps Arrow-UDF stages out of checkpointed plans
    (the wedge hazard ``connected_components_jump`` documents). Fingerprinted
    exactly like the labels stage: source (mtime, size) + constants token.
    """
    import os

    # path recomputed per call — see staged_components
    out = _stage_dir(
        sf_dir,
        ["minhash_pairs", _stage_version_token(), _source_fp(sf_dir, "documents")],
    )
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        _publish_stage(dedup_minhash_pairs(spark, sf_dir), out)
    _STAGED_PAIRS[sf_dir] = out
    return spark.read.parquet(out)


def staged_minhash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component) over the MinHash-LSH candidate pairs, staged."""
    d = load_table(spark, sf_dir, "documents")
    return staged_components(
        spark,
        sf_dir,
        "minhash",
        d.select("doc_id"),
        staged_minhash_pairs(spark, sf_dir),
    )


@register("dedup_connected_components", oracle=_sql_cc)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: every document labeled with its component's min id.

    The step after candidate generation in every dedup pipeline — LSH pairs
    only say "these two look alike"; keeping one doc per *cluster* needs the
    transitive closure. Singleton documents are their own component. Oracle:
    a recursive-CTE transitive closure over the identical pair set. Serves
    the staged view (:func:`staged_minhash_components`); the first call in a
    process runs the pointer-jump clustering and every later consumer reads
    the materialized labels table.
    """
    return staged_minhash_components(spark, sf_dir)


def connected_components_jump(
    nodes: DataFrame, pairs: DataFrame, max_iters: int = CC_MAX_ITERS
) -> DataFrame:
    """Connected components via min-label propagation + pointer jumping:
    (doc_id, component), every node labeled with its component's min id.

    Each round takes one neighbor hop (min over adjacent labels, the
    canonical propagation step) and then a POINTER JUMP — every node
    re-labels to its label's label (``comp := comp(comp)``, a self-join on
    the label table). Labels are always valid node ids, so the jump is
    well-defined; chains of length n collapse in O(log n) rounds instead of
    the O(n) of plain propagation (the same round-compression goal as
    Kiveris et al.'s large-star/small-star, with a simpler invariant).
    ``localCheckpoint`` truncates the lineage per generation so the plan
    does not grow with the iteration count. Fixpoint = labels unchanged,
    data-driven, with ``max_iters`` as the safety bound. Output equals a
    union-find over the same pairs (pytest-pinned on chains, triangles,
    and the LSH pair set).
    """
    # Materialize the PAIR set before the symmetric union references it
    # twice. persist+count, NOT localCheckpoint: localCheckpoint jobs over
    # plans containing Arrow/pandas-UDF stages have been observed to wedge
    # a python worker (one task hangs forever) while normal SQL execution
    # of the same plan completes — so cache through the SQL path first and
    # only checkpoint plans whose inputs are already materialized.
    spark = nodes.sparkSession
    pairs = pairs.persist()
    pairs.count()
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    edges, edge_ids = _tracked_checkpoint(edges)
    pairs.unpersist()
    labels = nodes.select("doc_id", F.col("doc_id").alias("component"))
    labels, label_ids = _tracked_checkpoint(labels)
    # The loop's working sets are tiny (|pairs| rows) and AQE coalescing
    # (on in every session, session.py) already shrinks each round's
    # shuffles to a handful of partitions — no manual shuffle-width
    # override. (An earlier revision set the SESSION-global
    # spark.sql.shuffle.partitions to 8 here, which throttled any
    # concurrently running corpus-scale query for the loop's lifetime.)
    prev_total = None
    converged = False
    # try/finally so the edge checkpoint — and, on ANY failure path
    # (no-fixpoint raise, a Spark error mid-round), every pending label
    # generation — is unpersisted instead of leaking for the process
    # lifetime. ``pending`` holds every id this loop persisted and has not
    # yet freed, so a failure between a mid-round checkpoint (hop, first
    # jump) and the label_ids handoff frees those generations too. On
    # success it holds exactly the final label generation, which must STAY
    # persisted: it backs the returned (lineage-truncated) DataFrame.
    pending = set(label_ids)
    try:
        for _ in range(max_iters):
            nbr = (
                edges.join(labels, edges["dst"] == labels["doc_id"])
                .groupBy("src")
                .agg(F.min("component").alias("nbr_min"))
            )
            hopped = (
                labels.join(nbr, labels["doc_id"] == nbr["src"], "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("nbr_min"), F.col("component")),
                    ).alias("component"),
                )
            )
            # jump self-references the hop checkpoint
            hopped, round_ids = _tracked_checkpoint(hopped)
            pending |= round_ids
            jumped = hopped
            for _jump in range(2):  # two jumps: path length ~quarters/round
                ptr = jumped.select(
                    F.col("doc_id").alias("p_id"),
                    F.col("component").alias("p_comp"),
                )
                jumped = (
                    jumped.join(
                        ptr, jumped["component"] == ptr["p_id"], "left"
                    )
                    .select(
                        "doc_id",
                        F.least(
                            F.col("component"),
                            F.coalesce(F.col("p_comp"), F.col("component")),
                        ).alias("component"),
                    )
                )
                jumped, jump_ids = _tracked_checkpoint(jumped)
                pending |= jump_ids
                round_ids |= jump_ids
            # labels only ever decrease, so an unchanged total sum on the
            # materialized checkpoint IS the fixpoint — one tiny agg, no join
            total = jumped.agg(F.sum("component")).first()[0]
            labels = jumped
            # free superseded generations (old labels, hop, first jump) —
            # only ids this loop created; keep this round's final checkpoint
            freed = label_ids | (round_ids - jump_ids)
            _unpersist_ids(spark, freed)
            pending -= freed
            label_ids = jump_ids
            if prev_total is not None and total == prev_total:
                break
            prev_total = total
        else:
            raise RuntimeError(
                f"connected_components_jump: no fixpoint in {max_iters} iters"
            )
        converged = True
    finally:
        # edges always; every pending generation on failure (the final one
        # backs the returned DataFrame on success)
        _unpersist_ids(spark, edge_ids)
        if not converged:
            _unpersist_ids(spark, pending)
    return labels


# --- near-dup graph statistics ---------------------------------------------
def _sql_graph_stats() -> str:
    return f"""
{_sql_minhash_pairs_cte()},
und AS (
  SELECT doc_a AS a, doc_b AS b FROM mh_pairs
  UNION ALL
  SELECT doc_b, doc_a FROM mh_pairs
),
deg AS (SELECT a AS doc_id, COUNT(*) AS degree FROM und GROUP BY a),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM mh_pairs e1
  JOIN mh_pairs e2 ON e2.doc_a = e1.doc_b
  JOIN mh_pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
agg AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_nodes,
         (SELECT COUNT(*) FROM mh_pairs) AS n_edges,
         (SELECT n_triangles FROM tri) AS n_triangles,
         (SELECT COALESCE(SUM(degree * (degree - 1) / 2), 0) FROM deg) AS n_wedges
)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges,
       CAST(n_triangles AS BIGINT) AS n_triangles,
       CAST(n_wedges AS BIGINT) AS n_wedges,
       CASE WHEN n_wedges > 0
            THEN 3.0 * n_triangles / n_wedges END AS clustering_coeff
FROM agg
"""


@register("graph_near_dup_stats", oracle=_sql_graph_stats)
def graph_near_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shape metrics of the near-dup candidate graph, one summary row.

    The observability read on a dedup run: edge count, triangle count
    (edge-edge-edge join over the ordered pair relation — each triangle
    counted exactly once as a<b<c), wedge count Σ d·(d−1)/2, and the global
    clustering coefficient 3·Δ/wedges. A boilerplate-heavy corpus shows up
    as a spike in clustering before anyone inspects clusters by hand. The
    pair relation is orders of magnitude smaller than the corpus (post
    banding + frequency cap), so the triangle join is a small-table
    self-join, not a corpus-scale operation; all counts are exact integers,
    the one float is a single division.

    Reads the STAGED pair artifact (:func:`staged_minhash_pairs`) — the
    triangle/wedge legs re-scan a narrow parquet table instead of
    re-running signatures, and no persisted blocks outlive the query.
    """
    d = load_table(spark, sf_dir, "documents")
    pairs = staged_minhash_pairs(spark, sf_dir)
    und = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")).unionByName(
        pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    )
    deg = und.groupBy("a").agg(F.count("*").alias("degree"))
    e1 = pairs.select(F.col("doc_a").alias("x"), F.col("doc_b").alias("y"))
    e2 = pairs.select(F.col("doc_a").alias("y"), F.col("doc_b").alias("z"))
    e3 = pairs.select(F.col("doc_a").alias("x"), F.col("doc_b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"]).agg(
        F.count("*").alias("n_triangles")
    )
    wedges = deg.agg(
        F.coalesce(
            F.sum(F.col("degree") * (F.col("degree") - 1) / 2), F.lit(0.0)
        )
        .cast("long")
        .alias("n_wedges")
    )
    row = (
        d.agg(F.count("*").alias("n_nodes"))
        .crossJoin(pairs.agg(F.count("*").alias("n_edges")))
        .crossJoin(tri)
        .crossJoin(wedges)
    )
    out = row.select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        "n_wedges",
        F.when(
            F.col("n_wedges") > 0,
            3.0 * F.col("n_triangles") / F.col("n_wedges"),
        ).alias("clustering_coeff"),
    )
    return out


# --- URL-canonicalization dedup (web-corpus pre-pass) -----------------------
#: documents.parquet carries no url column, so the registered query DERIVES
#: an adversarial one deterministically from (doc_id, source): every
#: URL_GROUP_SIZE consecutive doc_ids share one logical page, decorated per
#: doc with the variations canonicalization must collapse (scheme/host
#: case, default port, fragment, tracking params; r9: userinfo, FQDN
#: trailing dot, %-encoding case + unreserved escapes). The derivation is
#: fixture plumbing expressed identically on both engines; the OPERATOR is
#: ``functions.url.canonical_url``, which runs unchanged on a real url
#: column at corpus scale.
URL_GROUP_SIZE = 7


def _adversarial_url_spark() -> F.Column:
    grp = ((F.col("doc_id") - F.col("doc_id") % URL_GROUP_SIZE) / URL_GROUP_SIZE).cast(
        "long"
    )
    host = F.concat(F.lit("site"), (grp % 37).cast("string"), F.lit(".example.com"))
    path = F.concat(F.lit("/docs/"), grp.cast("string"))
    # r9: /d%6Fcs/ decodes to /docs/ (unreserved %-escape, upper+lower hex)
    enc_path = F.concat(F.lit("/d%6Fcs/"), grp.cast("string"))
    enc_path_lower = F.concat(F.lit("/d%6fcs/"), grp.cast("string"))
    v = F.col("doc_id") % 9
    return (
        F.when(v == 0, F.concat(F.lit("https://"), host, path))
        .when(v == 1, F.concat(F.lit("HTTPS://"), F.upper(host), path))
        .when(v == 2, F.concat(F.lit("https://"), host, F.lit(":443"), path))
        .when(
            v == 3,
            F.concat(
                F.lit("https://"),
                host,
                path,
                F.lit("?utm_source=feed&utm_campaign=c"),
                (F.col("doc_id") % 3).cast("string"),
                F.lit("&id="),
                grp.cast("string"),
            ),
        )
        .when(
            v == 4,
            F.concat(
                F.lit("https://"),
                host,
                path,
                F.lit("#sec-"),
                (F.col("doc_id") % 5).cast("string"),
            ),
        )
        .when(
            v == 5,
            F.concat(
                F.lit("https://"),
                F.upper(host),
                path,
                F.lit("?id="),
                grp.cast("string"),
                F.lit("&fbclid=x"),
                (F.col("doc_id") % 4).cast("string"),
            ),
        )
        # r9 hardening variants (userinfo / FQDN dot / %-encoding)
        .when(
            v == 6,
            F.concat(F.lit("https://crawler:tok@"), host, path),
        )
        .when(
            v == 7,
            F.concat(F.lit("https://"), host, F.lit("."), enc_path),
        )
        .otherwise(
            F.concat(
                F.lit("HTTPS://"), F.upper(host), F.lit(".:443"), enc_path_lower
            )
        )
    )


def _sql_adversarial_url() -> str:
    g = URL_GROUP_SIZE
    grp = f"CAST((doc_id - doc_id % {g}) / {g} AS BIGINT)"
    host = f"'site' || CAST({grp} % 37 AS VARCHAR) || '.example.com'"
    path = f"'/docs/' || CAST({grp} AS VARCHAR)"
    enc_path = f"'/d%6Fcs/' || CAST({grp} AS VARCHAR)"
    enc_path_lower = f"'/d%6fcs/' || CAST({grp} AS VARCHAR)"
    return f"""CASE doc_id % 9
      WHEN 0 THEN 'https://' || {host} || {path}
      WHEN 1 THEN 'HTTPS://' || upper({host}) || {path}
      WHEN 2 THEN 'https://' || {host} || ':443' || {path}
      WHEN 3 THEN 'https://' || {host} || {path}
                  || '?utm_source=feed&utm_campaign=c'
                  || CAST(doc_id % 3 AS VARCHAR) || '&id=' || CAST({grp} AS VARCHAR)
      WHEN 4 THEN 'https://' || {host} || {path}
                  || '#sec-' || CAST(doc_id % 5 AS VARCHAR)
      WHEN 5 THEN 'https://' || upper({host}) || {path}
           || '?id=' || CAST({grp} AS VARCHAR)
           || '&fbclid=x' || CAST(doc_id % 4 AS VARCHAR)
      WHEN 6 THEN 'https://crawler:tok@' || {host} || {path}
      WHEN 7 THEN 'https://' || {host} || '.' || {enc_path}
      ELSE 'HTTPS://' || upper({host}) || '.:443' || {enc_path_lower}
    END"""


def _sql_url_canonical() -> str:
    from ting_data_etl_spark.functions.url import sql_canonical_url

    return f"""
WITH u AS (
  SELECT doc_id, {sql_canonical_url(_sql_adversarial_url())} AS canonical_url
  FROM documents
)
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS keeper
FROM u GROUP BY canonical_url
"""


@register("dedup_url_canonical", oracle=_sql_url_canonical)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup groups: (canonical_url, n_docs, keeper).

    The CCNet/RefinedWeb pre-pass: collapse crawl-variant URLs (case,
    default ports, fragments, tracking params) to one canonical key and
    keep the lowest doc_id per page. Note the variants with a query that
    survives canonicalization (``?id=...``) canonicalize apart from the
    bare-path variants — canonicalization collapses DECORATION, it never
    merges genuinely different resources.

    Plan shape: one codegen scan computing the canonical key (pure string
    expressions, no UDF) + ONE shuffle on the key for the group-by — at
    100 TB this is the cheapest dedup pass in the family, which is exactly
    why web pipelines run it first.
    """
    from ting_data_etl_spark.functions.url import canonical_url

    d = load_table(spark, sf_dir, "documents")
    u = d.select(
        "doc_id", canonical_url(_adversarial_url_spark()).alias("canonical_url")
    )
    return u.groupBy("canonical_url").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper")
    )


# --- shingle containment (asymmetric near-supersets) ------------------------
#: Emit pairs whose smaller document is at least this contained in the
#: larger one. Containment C = |A∩B| / min(|A|,|B|) catches quote/subset
#: duplication that symmetric Jaccard under-scores: a 50-shingle doc fully
#: embedded in a 500-shingle doc has J = 0.1 but C = 1.0 (Broder's
#: resemblance-vs-containment distinction, the RETSim/CCNet subset case).
CONTAINMENT_THRESHOLD = 0.5


def _sql_containment() -> str:
    """Shares the capped-shingle CTE chain with :func:`_sql_jaccard`
    verbatim (call-time builder, same retune contract)."""
    base = _sql_jaccard().rsplit("SELECT s.doc_a", 1)[0]
    return f"""{base}
SELECT s.doc_a, s.doc_b,
       CAST(s.common AS DOUBLE) / least(sa.n, sb.n) AS containment
FROM shared s
JOIN sizes sa ON s.doc_a = sa.doc_id
JOIN sizes sb ON s.doc_b = sb.doc_id
WHERE CAST(s.common AS DOUBLE) / least(sa.n, sb.n) >= {CONTAINMENT_THRESHOLD}
"""


@register("dedup_shingle_containment", oracle=_sql_containment)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs ≥ CONTAINMENT_THRESHOLD, source-blocked.

    Same candidate plan as :func:`dedup_jaccard` — shared-shingle
    self-join over the capped 60-bit shingle relation (one shuffle on the
    8-byte shingle id, boilerplate buckets dropped by the cap on BOTH
    engines) — but scored as ``common / min(|A|,|B|)``: the containment
    coefficient that flags a document largely EMBEDDED in another even
    when the size mismatch keeps Jaccard low. At 100 TB this is the same
    plan as the Jaccard pass and the two scores share one shared-join
    execution (:func:`shingle_pair_counts_df`); they are registered
    separately so each has an exact oracle.
    """
    p = shingle_pair_counts_df(spark, sf_dir)
    out = p.select(
        "doc_a",
        "doc_b",
        (
            F.col("common").cast("double") / F.least(F.col("na"), F.col("nb"))
        ).alias("containment"),
    )
    return out.filter(F.col("containment") >= CONTAINMENT_THRESHOLD)


# --- minhash estimate-vs-truth error report ----------------------------------
def _sql_minhash_est_error() -> str:
    """Call-time builder (module convention): composes the candidate chain
    with exact 31-bit-hash Jaccard so a retune of MINHASH_HASHES / bands /
    caps moves estimate, truth, and candidates together."""
    from ting_data_etl_spark.plans.oracles import sql_shingle_hash

    m = MINHASH_HASHES
    return f"""
{_sql_minhash_pairs_cte()},
xsets AS (
  SELECT doc_id,
         list_distinct(list_filter(
           list_transform(shingles, s -> {sql_shingle_hash("s")}),
           h -> h IS NOT NULL))
           AS xs
  FROM sh
),
q1 AS (
  SELECT p.doc_a, p.doc_b,
         list_sum(list_transform(range(1, {m + 1}),
           i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
           AS matches,
         len(list_intersect(xa.xs, xb.xs)) AS common,
         len(xa.xs) AS na, len(xb.xs) AS nb
  FROM mh_pairs p
  JOIN sig sa ON sa.doc_id = p.doc_a
  JOIN sig sb ON sb.doc_id = p.doc_b
  JOIN xsets xa ON xa.doc_id = p.doc_a
  JOIN xsets xb ON xb.doc_id = p.doc_b
)
SELECT doc_a, doc_b,
       CAST(matches AS BIGINT) AS n_matches,
       CAST(matches AS DOUBLE) / {m}.0 AS est_jaccard,
       CAST(common AS DOUBLE) / (na + nb - common) AS true_jaccard,
       ABS(CAST(matches AS DOUBLE) / {m}.0
           - CAST(common AS DOUBLE) / (na + nb - common)) AS abs_err
FROM q1
"""


@register("dedup_minhash_estimate_error", oracle=_sql_minhash_est_error)
def dedup_minhash_estimate_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-candidate-pair MinHash estimate vs exact Jaccard — the sketch
    validation every production LSH deployment runs before trusting its
    thresholds (the minhash analog of `similarity_recall_report`).

    For every LSH candidate pair: the signature estimate (matching
    positions / {MINHASH_HASHES}), the EXACT Jaccard over the distinct
    31-bit shingle hashes the signature was built from (same hash, so the
    measured error is pure sketch variance, not tokenizer drift), and the
    absolute error. Expected |err| ~ sqrt(J(1-J)/16) ≈ 0.12 at J=0.5; a
    systematically larger error means broken permutations or banding.

    Plan shape: candidates come from the registered LSH plan (band-keyed
    self-join, capped); signatures and distinct-hash sets are doc-keyed
    arrays (bounded by document length) joined onto the pairs — per-pair
    work is then three per-row HOFs (position matches, set intersect,
    sizes), no explode, no extra corpus shuffle. The truth side is exact
    only over candidate pairs (|pairs| rows), never all-pairs.
    """
    d = load_table(spark, sf_dir, "documents")
    sig = corpus_minhash_sigs_df(spark, sf_dir)
    pairs = dedup_minhash_pairs(spark, sf_dir)
    sh = word_shingles_df(d)
    xs = (
        sh.select("doc_id", _shingle_hash_spark(F.col("s")).alias("x"))
        .filter(F.col("x").isNotNull())
        .groupBy("doc_id")
        .agg(F.collect_set("x").alias("xs"))
    )
    p = (
        pairs.join(
            sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa")),
            "doc_a",
        )
        .join(
            sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb")),
            "doc_b",
        )
        .join(
            xs.select(F.col("doc_id").alias("doc_a"), F.col("xs").alias("xa")),
            "doc_a",
        )
        .join(
            xs.select(F.col("doc_id").alias("doc_b"), F.col("xs").alias("xb")),
            "doc_b",
        )
    )
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sa"), F.col("sb"), lambda x, y: x == y),
            lambda b: b,
        )
    )
    common = F.size(F.array_intersect(F.col("xa"), F.col("xb")))
    na, nb = F.size(F.col("xa")), F.size(F.col("xb"))
    est = matches.cast("double") / F.lit(float(MINHASH_HASHES))
    true_j = common.cast("double") / (na + nb - common)
    return p.select(
        "doc_a",
        "doc_b",
        matches.cast("long").alias("n_matches"),
        est.alias("est_jaccard"),
        true_j.alias("true_jaccard"),
        F.abs(est - true_j).alias("abs_err"),
    )


# --- source-overlap provenance: who duplicates whom ---------------------------
def _sql_source_overlap() -> str:
    """Call-time builder: rides the minhash candidate chain verbatim."""
    return f"""
{_sql_minhash_pairs_cte()},
ds AS (SELECT doc_id, source FROM documents),
lab AS (
  SELECT LEAST(a.source, b.source) AS source_a,
         GREATEST(a.source, b.source) AS source_b
  FROM mh_pairs p
  JOIN ds a ON a.doc_id = p.doc_a
  JOIN ds b ON b.doc_id = p.doc_b
)
SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM lab GROUP BY source_a, source_b
"""


@register("graph_source_overlap", oracle=_sql_source_overlap)
def graph_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup provenance matrix: candidate-pair counts per source pair.

    The crawl-forensics rollup over the LSH candidate graph: how much of
    each source is duplicated WITHIN itself (diagonal) vs copied ACROSS
    sources (off-diagonal — mirror sites, syndication, scraper overlap).
    Production curation uses exactly this to decide which source to keep
    when cross-source clusters collapse, and to catch a "new" crawl that
    is mostly a re-crawl. Pairs are unordered (LEAST/GREATEST on the
    source names) so each duplicate relationship counts once.

    Plan: the pinned LSH candidate plan, two doc_id-keyed joins to the
    (doc_id, source) projection, one fixed-width rollup — |sources|² rows
    out, no new shuffle class.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = dedup_minhash_pairs(spark, sf_dir)
    lab = (
        pairs.join(
            d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
        .select(
            F.least(F.col("sa"), F.col("sb")).alias("source_a"),
            F.greatest(F.col("sa"), F.col("sb")).alias("source_b"),
        )
    )
    return lab.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_pairs")
    )


# --- integer-exact PageRank over the near-dup graph ---------------------------
#: Fixed-point scale for rank mass (9 decimals) and the unrolled iteration
#: count. Ranks are BIGINTs: every update is `base + Σ floor(85·r / (100·deg))`
#: — integer division on BOTH engines, so the iteration is bit-identical
#: under any partitioning (a float PageRank's Σ is partition-order-sensitive
#: and could never be full-value oracle-checked).
PAGERANK_SCALE = 1_000_000_000
PAGERANK_ITERS = 3


def _sql_pagerank() -> str:
    """Call-time builder: the candidate chain + PAGERANK_ITERS unrolled
    integer power iterations (the Lloyd-chain pattern for graphs)."""
    s = PAGERANK_SCALE
    its = []
    prev = "pr0"
    for i in range(1, PAGERANK_ITERS + 1):
        its.append(f"""
pr{i} AS (
  SELECT d.node, d.deg,
         (15 * CAST({s} AS BIGINT)) // (100 * nn.n) + COALESCE(s{i}.c, 0) AS r
  FROM pdeg d CROSS JOIN nn
  LEFT JOIN (
    SELECT u.dst AS node, SUM((r.r * 85) // (100 * r.deg)) AS c
    FROM pund u JOIN {prev} r ON r.node = u.src
    GROUP BY u.dst
  ) s{i} ON s{i}.node = d.node
)""")
        prev = f"pr{i}"
    chain = ",".join(its)
    return f"""
{_sql_minhash_pairs_cte()},
pund AS (
  SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
  UNION ALL
  SELECT doc_b, doc_a FROM mh_pairs
),
pdeg AS (SELECT src AS node, COUNT(*) AS deg FROM pund GROUP BY src),
nn AS (SELECT COUNT(*) AS n FROM pdeg),
pr0 AS (SELECT node, deg, {s} // nn.n AS r FROM pdeg CROSS JOIN nn),
{chain}
SELECT node AS doc_id,
       CAST(deg AS BIGINT) AS degree,
       CAST(r AS BIGINT) AS rank_fixed
FROM {prev}
"""


@register("graph_pagerank_neardup", oracle=_sql_pagerank)
def graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-dup candidate graph — which
    documents sit at the CENTER of duplication neighborhoods.

    Connected components answer "which docs belong together"; PageRank
    answers "which doc is the hub" — the template everything else was
    copied from, the natural canonical-representative choice when clusters
    are dense, and the boilerplate super-spreader signal when one page is
    near-dup-linked to everything. Damping 0.85, PAGERANK_ITERS power
    iterations, over the undirected LSH candidate graph (isolated docs
    carry no signal and are excluded on both engines).

    Exactness: rank mass lives on a 1e-9 fixed-point integer grid; each
    edge contribution is ONE integer division (floor(85·r / (100·deg))),
    each update an exact integer sum — so unlike textbook float PageRank,
    the result is independent of partition/merge order and the oracle
    re-derives all iterations unrolled (the k-means-chain pattern applied
    to a graph algorithm). The floors leak ≤ 1e-9 rank per edge per
    iteration (mass is slightly sub-stochastic), identically on both
    engines.

    Plan: per iteration ONE edge-keyed join (rank onto src) + ONE
    fixed-width aggregation (sum onto dst) — the standard distributed
    power iteration; the iteration count is a constant, not data-driven,
    so the whole plan is a static DAG with no driver loop state beyond
    the chain itself.
    """
    pairs = dedup_minhash_pairs(spark, sf_dir)
    und = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # materialize the graph once: the rank chain reads edges and degrees
    # PAGERANK_ITERS times each — without this the LSH candidate join
    # would re-execute per iteration (expression-only lineage, one-shot)
    und = und.localCheckpoint(eager=True)
    deg = und.groupBy("src").agg(F.count("*").alias("deg")).select(
        F.col("src").alias("node"), "deg"
    )
    deg = deg.localCheckpoint(eager=True)
    n = deg.count()  # bounded scalar: the node count
    if n == 0:
        return deg.select(
            F.col("node").alias("doc_id"),
            F.col("deg").cast("long").alias("degree"),
            F.lit(0).cast("long").alias("rank_fixed"),
        )
    base = (15 * PAGERANK_SCALE) // (100 * n)
    # cast("long"): a Python int below 2^31 lits as int32, and iteration 1
    # computes (r * 85) in int32 — overflow (ANSI error; silent wrap with
    # ANSI off) for any graph under ~40 nodes while the DuckDB twin stays
    # BIGINT. Review finding, repro-confirmed on PySpark 4.1.2.
    r = deg.select(
        "node", "deg", F.lit(PAGERANK_SCALE // n).cast("long").alias("r")
    )
    for _ in range(PAGERANK_ITERS):
        contrib = (
            und.join(r, und.src == r.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("(r * 85) DIV (100 * deg)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        r = deg.join(contrib, "node", "left").select(
            "node",
            "deg",
            (
                F.lit(base).cast("long")
                + F.coalesce(F.col("c"), F.lit(0))
            ).alias("r"),
        )
    return r.select(
        F.col("node").alias("doc_id"),
        F.col("deg").cast("long").alias("degree"),
        F.col("r").cast("long").alias("rank_fixed"),
    )
