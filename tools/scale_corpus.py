"""Deterministic Spark-side synthetic corpus generator for scale stress.

Mirrors the statistical shape of the driver's ``documents`` / ``embeddings``
testdata (word-salad text over a small-ish vocab, 64-dim label-clustered
vectors) at ARBITRARY row counts. Everything is generated with codegen
expressions — no driver-side data, no RNG object: every value derives from
``xxhash64`` of (ids, salt), so a corpus of any size is reproducible and
generation itself scales like any other Spark job (the generator is the
pattern a 1000-executor cluster would use to build a 100 TB test corpus).

Planted structure (fractions constant across scale, so TRUE-positive counts
grow linearly — the property the stress run verifies):

documents (``doc_id, text, lang, source, n_chars``):
  * the first 20% of doc_ids sit in near-dup clusters of 4 — same template
    words, ~1/20 of words mutated per member; clusters whose hash lands in
    1/10 have mutation disabled → whole-cluster exact dups;
  * ~30% of clusters carry one of 5 shared 8-word boilerplate prefixes —
    at scale each boilerplate shingle lands in ~N·0.06 documents, exactly
    the hot-bucket class ``SHINGLE_FREQUENCY_CAP``/``BAND_FREQUENCY_CAP``
    exist to drop;
  * body words are zipf-ish (common words common, long tail) over a fixed
    vocab, so random cross-doc shingle collisions exist but are rare;
  * ``source`` is keyed by cluster (near-dup members share a source — the
    blocked-join recall path) and source count grows as sqrt(scale), so
    per-source block size grows too (the block-join stress).

embeddings (``vec_id, embedding: array<float>, label: int``):
  * 10 label clusters: centroid + heavy noise (sibling cosine ≈ 0.2, BELOW
    ``NEAR_DUP_THRESHOLD`` = 0.3 — at corpus scale "everything in my label
    is a near-dup" would be quadratic nonsense);
  * every ``vec_id ≡ 1 (mod 50)`` copies ``vec_id - 1`` with ~2e-3 jitter
    → planted near-duplicates at cosine ≈ 0.9999, count = N/50.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEED = 2026
VOCAB = 2000
DIM = 64
N_LABELS = 10
CLUSTER_SIZE = 4
CLUSTER_FRACTION = 0.2  # of docs
NEAR_DUP_VEC_MOD = 50  # vec_id % 50 == 1 copies vec_id - 1

# sf0.1 row counts — "scale 1" reproduces the driver corpus SHAPE 1:1
BASE_DOCS = 5_000
BASE_VECS = 2_000
BASE_SOURCES = 20


def _h(*cols) -> F.Column:
    return F.xxhash64(*cols, F.lit(SEED))


def _unit(h: F.Column) -> F.Column:
    """Deterministic uniform in [-1, 1) with 1e-3 resolution."""
    return (F.pmod(h, F.lit(2000)) - F.lit(1000)) / F.lit(1000.0)


def gen_documents(
    spark: SparkSession, n_docs: int, n_sources: int
) -> DataFrame:
    d = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    doc = F.col("doc_id")
    n_cluster_docs = int(n_docs * CLUSTER_FRACTION)
    in_cluster = doc < F.lit(n_cluster_docs)
    # singletons get a unique "cluster" id far above the real cluster range
    cl = F.when(in_cluster, F.floor(doc / CLUSTER_SIZE)).otherwise(
        doc + F.lit(1_000_000_000)
    )
    # 1 cluster in 10: mutation off -> exact-dup cluster
    mutable = in_cluster & (F.pmod(_h(cl, F.lit("xd")), F.lit(10)) != 0)
    n_words = (F.pmod(_h(cl, F.lit("len")), F.lit(71)) + F.lit(30)).cast("int")

    def word(i):
        # zipf-ish index: uniform draw below a uniformly-drawn cap biases
        # small indices ~H(V)/V over uniform — common words are ~8x common
        zcap = F.pmod(_h(cl, i, F.lit("z")), F.lit(VOCAB)) + F.lit(1)
        base = F.pmod(_h(cl, i, F.lit("w")), zcap)
        mut = mutable & (F.pmod(_h(doc, i, F.lit("m")), F.lit(20)) == 0)
        idx = F.when(mut, F.pmod(_h(doc, i, F.lit("mw")), F.lit(VOCAB))).otherwise(
            base
        )
        return F.concat(F.lit("w"), idx.cast("string"))

    body = F.concat_ws(
        " ", F.transform(F.sequence(F.lit(1), n_words), word)
    )
    # cluster-keyed boilerplate: ~30% of clusters share one of 5 prefixes
    has_bp = F.pmod(_h(cl, F.lit("bp")), F.lit(10)) < 3
    tpl = F.pmod(_h(cl, F.lit("bpt")), F.lit(5))
    bp = F.concat_ws(
        " ",
        *[
            F.concat(F.lit(f"bp{j}t"), tpl.cast("string"))
            for j in range(8)
        ],
    )
    text = F.when(has_bp, F.concat_ws(" ", bp, body)).otherwise(body)
    lang = F.element_at(
        F.array(*[F.lit(x) for x in ("en", "zh", "fr", "de", "es")]),
        (F.pmod(_h(doc, F.lit("lang")), F.lit(5)) + F.lit(1)).cast("int"),
    )
    source = F.concat(
        F.lit("src"), F.pmod(_h(cl, F.lit("src")), F.lit(n_sources)).cast("string")
    )
    return d.select(
        "doc_id",
        text.alias("text"),
        lang.alias("lang"),
        source.alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    )


def gen_embeddings(spark: SparkSession, n_vecs: int) -> DataFrame:
    v = spark.range(n_vecs).withColumnRenamed("id", "vec_id")
    vid = F.col("vec_id")
    is_copy = F.pmod(vid, F.lit(NEAR_DUP_VEC_MOD)) == 1
    base = F.when(is_copy, vid - 1).otherwise(vid)
    label = F.pmod(_h(base, F.lit("lab")), F.lit(N_LABELS))

    def elem(j):
        centroid = _unit(_h(label, j, F.lit("c")))
        noise = _unit(_h(base, j, F.lit("n"))) * F.lit(2.0)
        jitter = F.when(
            is_copy, _unit(_h(vid, j, F.lit("t"))) * F.lit(0.002)
        ).otherwise(F.lit(0.0))
        return (centroid + noise + jitter).cast("float")

    emb = F.transform(F.sequence(F.lit(0), F.lit(DIM - 1)), elem)
    return v.select(
        "vec_id", emb.alias("embedding"), label.cast("int").alias("label")
    )


BASE_EVENTS = 100_000  # sf0.1 events row count
BASE_USERS = 1_500
EVENT_TYPES = ("view", "click", "cart", "purchase", "error")
EVENT_SPAN_US = 30 * 24 * 3600 * 1_000_000  # 30 days
EVENT_T0_US = 1_760_000_000_000_000


def gen_events(
    spark: SparkSession,
    n_events: int,
    n_users: int,
    hot_user_fraction: float = 0.0,
) -> DataFrame:
    """Events with an optional Zipfian hot user (VERDICT r06 #1).

    ``hot_user_fraction`` of rows land on ``user_id = 0`` — the reference's
    real-world cardinality concern (``fan_out_by_storeid.py:38-41``: one
    store ≫ the others) made literal. The remaining users get the same
    uniform-below-uniform-cap zipf-ish tail the document vocab uses, so the
    non-hot distribution is long-tailed too, not flat.
    """
    e = spark.range(n_events).withColumnRenamed("id", "event_id")
    eid = F.col("event_id")
    zcap = F.pmod(_h(eid, F.lit("uz")), F.lit(n_users)) + F.lit(1)
    tail_user = F.pmod(_h(eid, F.lit("uu")), zcap) + F.lit(1)
    hot = F.pmod(_h(eid, F.lit("hot")), F.lit(1000)) < F.lit(
        int(hot_user_fraction * 1000)
    )
    user = F.when(hot, F.lit(0)).otherwise(tail_user)
    us = F.lit(EVENT_T0_US) + F.pmod(_h(eid, F.lit("ts")), F.lit(EVENT_SPAN_US))
    etype = F.element_at(
        F.array(*[F.lit(t) for t in EVENT_TYPES]),
        (F.pmod(_h(eid, F.lit("et")), F.lit(len(EVENT_TYPES))) + F.lit(1)).cast(
            "int"
        ),
    )
    value = (F.pmod(_h(eid, F.lit("val")), F.lit(100_000_000)) / F.lit(1e6)).cast(
        "double"
    )
    props = F.concat(
        F.lit('{"k": '),
        F.pmod(_h(eid, F.lit("pk")), F.lit(1000)).cast("string"),
        F.lit("}"),
    )
    return e.select(
        "event_id",
        F.timestamp_micros(us).alias("ts"),
        user.cast("long").alias("user_id"),
        etype.alias("event_type"),
        value.alias("value"),
        props.alias("props"),
    )


def gen_users(spark: SparkSession, n_users: int) -> DataFrame:
    """User dimension for the join-family skew stress (events ⨝ users)."""
    u = spark.range(n_users + 1).withColumnRenamed("id", "user_id")
    uid = F.col("user_id")
    segment = F.concat(
        F.lit("seg"), F.pmod(_h(uid, F.lit("seg")), F.lit(10)).cast("string")
    )
    return u.select("user_id", segment.alias("segment"))


def _complete(*paths: str) -> bool:
    """All dirs exist AND carry Spark's _SUCCESS marker — a killed partial
    write must rebuild, not get silently served (same gate as the staged
    artifacts in operators/olap.py and operators/dedup.py)."""
    return all(
        os.path.exists(os.path.join(p, "_SUCCESS")) for p in paths
    )


def generate_skewed(
    spark: SparkSession,
    out_dir: str,
    scale: float,
    hot_user_fraction: float = 0.3,
    hot_source_fraction: float = 0.3,
) -> dict:
    """Skewed-variant corpus: events + users + source-skewed documents.

    * ``events.parquet``: ``hot_user_fraction`` of rows on one user — the
      skewed-shuffle hazard for window/join/agg families;
    * ``users.parquet``: dimension side for the join family;
    * ``documents.parquet``: same planted-cluster corpus as :func:`generate`
      but with ``hot_source_fraction`` of CLUSTERS re-keyed onto ``src0`` —
      the jaccard per-source block join and the fan-out sink then see one
      block holding ~30% of the corpus.
    """
    n_docs = int(BASE_DOCS * scale)
    n_events = int(BASE_EVENTS * scale)
    n_users = max(BASE_USERS, int(BASE_USERS * math.sqrt(scale)))
    n_sources = max(BASE_SOURCES, int(BASE_SOURCES * math.sqrt(scale)))
    meta = {
        "scale": scale,
        "n_docs": n_docs,
        "n_events": n_events,
        "n_users": n_users,
        "n_sources": n_sources,
        "hot_user_fraction": hot_user_fraction,
        "hot_source_fraction": hot_source_fraction,
    }
    ev_path = os.path.join(out_dir, "events.parquet")
    us_path = os.path.join(out_dir, "users.parquet")
    doc_path = os.path.join(out_dir, "documents.parquet")
    if _complete(ev_path, us_path, doc_path):
        return meta
    ev = gen_events(spark, n_events, n_users, hot_user_fraction)
    ev.repartition(max(4, n_events // 500_000)).write.mode("overwrite").parquet(
        ev_path
    )
    gen_users(spark, n_users).coalesce(1).write.mode("overwrite").parquet(us_path)
    docs = gen_documents(spark, n_docs, n_sources)
    cl_hot = (
        F.pmod(F.xxhash64(F.col("source"), F.lit(SEED), F.lit("hsrc")), F.lit(1000))
        < F.lit(int(hot_source_fraction * 1000))
    )
    docs = docs.withColumn(
        "source", F.when(cl_hot, F.lit("src0")).otherwise(F.col("source"))
    )
    docs.repartition(max(4, n_docs // 50_000)).write.mode("overwrite").parquet(
        doc_path
    )
    return meta


def generate(spark: SparkSession, out_dir: str, scale: float) -> dict:
    """Materialize a scale-X corpus under *out_dir* (skips if present).

    Partition count scales with rows (~50k docs per output file) so the
    written layout matches what a distributed writer would produce and the
    downstream scans parallelize.
    """
    n_docs = int(BASE_DOCS * scale)
    n_vecs = int(BASE_VECS * scale)
    n_sources = max(BASE_SOURCES, int(BASE_SOURCES * math.sqrt(scale)))
    meta = {
        "scale": scale,
        "n_docs": n_docs,
        "n_vecs": n_vecs,
        "n_sources": n_sources,
    }
    doc_path = os.path.join(out_dir, "documents.parquet")
    vec_path = os.path.join(out_dir, "embeddings.parquet")
    if _complete(doc_path, vec_path):
        return meta
    docs = gen_documents(spark, n_docs, n_sources).repartition(
        max(4, n_docs // 50_000)
    )
    docs.write.mode("overwrite").parquet(doc_path)
    vecs = gen_embeddings(spark, n_vecs).repartition(max(2, n_vecs // 100_000))
    vecs.write.mode("overwrite").parquet(vec_path)
    return meta


if __name__ == "__main__":
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from ting_data_etl_spark.session import get_spark

    out = sys.argv[1]
    scale = float(sys.argv[2])
    spark = get_spark(app_name="scale-corpus-gen", long_lived=True)
    spark.sparkContext.setLogLevel("ERROR")
    print(generate(spark, out, scale))
