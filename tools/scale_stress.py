"""Scale-stress the dedup/ANN families on generated 10x-100x corpora.

VERDICT r05 #1: the frequency caps, SRP bucket sizing, SimHash width, and CC
round behavior are the 100 TB story, and sf0.1 (5k docs / 2k vectors) cannot
stress any of them. This runner generates seeded corpora at 1x / 10x / 100x
the sf0.1 row counts (``tools/scale_corpus.py``), applies the DOCUMENTED
capacity rules for each knob (the same rules a deployment would apply — see
``similarity.SRP_BITS`` / ``dedup.SIMHASH_BITS`` docstrings), runs the
dedup/ANN suite, and records per-scale:

* wall time + output rows per query,
* pre-cap vs post-cap candidate-pair volume for every banded self-join
  (minhash bands, simhash bands, jaccard shingles) — the caps' whole job is
  keeping this sub-quadratic,
* bucket-occupancy stats for the SRP tables,
* recall on the PLANTED structure (cluster near-dups, cos≈0.9999 vector
  copies) — capacity retunes must not cost planted-duplicate recall.

The top-k query workload is held at ~200 queries per scale (QUERY_MOD =
10·scale): the experiment scales the CORPUS and measures per-query cost,
which is how an ANN serving path is actually operated.

Usage: python tools/scale_stress.py [--scales 1,10,100] [--out SCALE_r06]
Writes <out>.json; the committed SCALE_r06.md narrates the numbers.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

from pyspark.sql import functions as F  # noqa: E402

CORPUS_ROOT = "/tmp/scale_corpus"


def capacity_config(n_docs: int, n_vecs: int, scale: float) -> dict:
    """Capacity rules from ``ting_data_etl_spark.capacity``, plus
    QUERY_MOD = 10·scale — hold the top-k workload at ~200 queries while
    the corpus scales (per-query cost is the operated metric)."""
    from ting_data_etl_spark import capacity

    return {**capacity.recommend(n_docs, n_vecs), "query_mod": int(10 * scale)}


def pair_cap_stats(buckets, cap: int) -> dict:
    """Candidate-pair volume a banded self-join would produce, pre/post cap.

    *buckets* is a DataFrame of bucket sizes (column ``n``). The self-join
    emits C(n,2) pairs per bucket; the cap drops buckets with n > cap. One
    aggregate — the diagnostic costs a scan, not a join.
    """
    row = buckets.agg(
        F.count("*").alias("n_buckets"),
        F.max("n").alias("max_occupancy"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pairs_pre_cap"),
        F.sum(
            F.when(F.col("n") <= cap, F.col("n") * (F.col("n") - 1) / 2).otherwise(
                F.lit(0)
            )
        ).alias("pairs_post_cap"),
        F.sum(F.when(F.col("n") > cap, 1).otherwise(0)).alias("buckets_dropped"),
    ).first()
    return {
        "n_buckets": row.n_buckets,
        "max_occupancy": row.max_occupancy,
        "pairs_pre_cap": int(row.pairs_pre_cap or 0),
        "pairs_post_cap": int(row.pairs_post_cap or 0),
        "buckets_dropped": int(row.buckets_dropped or 0),
    }


def diagnostics(spark, sf_dir: str) -> dict:
    import ting_data_etl_spark.operators.dedup as dd
    import ting_data_etl_spark.operators.similarity as S
    from ting_data_etl_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    out: dict = {}

    mh_buckets = (
        dd.minhash_signatures_df(d)
        .select(F.posexplode(dd.lsh_bands(F.col("sig"))).alias("j", "band"))
        .groupBy("j", "band")
        .agg(F.count("*").alias("n"))
    )
    out["minhash_bands"] = pair_cap_stats(mh_buckets, dd.BAND_FREQUENCY_CAP)

    w = dd.SIMHASH_BITS // dd.SIMHASH_N_BANDS
    mask = (1 << w) - 1
    sh_buckets = (
        dd.simhash_signatures_df(d)
        .select(
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col("simhash"), w * j).bitwiseAND(F.lit(mask))
                        for j in range(dd.SIMHASH_N_BANDS)
                    ]
                )
            ).alias("j", "band")
        )
        .groupBy("j", "band")
        .agg(F.count("*").alias("n"))
    )
    out["simhash_bands"] = pair_cap_stats(sh_buckets, dd.BAND_FREQUENCY_CAP)

    shingles = (
        dd.word_shingles_df(d, extra_cols=("source",))
        .select(
            "doc_id",
            "source",
            F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10)
            .try_cast("long")
            .alias("shingle"),
        )
        .distinct()
        .groupBy("source", "shingle")
        .agg(F.count("*").alias("n"))
    )
    out["jaccard_shingles"] = pair_cap_stats(shingles, dd.SHINGLE_FREQUENCY_CAP)

    srp = (
        S._quantized(spark, sf_dir)
        .select(
            F.posexplode(
                F.array(*[S.srp_bucket(F.col("q"), t) for t in range(S.SRP_TABLES)])
            ).alias("t", "bucket")
        )
        .groupBy("t", "bucket")
        .agg(F.count("*").alias("n"))
    )
    row = srp.agg(
        F.count("*").alias("n_buckets"),
        F.max("n").alias("max_occupancy"),
        F.avg("n").alias("avg_occupancy"),
    ).first()
    out["srp_buckets"] = {
        "n_buckets": row.n_buckets,
        "max_occupancy": row.max_occupancy,
        "avg_occupancy": round(float(row.avg_occupancy), 1),
        "bits": S.SRP_BITS,
        "tables": S.SRP_TABLES,
    }
    return out


def planted_recall(spark, sf_dir: str, meta: dict, found: dict) -> dict:
    """Recall of the generator's planted duplicates (see scale_corpus.py)."""
    from tools.scale_corpus import CLUSTER_FRACTION, CLUSTER_SIZE, NEAR_DUP_VEC_MOD

    out = {}
    n_cluster_docs = int(meta["n_docs"] * CLUSTER_FRACTION)
    n_clusters = n_cluster_docs // CLUSTER_SIZE
    rem = n_cluster_docs % CLUSTER_SIZE
    # the partial tail cluster's pairs DO pass the found-filter (same
    # floor-group, doc_b < n_cluster_docs), so they must count as planted
    # too or recall can exceed 1.0 at sizes not divisible by CLUSTER_SIZE
    planted_doc_pairs = n_clusters * (
        CLUSTER_SIZE * (CLUSTER_SIZE - 1) // 2
    ) + rem * (rem - 1) // 2
    if "dedup_minhash_lsh_pairs" in found:
        hit = (
            found["dedup_minhash_lsh_pairs"]
            .filter(
                (F.col("doc_b") < n_cluster_docs)
                & (
                    F.floor(F.col("doc_a") / CLUSTER_SIZE)
                    == F.floor(F.col("doc_b") / CLUSTER_SIZE)
                )
            )
            .count()
        )
        out["minhash_planted"] = {
            "planted": planted_doc_pairs,
            "found": hit,
            "recall": round(hit / planted_doc_pairs, 4),
        }
    n_vecs = meta["n_vecs"]
    planted_vec_pairs = len(range(1, n_vecs, NEAR_DUP_VEC_MOD))
    if "dedup_embedding_cosine_pairs" in found:
        hit = (
            found["dedup_embedding_cosine_pairs"]
            .filter(
                (F.col("vec_b") == F.col("vec_a") + 1)
                & (F.pmod(F.col("vec_b"), F.lit(NEAR_DUP_VEC_MOD)) == 1)
            )
            .count()
        )
        out["embedding_planted"] = {
            "planted": planted_vec_pairs,
            "found": hit,
            "recall": round(hit / planted_vec_pairs, 4),
        }
    return out


def run_scale(spark, scale: float) -> dict:
    import ting_data_etl_spark.operators.dedup as dd
    import ting_data_etl_spark.operators.similarity as S
    from tools import scale_corpus

    sf_dir = os.path.join(CORPUS_ROOT, f"x{scale:g}")
    t0 = time.time()
    meta = scale_corpus.generate(spark, sf_dir, scale)
    gen_sec = round(time.time() - t0, 1)

    cfg = capacity_config(meta["n_docs"], meta["n_vecs"], scale)
    saved = (
        S.SRP_BITS,
        S.SRP_SIGNS,
        S.KMEANS_LISTS,
        S.QUERY_MOD,
        dd.SIMHASH_BITS,
    )
    S.SRP_BITS = cfg["srp_bits"]
    S.SRP_SIGNS = S._srp_signs()
    S.KMEANS_LISTS = cfg["kmeans_lists"]
    S.QUERY_MOD = cfg["query_mod"]
    dd.SIMHASH_BITS = cfg["simhash_bits"]
    try:
        diag = diagnostics(spark, sf_dir)

        import __spark_entry__ as entrymod

        qs = entrymod.queries()
        names = [
            "dedup_exact",
            "dedup_minhash_lsh_pairs",
            "dedup_incremental_minhash",
            "dedup_simhash_pairs",
            "dedup_ngram_jaccard_pairs",
            # r7 chunk family: the map leg must scale with scan bandwidth
            # (zero-shuffle), the boilerplate groupBy with linear rows
            "text_chunk_windows",
            "dedup_chunk_boilerplate",
            "dedup_connected_components",
            "dedup_keep_canonical",
            "dedup_embedding_cosine_pairs",
            "dedup_embedding_strict_pairs",
            "similarity_srp_lsh_topk",
            "similarity_ivf_kmeans_topk",
            "graph_near_dup_stats",
        ]
        # the dense baselines are EXCLUDED above 10x by design: bruteforce is
        # the gated O(Q·N) reference; label-IVF has a fixed 10-list layout
        # (its semantics), under-partitioned past ~10x — kmeans-IVF is the
        # corpus-scale path.
        if scale <= 10:
            names += ["similarity_ivf_topk", "similarity_bruteforce_topk"]

        results: dict = {}
        found: dict = {}
        for name in names:
            # time a noop WRITE (full plan execution, same action as
            # bench.py) — count() is NOT a valid timing action here:
            # Catalyst legally eliminates a left join under count when the
            # right side is key-unique, so e.g. dedup_incremental_minhash's
            # entire signature+band pipeline would be optimized away
            # (measured: 0.6 s "runtime" at x100)
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            sec = round(time.time() - t0, 1)
            results[name] = {"sec": sec, "rows": qs[name](spark, sf_dir).count()}
            if name in (
                "dedup_minhash_lsh_pairs",
                "dedup_embedding_cosine_pairs",
            ):
                found[name] = qs[name](spark, sf_dir)
        recall = planted_recall(spark, sf_dir, meta, found)
    finally:
        (
            S.SRP_BITS,
            S.SRP_SIGNS,
            S.KMEANS_LISTS,
            S.QUERY_MOD,
            dd.SIMHASH_BITS,
        ) = saved

    return {
        **meta,
        "config": cfg,
        "gen_sec": gen_sec,
        "diagnostics": diag,
        "queries": results,
        "recall": recall,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,10,100")
    ap.add_argument("--out", default="SCALE_r06")
    args = ap.parse_args()

    from ting_data_etl_spark.session import get_spark

    spark = get_spark(app_name="scale-stress", long_lived=True)
    spark.sparkContext.setLogLevel("ERROR")

    report = {"scales": []}
    for s in args.scales.split(","):
        scale = float(s)
        print(f"=== scale x{scale:g} ===", flush=True)
        r = run_scale(spark, scale)
        report["scales"].append(r)
        print(json.dumps(r), flush=True)

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        f"{args.out}.json",
    )
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"wrote {path}", flush=True)


if __name__ == "__main__":
    main()
