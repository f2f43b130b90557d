"""Scale probe for the round-9 selection/dedup additions:
dedup_semdedup_prune, sample_dsir_importance, corpus_epoch_order,
corpus_budget_head.

Per scale (x10 / x100 of the sf0.1 shape, generated by tools/scale_corpus.py
into /tmp/scale_corpus), records each
operator's funnel:

  semdedup:  max cluster size -> within-cluster candidate pairs -> pruned
  dsir:      (doc, bucket) tf rows -> bucket-table rows (claim: FLAT <= B)
  epoch:     rows ranked; per-shard contiguity verified from the rollup
  budget:    selected docs; kept-token fraction vs the BUDGET_PCT target

The scale claims being measured:

* SemDeDup's contract is k ∝ N (constant expected cluster size). The probe
  runs BOTH regimes at each scale: the fixture k (8, frozen — candidate
  volume grows quadratically, the documented wrong way) and the contract k
  (k scaled with the corpus — candidate volume per vector stays ~flat).
  The retune goes through the module constant exactly like a production
  retune would (call-time resolution, cache keyed on it).
* DSIR's bucket table must stay <= DSIR_BUCKETS rows at ANY corpus size —
  that is its whole memory story — while tf rows and wall grow ~linearly.
* Epoch order and budget head are banded two-phase scans: wall ~linear,
  no global sort (the probe relies on the plan pins for the shape and
  measures volume/wall here).

Usage: python tools/selection_scale.py [--scales 10,100] [--gen]
Writes SELECTION_SCALE_r09.json at the repo root (merges over prior scales).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

CORPUS_ROOT = "/tmp/scale_corpus"


def _semdedup_probe(spark, sf_dir: str, k: int) -> dict:
    """Run semdedup with KMEANS_LISTS retuned to *k*; return its funnel."""
    from pyspark.sql import functions as F

    import ting_data_etl_spark.operators.similarity as S

    prev = S.KMEANS_LISTS
    S.KMEANS_LISTS = k
    try:
        cents = S.ivf_centroids(spark, sf_dir)
        assign1 = S.nearest_lists_udf(cents, 1)
        occ = (
            S._quantized(spark, sf_dir)
            .select(F.element_at(assign1(F.col("q")), 1).alias("list_id"))
            .groupBy("list_id")
            .count()
        )
        stats = occ.agg(
            F.max("count").alias("mx"),
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("cand"),
            F.count("*").alias("lists"),
        ).collect()[0]
        out = {
            "k": k,
            "lists_used": int(stats["lists"]),
            "max_cluster": int(stats["mx"]),
            "candidate_pairs": int(stats["cand"]),
        }
        # the frozen-k regime goes quadratic by design — don't burn an hour
        # proving it; the candidate count IS the measurement
        if stats["cand"] > 150_000_000:
            out["pruned"] = None
            out["skipped_quadratic"] = True
            return out
        t0 = time.time()
        out["pruned"] = S.dedup_semdedup_prune(spark, sf_dir).count()
        out["wall_sec"] = round(time.time() - t0, 1)
        return out
    finally:
        S.KMEANS_LISTS = prev


def _incrsel_probe(spark, sf_dir: str, scale: float) -> dict:
    """Incremental-selection decision-update cost vs from-scratch recompute.

    The r11 claim (operators/incremental.py): with the standing state
    staged — as a production system holds it — the daily decision update
    pays O(batch text) plus fixed-width maintenance, so its wall must (a)
    sit well under the from-scratch pipeline's and (b) TRACK THE BATCH
    SIZE, not the corpus: the probe runs the update at two batch
    fractions (INCR_BATCH_MOD 5 → 20% and 50 → 2%) against the same
    corpus and records both walls next to the full recompute's.

    SemDeDup's k ∝ N contract applies to both paths at scale: KMEANS_LISTS
    is retuned like a production refit (same mechanism as
    ``_semdedup_probe``), else the within-cluster stages go quadratic for
    the full path and the standing-stage build alike.

    Walls are best-of-2 with stages warm (the build is reported
    separately as the one-time index cost it is).
    """
    import ting_data_etl_spark.operators.dedup as D
    import ting_data_etl_spark.operators.similarity as S
    from ting_data_etl_spark.operators.curation import corpus_final_selection
    from ting_data_etl_spark.operators.incremental import (
        _merged_pairs,
        _standing_bands,
        _standing_contam,
        _standing_grams,
        _standing_ledger,
        _standing_sem,
        _standing_sem_pruned,
        corpus_incremental_selection,
    )

    out: dict = {}
    base_k, base_mod = S.KMEANS_LISTS, D.INCR_BATCH_MOD
    S.KMEANS_LISTS = max(base_k, int(base_k * scale))
    out["contract_k"] = S.KMEANS_LISTS
    try:
        for mod in (5, 50):
            D.INCR_BATCH_MOD = mod
            tag = f"batch_{100 // mod}pct"
            t0 = time.time()
            for build in (
                _standing_ledger,
                _standing_grams,
                _standing_contam,
                _standing_bands,
                _standing_sem,
                _standing_sem_pruned,
            ):
                build(spark, sf_dir).count()
            out[f"{tag}_stage_build_sec"] = round(time.time() - t0, 1)
            walls = []
            for _ in range(2):
                t0 = time.time()
                n = corpus_incremental_selection(spark, sf_dir).count()
                walls.append(time.time() - t0)
            out[f"{tag}_update_sec"] = round(min(walls), 1)
            out[f"{tag}_first_update_sec"] = round(walls[0], 1)
            out[f"{tag}_rows"] = n
            out[f"{tag}_pairs"] = _merged_pairs(spark, sf_dir).count()
        D.INCR_BATCH_MOD = base_mod
        walls = []
        for _ in range(2):
            t0 = time.time()
            corpus_final_selection(spark, sf_dir).count()
            walls.append(time.time() - t0)
        out["full_recompute_sec"] = round(min(walls), 1)
        out["full_first_sec"] = round(walls[0], 1)
    finally:
        S.KMEANS_LISTS = base_k
        D.INCR_BATCH_MOD = base_mod
    return out


def _incrdel_probe(spark, sf_dir: str) -> dict:
    """Pair-index delete/re-edit maintenance vs from-scratch re-sign.

    The r11 claim (incremental_pairs_with_deletes): with the standing band
    index staged, applying tombstones + re-edits costs one O(edits) text
    pass plus affected-bucket fixed-width work — against the from-scratch
    alternative of re-signing every surviving document and re-running the
    pair self-join. Walls best-of-2, stages warm.
    """
    from pyspark.sql import functions as F

    from ting_data_etl_spark.operators.dedup import (
        _incr_mh_deleted,
        _incr_mh_readded,
        band_frequency_cap,
        lsh_bands,
        minhash_signatures_df,
    )
    from ting_data_etl_spark.operators.incremental import (
        _batch_pred,
        _standing_bands,
        _standing_bucket_pairs,
        incremental_pairs_with_deletes,
    )

    out: dict = {}
    t0 = time.time()
    _standing_bands(spark, sf_dir).count()
    _standing_bucket_pairs(spark, sf_dir).count()
    out["stage_build_sec"] = round(time.time() - t0, 1)
    walls = []
    for _ in range(2):
        t0 = time.time()
        n = incremental_pairs_with_deletes(spark, sf_dir).count()
        walls.append(time.time() - t0)
    out["maintain_sec"] = round(min(walls), 1)
    out["pairs_after_edits"] = n

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    alive = docs.filter(~_batch_pred()).filter(
        ~(_incr_mh_deleted() & ~_incr_mh_readded())
    ).select(
        "doc_id",
        F.when(
            _incr_mh_readded(),
            F.concat(
                F.col("text"), F.lit(" edited "), F.col("doc_id").cast("string")
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    walls = []
    for _ in range(2):
        t0 = time.time()
        bands = minhash_signatures_df(alive).select(
            "doc_id", F.posexplode(lsh_bands(F.col("sig"))).alias("j", "band")
        )
        capped = band_frequency_cap(bands)
        a, b = capped.alias("a"), capped.alias("b")
        m = a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        ).distinct().count()
        walls.append(time.time() - t0)
    out["fullresign_sec"] = round(min(walls), 1)
    out["pairs_full"] = m
    return out


def _manifest_sink_probe(spark, sf_dir: str, scale: float) -> dict:
    """Physical shard sink at volume: file counts stay O(shards), shards
    stay token-balanced, read-back equals the manifest (r12 sink).

    The nested selection's SemDeDup leg runs under the k ∝ N contract
    (same retune as ``_incrsel_probe`` — default k at 500k docs is the
    documented quadratic trap, 2.6B candidate pairs)."""
    import glob
    import tempfile

    import ting_data_etl_spark.operators.similarity as S
    from ting_data_etl_spark.operators.sampling import (
        N_SHARDS,
        corpus_manifest_shard_sink,
        corpus_selection_manifest,
    )

    out: dict = {}
    base_k = S.KMEANS_LISTS
    S.KMEANS_LISTS = max(base_k, int(base_k * scale))
    out["contract_k"] = S.KMEANS_LISTS
    try:
        t0 = time.time()
        manifest = {
            r["shard"]: (r["n_docs"], r["total_tokens"], r["ids_xor"])
            for r in corpus_selection_manifest(spark, sf_dir).collect()
        }
        out["manifest_wall_sec"] = round(time.time() - t0, 1)
        t0 = time.time()
        back = {
            r["shard"]: (r["n_docs"], r["total_tokens"], r["ids_xor"])
            for r in corpus_manifest_shard_sink(spark, sf_dir).collect()
        }
        out["sink_readback_wall_sec"] = round(time.time() - t0, 1)
        out["readback_equals_manifest"] = back == manifest
        run = max(
            glob.glob(
                os.path.join(tempfile.gettempdir(), "ting_manifest_sink", "*")
            ),
            key=os.path.getmtime,
        )
        parts = glob.glob(os.path.join(run, "shard=*", "part-*.parquet"))
        out["n_shards"] = N_SHARDS
        out["n_part_files"] = len(parts)
        toks = [v[1] for v in back.values()]
        out["docs_selected"] = int(sum(v[0] for v in back.values()))
        out["token_balance_max_over_min"] = round(
            max(toks) / max(min(toks), 1), 4
        )
    finally:
        S.KMEANS_LISTS = base_k
    return out


def _incrman_probe(spark, sf_dir: str, scale: float) -> dict:
    """Incremental manifest (XOR set digest) update vs from-scratch rollup.

    The r12 claim (operators/incremental.py): with the standing digest
    staged (N_SHARDS fixed rows), the daily manifest refresh costs the
    SELECTION DELTA — anti-joins of two id sets plus ledger-priced delta
    rows — while the from-scratch manifest re-derives the full selection
    AND re-reads every selected doc's text for token prices. Both paths'
    outputs are compared for equality (collected sets, so Catalyst can't
    join-eliminate either leg — the r11 probe trap).

    SemDeDup k ∝ N contract retune as in ``_incrsel_probe``.
    """
    from pyspark.sql import functions as F

    import ting_data_etl_spark.operators.similarity as S
    from ting_data_etl_spark.functions.text import token_count
    from ting_data_etl_spark.operators.curation import final_selection_df
    from ting_data_etl_spark.operators.incremental import (
        _digest_rollup_df,
        _standing_manifest_digest,
        incremental_manifest_update,
    )
    from ting_data_etl_spark.sources.tables import load_table

    out: dict = {}
    base_k = S.KMEANS_LISTS
    S.KMEANS_LISTS = max(base_k, int(base_k * scale))
    out["contract_k"] = S.KMEANS_LISTS
    try:
        t0 = time.time()
        _standing_manifest_digest(spark, sf_dir).count()
        out["digest_build_sec"] = round(time.time() - t0, 1)
        walls, rows = [], None
        for _ in range(2):
            t0 = time.time()
            rows = incremental_manifest_update(spark, sf_dir).collect()
            walls.append(time.time() - t0)
        out["update_sec"] = round(min(walls), 1)
        out["first_update_sec"] = round(walls[0], 1)
        out["n_shards"] = len(rows)
        out["docs_selected"] = int(sum(r["n_docs"] for r in rows))
        toks = [r["total_tokens"] for r in rows]
        out["token_balance_max_over_min"] = round(
            max(toks) / max(min(toks), 1), 4
        )
        walls, full = [], None
        for _ in range(2):
            t0 = time.time()
            sel = final_selection_df(spark, sf_dir).filter(
                F.col("decision") == "selected"
            )
            priced = (
                load_table(spark, sf_dir, "documents")
                .select("doc_id", token_count("text").alias("n_toks"))
                .join(sel.select("doc_id"), "doc_id")
            )
            full = _digest_rollup_df(priced).collect()
            walls.append(time.time() - t0)
        out["fromscratch_sec"] = round(min(walls), 1)
        out["fromscratch_first_sec"] = round(walls[0], 1)
        out["update_equals_fromscratch"] = sorted(
            map(tuple, rows)
        ) == sorted(map(tuple, full))
    finally:
        S.KMEANS_LISTS = base_k
    return out


def _cowsink_probe(spark, sf_dir: str, scale: float) -> dict:
    """Copy-on-write shard sink in the regime it exists for: production
    shard count (capacity-style 4096) + a small daily drop (0.1% batch),
    so the delta touches a FRACTION of shards and the snapshot rewrites
    only those — measured as touched/total shards and bytes written vs
    the standing layout's bytes. Both the sink and the maintained digest
    run under the same retune and must stay bit-equal.

    The retune goes through the module constants like a production retune
    (N_SHARDS reaches the stage keys via _n_shards(); INCR_BATCH_MOD
    rides _incr_token()), so the standing state rebuilds under the new
    regime — reported as the one-time build it is.
    """
    import glob
    import tempfile

    import ting_data_etl_spark.operators.dedup as D
    import ting_data_etl_spark.operators.sampling as SA
    import ting_data_etl_spark.operators.similarity as S
    from ting_data_etl_spark.operators.incremental import (
        _standing_shard_files,
        incremental_manifest_update,
        incremental_shard_sink_delta,
    )

    def du(path: str) -> int:
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
        )

    out: dict = {}
    prev_shards, prev_mod = SA.N_SHARDS, D.INCR_BATCH_MOD
    base_k = S.KMEANS_LISTS
    SA.N_SHARDS, D.INCR_BATCH_MOD = 4096, 1000
    S.KMEANS_LISTS = max(base_k, int(base_k * scale))  # k ∝ N contract
    out["n_shards"], out["batch_pct"] = 4096, 0.1
    out["contract_k"] = S.KMEANS_LISTS
    # the retuned constants mint a fresh fingerprint family (shardfiles_4096,
    # mandigest_4096, every incrsel stage under the retuned _incr_token) —
    # standing-corpus-sized artifacts no normal run ever reuses; snapshot the
    # stage root now and sweep exactly the dirs this probe creates (ADVICE r12)
    stage_root = os.path.dirname(D._stage_dir(sf_dir, ["x"]))
    pre_stages = (
        set(os.listdir(stage_root)) if os.path.isdir(stage_root) else set()
    )
    try:
        t0 = time.time()
        staged = _standing_shard_files(spark, sf_dir)
        out["standing_build_sec"] = round(time.time() - t0, 1)
        out["standing_bytes"] = du(staged)
        out["standing_shard_dirs"] = len(
            glob.glob(os.path.join(staged, "shard=*"))
        )
        walls, rows = [], None
        for _ in range(2):
            t0 = time.time()
            rows = incremental_shard_sink_delta(spark, sf_dir).collect()
            walls.append(time.time() - t0)
        out["sink_sec"] = round(min(walls), 1)
        out["sink_first_sec"] = round(walls[0], 1)
        run = max(
            glob.glob(
                os.path.join(tempfile.gettempdir(), "ting_shard_cow", "*")
            ),
            key=os.path.getmtime,
        )
        out["touched_shard_dirs"] = len(glob.glob(os.path.join(run, "shard=*")))
        out["bytes_written"] = du(run)
        out["write_fraction"] = round(
            out["bytes_written"] / max(out["standing_bytes"], 1), 4
        )
        man = incremental_manifest_update(spark, sf_dir).collect()
        out["sink_equals_manifest"] = sorted(map(tuple, rows)) == sorted(
            map(tuple, man)
        )
    finally:
        SA.N_SHARDS, D.INCR_BATCH_MOD = prev_shards, prev_mod
        S.KMEANS_LISTS = base_k
        import shutil

        if os.path.isdir(stage_root):
            for d in set(os.listdir(stage_root)) - pre_stages:
                shutil.rmtree(os.path.join(stage_root, d), ignore_errors=True)
    return out


def _reindex_probe(spark, sf_dir: str, scale: float) -> dict:
    """Rebuild-vs-maintain crossover (VERDICT r13 #8): when does a
    standing-state rebuild pay for itself — the cadence a production
    deployment must choose.

    The maintain leg's cost tracks the ACCUMULATED arrivals since the last
    rebuild (the merged-state legs touch batch-dependent volumes), so a
    deployment that defers the rebuild pays a growing daily update bill.
    The probe measures the daily update wall with 1, 5, and 10 days of
    2%-daily arrivals accumulated (INCR_BATCH_MOD 50 → 2%, 10 → 10%,
    5 → 20% — the same production-retune mechanism ``_incrsel_probe``
    uses), then a COLD ``corpus_reindex`` (generation-1 dirs swept first,
    so the wall is the true O(corpus) re-derivation), and derives the
    crossover: with per-day overhead ≈ slope·d, the cumulative extra
    maintain cost reaches one rebuild at D* ≈ sqrt(2·rebuild/slope) days.
    Cited from the ``corpus_reindex`` docstring as the cadence evidence.
    """
    import ting_data_etl_spark.operators.dedup as D
    import ting_data_etl_spark.operators.similarity as S
    from ting_data_etl_spark.operators import incremental as I

    out: dict = {}
    base_k, base_mod = S.KMEANS_LISTS, D.INCR_BATCH_MOD
    S.KMEANS_LISTS = max(base_k, int(base_k * scale))
    out["contract_k"] = S.KMEANS_LISTS
    builds = (
        I._standing_ledger,
        I._standing_grams,
        I._standing_contam,
        I._standing_bands,
        I._standing_sem,
        I._standing_sem_pruned,
    )
    try:
        for mod, days in ((50, 1), (10, 5), (5, 10)):
            D.INCR_BATCH_MOD = mod
            t0 = time.time()
            for build in builds:
                build(spark, sf_dir).count()
            out[f"day{days}_stage_build_sec"] = round(time.time() - t0, 1)
            walls = []
            for _ in range(2):
                t0 = time.time()
                n = I.corpus_incremental_selection(spark, sf_dir).count()
                walls.append(time.time() - t0)
            out[f"day{days}_update_sec"] = round(min(walls), 1)
            out[f"day{days}_rows"] = n
        D.INCR_BATCH_MOD = base_mod
        # the rebuild leg, COLD: sweep any generation-1 artifacts first so
        # the wall includes the full standing-state re-derivation
        I._sweep_generations(sf_dir, keep=(0,))
        t0 = time.time()
        I.corpus_reindex(spark, sf_dir).count()
        out["rebuild_cold_sec"] = round(time.time() - t0, 1)
        # crossover from the measured points: overhead(d) = update(d) -
        # update(1) at d days accumulated; least-squares slope through
        # (1,0), (5, o5), (10, o10)
        o5 = out["day5_update_sec"] - out["day1_update_sec"]
        o10 = out["day10_update_sec"] - out["day1_update_sec"]
        num = (5 - 1) * o5 + (10 - 1) * o10
        den = (5 - 1) ** 2 + (10 - 1) ** 2
        slope = max(1e-6, num / den)
        out["overhead_slope_sec_per_day"] = round(slope, 2)
        out["crossover_days"] = round(
            (2 * out["rebuild_cold_sec"] / slope) ** 0.5, 1
        )
    finally:
        S.KMEANS_LISTS = base_k
        D.INCR_BATCH_MOD = base_mod
    return out


def _index_scan_rows(plan) -> int:
    """Sum numOutputRows over the FileSourceScanExec leaves of an EXECUTED
    physical plan — the rows the parquet reader actually MATERIALIZED
    (post row-group skipping), i.e. the per-trigger index read in rows.
    Chosen over FileSystem byte statistics because the vectorized reader's
    data-page reads bypass those counters (validated: a full 1 GB scan
    counted 646 KB — footers only)."""
    leaves = plan.collectLeaves()
    total = 0
    for i in range(leaves.size()):
        n = leaves.apply(i)
        if n.getClass().getSimpleName() == "FileSourceScanExec":
            total += n.metrics().apply("numOutputRows").value()
    return total


def _incrgate_buckets_probe(spark, sf_dir: str, bucket_counts=(32, 256, 1024)) -> dict:
    """VERDICT r12 #4: is the small-drop probe's index READ row-group-
    bounded, not index-sized, and how does INDEX_BUCKETS move it?

    For each bucket count, publish the standing capped index as the
    bucketed table at that count, then measure the gate's per-trigger
    probe join (the exact pruned plan ``streaming_incremental_arrival_
    gate`` builds for a small drop: drop band keys In-pushed into the
    bucketed scan) with the drop's own signature pass checkpointed OUT of
    the measurement — the FileSystem read delta is the index bytes the
    trigger actually pulls. The unpruned leg (same join, no In filter)
    is the index-sized baseline. Stage sweep on exit as in
    ``_cowsink_probe`` (retuned fingerprints are probe-local).
    """
    from pyspark.sql import functions as F

    import ting_data_etl_spark.capacity as C
    import ting_data_etl_spark.operators.dedup as D
    import ting_data_etl_spark.operators.incremental as I
    from ting_data_etl_spark.operators.dedup import (
        lsh_bands,
        minhash_signatures_df,
    )

    out: dict = {
        "capacity_rule_at_10B_docs": C.index_buckets(10_000_000_000),
        "rows": [],
    }
    prev_mod = (D.INCR_BATCH_MOD, D.INCR_BATCH_REM)
    prev_buckets = I.INDEX_BUCKETS
    # TINY drop: the land-and-gate-immediately case the prune lever is for
    # (must clear the PROBE_PRUNE_KEYS ceiling — at x1000 = 5M docs,
    # MOD=1e5 gives ~50 docs -> ~400 band keys <= 1024)
    D.INCR_BATCH_MOD, D.INCR_BATCH_REM = 100_000, 1
    stage_root = os.path.dirname(D._stage_dir(sf_dir, ["x"]))
    pre_stages = (
        set(os.listdir(stage_root)) if os.path.isdir(stage_root) else set()
    )
    conf_key = "spark.sql.parquet.pushdown.inFilterThreshold"
    prev_thresh = spark.conf.get(conf_key, None)
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        batch = docs.filter(I._batch_pred())
        bands_b = (
            minhash_signatures_df(batch)
            .select(
                "doc_id",
                F.posexplode(lsh_bands(F.col("sig"))).alias("j", "band"),
            )
            .localCheckpoint(eager=True)  # keep the signature pass OUT of
            # the measured read: the probe measures INDEX bytes only
        )
        vals = [r["band"] for r in bands_b.select("band").distinct().collect()]
        out["drop_docs"] = batch.count()
        out["drop_band_keys"] = len(vals)
        spark.conf.set(conf_key, str(I.PROBE_PRUNE_KEYS + 1))

        # AQE off inside the probe legs: the executed plan must expose its
        # FileSourceScanExec leaves for the metric walk (the join strategy
        # is unaffected — the checkpointed drop side broadcasts either way)
        spark.conf.set("spark.sql.adaptive.enabled", "false")

        def probe(idx) -> tuple[float, int, int, tuple[int, int]]:
            t0 = time.time()
            out_df = (
                bands_b.alias("b")
                .join(
                    idx.alias("c"),
                    (F.col("b.j") == F.col("c.j"))
                    & (F.col("b.band") == F.col("c.band")),
                )
                .groupBy(F.col("b.doc_id").alias("doc_id"))
                .agg(F.min(F.col("c.doc_id")).alias("dup_of"))
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("dup_of").cast("long")).alias("chk"),
                )
            )
            r = out_df.collect()[0]
            wall = time.time() - t0
            rows = _index_scan_rows(out_df._jdf.queryExecution().executedPlan())
            return wall, rows, (int(r["n"]), int(r["chk"] or 0))

        for nb in bucket_counts:
            I.INDEX_BUCKETS = nb
            # the build takes max(requested floor, capacity-derived); at a
            # corpus where the rule exceeds the requested count the row
            # would otherwise be mislabeled (review r14) — record the
            # EFFECTIVE count and flag the divergence
            effective = I._index_buckets_for(sf_dir)
            t0 = time.time()
            idx = I._standing_capped_index(spark, sf_dir)
            build_sec = round(time.time() - t0, 1)
            files = idx.inputFiles()
            index_bytes = sum(
                os.path.getsize(f.removeprefix("file:")) for f in files
            )
            row = {
                "index_buckets": effective,
                "index_build_sec": build_sec,
                "index_bytes": index_bytes,
                "index_files": len(files),
            }
            if effective != nb:
                row["requested_buckets_overridden"] = nb
            row["index_rows"] = idx.count()
            res = {}
            for leg, pruned in (("pruned", True), ("unpruned", False)):
                lidx = idx.filter(F.col("band").isin(vals)) if pruned else idx
                walls, reads = [], []
                for _ in range(2):  # rep 1 warms code paths; rows stable
                    w, rws, chk = probe(lidx)
                    walls.append(w)
                    reads.append(rws)
                    res[leg] = chk
                row[f"{leg}_wall_sec"] = round(min(walls), 2)
                row[f"{leg}_scan_rows"] = min(reads)
            row["outputs_equal"] = res["pruned"] == res["unpruned"]
            row["pruned_scan_frac_of_index"] = round(
                row["pruned_scan_rows"] / max(row["index_rows"], 1), 4
            )
            out["rows"].append(row)
    finally:
        D.INCR_BATCH_MOD, D.INCR_BATCH_REM = prev_mod
        I.INDEX_BUCKETS = prev_buckets
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        if prev_thresh is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev_thresh)
        import shutil

        if os.path.isdir(stage_root):
            for d in set(os.listdir(stage_root)) - pre_stages:
                shutil.rmtree(os.path.join(stage_root, d), ignore_errors=True)
    return out


def _derived_above_floor_probe(spark, sf_dir: str) -> dict:
    """VERDICT r14 #4: drive the bucketed standing-index build through the
    capacity DERIVATION path with derived > floor — a regime no artifact
    had exercised (every local corpus floors to the registered 32).

    The byte rule only clears the floor past ~134M docs — unbuildable
    locally — so the probe overrides the FOOTER ROWCOUNT (the exact input
    the wired-in rule reads: ``incremental._table_rows``) and leaves
    everything else real. Evidence recorded: the derivation produced the
    count (INDEX_BUCKETS untouched), the build ran end-to-end at that
    count, the published content is BIT-IDENTICAL to the floor build
    (count + order-invariant xxhash64 row digest — bucket count is
    layout, never semantics), the stage fingerprint rotated (disjoint
    files, derived count in the path), and the gate's pruned/unpruned
    probe legs ran against the derived-bucket table.
    """
    from pyspark.sql import functions as F

    import ting_data_etl_spark.capacity as C
    import ting_data_etl_spark.operators.dedup as D
    import ting_data_etl_spark.operators.incremental as I

    # 2^29 pretend docs × 8 bands × 16 B / 512 MB target = 128 buckets
    FAKE_ROWS = 1 << 29

    def digest(idx) -> list:
        # decimal accumulator: ANSI mode overflows a long sum of xxhash64
        r = idx.agg(
            F.count("*").alias("n"),
            F.sum(
                F.xxhash64("doc_id", "j", "band").cast("decimal(38,0)")
            ).alias("h"),
        ).collect()[0]
        return [int(r["n"]), str(r["h"])]

    out: dict = {"floor_buckets": I.INDEX_BUCKETS, "fake_footer_rows": FAKE_ROWS}
    stage_root = os.path.dirname(D._stage_dir(sf_dir, ["x"]))
    pre_stages = (
        set(os.listdir(stage_root)) if os.path.isdir(stage_root) else set()
    )
    real_table_rows = I._table_rows
    try:
        t0 = time.time()
        idx_floor = I._standing_capped_index(spark, sf_dir)
        out["floor_build_sec"] = round(time.time() - t0, 1)
        out["floor_digest"] = digest(idx_floor)
        floor_files = set(idx_floor.inputFiles())
        out["floor_files"] = len(floor_files)

        def fake_rows(sf, table):
            if table == "documents":
                return FAKE_ROWS
            return real_table_rows(sf, table)

        I._table_rows = fake_rows
        derived = I._index_buckets_for(sf_dir)
        out["derived_buckets"] = derived
        out["capacity_rule_direct"] = C.index_buckets(
            FAKE_ROWS, bands_per_doc=D.MINHASH_BANDS
        )
        assert derived > I.INDEX_BUCKETS, "override failed to clear the floor"
        t0 = time.time()
        idx_d = I._standing_capped_index(spark, sf_dir)
        out["derived_build_sec"] = round(time.time() - t0, 1)
        out["derived_digest"] = digest(idx_d)
        out["content_bit_identical"] = (
            out["derived_digest"] == out["floor_digest"]
        )
        d_files = set(idx_d.inputFiles())
        out["derived_files"] = len(d_files)
        out["fingerprint_rotated"] = d_files.isdisjoint(floor_files) and all(
            f"_{derived}_" in f for f in d_files
        )
        # gate legs against the DERIVED table: the nested probe re-resolves
        # _index_buckets_for (still faked) — its effective count is the
        # derived one, and it sweeps only its own retuned stages
        gate = _incrgate_buckets_probe(
            spark, sf_dir, bucket_counts=(I.INDEX_BUCKETS,)
        )
        gate.pop("capacity_rule_at_10B_docs", None)
        out["gate_at_derived"] = gate
    finally:
        I._table_rows = real_table_rows
        import shutil

        if os.path.isdir(stage_root):
            for d in set(os.listdir(stage_root)) - pre_stages:
                shutil.rmtree(
                    os.path.join(stage_root, d), ignore_errors=True
                )
    return out


def _incrgate_small_probe(spark, sf_dir: str) -> dict:
    """The land-and-gate-immediately case: a TINY drop (the r12 key-pruned
    probe path) against the full standing index, pruning ON vs OFF.

    Retunes the batch split so the whole 'day' is ~500 docs (4 micro-batch
    files of ~125 → ≤ PROBE_PRUNE_KEYS band rows per trigger), runs the
    registered gate twice — once as shipped (In-set pushed into the
    bucketed scan, 4 MB row groups skippable), once with PROBE_PRUNE_KEYS
    forced to 0 (scan reads the whole index per trigger) — and reports
    both walls. Outputs must be identical.
    """
    import ting_data_etl_spark.operators.dedup as D
    import ting_data_etl_spark.operators.incremental as I
    from ting_data_etl_spark.operators.incremental import (
        streaming_incremental_arrival_gate,
    )

    out: dict = {}
    prev = (D.INCR_BATCH_MOD, D.INCR_BATCH_REM)
    D.INCR_BATCH_MOD, D.INCR_BATCH_REM = 10000, 1
    try:
        # one-time standing-state build outside the timed legs
        t0 = time.time()
        I._standing_capped_index(spark, sf_dir).count()
        out["index_build_sec"] = round(time.time() - t0, 1)

        t0 = time.time()
        res = streaming_incremental_arrival_gate(spark, sf_dir)
        rows = res.count()
        dups = res.filter(res.is_dup).count()
        out["pruned_wall_sec"] = round(time.time() - t0, 1)
        out["gate_rows"], out["gate_dups"] = rows, dups

        prev_keys = I.PROBE_PRUNE_KEYS
        I.PROBE_PRUNE_KEYS = 0
        try:
            t0 = time.time()
            res2 = streaming_incremental_arrival_gate(spark, sf_dir)
            rows2 = res2.count()
            dups2 = res2.filter(res2.is_dup).count()
            out["unpruned_wall_sec"] = round(time.time() - t0, 1)
        finally:
            I.PROBE_PRUNE_KEYS = prev_keys
        out["outputs_equal"] = bool(rows == rows2 and dups == dups2)
    finally:
        D.INCR_BATCH_MOD, D.INCR_BATCH_REM = prev
    return out


def _incrgate_probe(spark, sf_dir: str) -> dict:
    """Streaming arrival gate at scale: wall + volume for the foreachBatch
    replay (4 micro-batches) over the staged standing band index, next to
    the one-shot batch composition it must equal (equality is pinned at
    the sf fixtures; here the question is whether the per-trigger overhead
    and the once-materialized standing index hold up at volume)."""
    from pyspark.sql import functions as F

    from ting_data_etl_spark.operators.curation import gopher_metrics_df
    from ting_data_etl_spark.operators.dedup import (
        band_frequency_cap,
        lsh_bands,
        minhash_signatures_df,
    )
    from ting_data_etl_spark.operators.incremental import (
        _batch_pred,
        _standing_bands,
        streaming_incremental_arrival_gate,
    )

    out: dict = {}
    t0 = time.time()
    _standing_bands(spark, sf_dir).count()
    out["index_build_sec"] = round(time.time() - t0, 1)
    t0 = time.time()
    res = streaming_incremental_arrival_gate(spark, sf_dir)
    out["gate_rows"] = res.count()
    out["gate_dups"] = res.filter(F.col("is_dup")).count()
    out["stream_wall_sec"] = round(time.time() - t0, 1)

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    batch = docs.filter(_batch_pred())
    t0 = time.time()
    g = gopher_metrics_df(batch).select("doc_id", "passes_gopher")
    bands_b = minhash_signatures_df(batch).select(
        "doc_id", F.posexplode(lsh_bands(F.col("sig"))).alias("j", "band")
    )
    corpus = band_frequency_cap(_standing_bands(spark, sf_dir))
    hits = (
        bands_b.alias("b")
        .join(
            corpus.alias("c"),
            (F.col("b.j") == F.col("c.j"))
            & (F.col("b.band") == F.col("c.band")),
        )
        .groupBy(F.col("b.doc_id").alias("doc_id"))
        .agg(F.min(F.col("c.doc_id")).alias("dup_of"))
    )
    # aggregate BOTH legs' columns: a bare count() lets Catalyst eliminate
    # the unique-key left join and skip the signature pass entirely (the
    # first run of this probe reported a bogus 1.6 s one-shot at x1000)
    r = (
        batch.select("doc_id")
        .join(g, "doc_id")
        .join(hits, "doc_id", "left")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("dup_of").isNotNull().cast("int")).alias("dups"),
            F.sum("passes_gopher").alias("gop"),
        )
        .collect()[0]
    )
    out["oneshot_wall_sec"] = round(time.time() - t0, 1)
    out["oneshot_rows"] = int(r["n"])
    out["oneshot_dups"] = int(r["dups"])
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="10,100")
    ap.add_argument("--gen", action="store_true")
    ap.add_argument(
        "--ops",
        default="semdedup,dsir,epoch,budget",
        help="comma subset of probes (x1000 runs only the linear verbs)",
    )
    ap.add_argument(
        "--out",
        default="SELECTION_SCALE_r09.json",
        help="output artifact name (merged over prior scales)",
    )
    args = ap.parse_args()
    ops = set(args.ops.split(","))

    from pyspark.sql import functions as F

    from ting_data_etl_spark.session import get_spark

    spark = get_spark(app_name="selection-scale")
    spark.sparkContext.setLogLevel("ERROR")

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_json = os.path.join(here, args.out)
    report: dict = {"scales": {}}
    if os.path.exists(out_json):
        with open(out_json) as f:
            report["scales"].update(json.load(f).get("scales", {}))

    for s in args.scales.split(","):
        sf_dir = os.path.join(CORPUS_ROOT, f"x{s}")
        if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
            if args.gen:
                from tools import scale_corpus

                print(f"generating x{s} corpus ...", flush=True)
                scale_corpus.generate(spark, sf_dir, float(s))
            else:
                print(f"skip x{s}: corpus missing (use --gen)")
                continue
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        vecs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        row: dict = {"n_docs": docs.count(), "n_vecs": vecs.count()}

        # --- semdedup: frozen-k (wrong way) vs contract-k (k ∝ N) ----------
        if "semdedup" in ops:
            import ting_data_etl_spark.operators.similarity as S

            base_k = S.KMEANS_LISTS
            row["semdedup_frozen_k"] = _semdedup_probe(spark, sf_dir, base_k)
            contract_k = max(base_k, int(base_k * float(s)))
            row["semdedup_contract_k"] = _semdedup_probe(
                spark, sf_dir, contract_k
            )

        # --- dsir: bucket table must stay <= B --------------------------------
        from ting_data_etl_spark.functions.text import portable_hash31, tokens
        from ting_data_etl_spark.operators.sampling import (
            DSIR_BUCKETS,
            corpus_budget_head,
            corpus_epoch_order,
            sample_dsir_importance,
        )

        if "dsir" in ops:
            tf = (
                docs.select(
                    "doc_id", F.explode(tokens(F.col("text"))).alias("t")
                )
                .select(
                    "doc_id",
                    (portable_hash31(F.col("t")) % DSIR_BUCKETS).alias("b"),
                )
                .groupBy("doc_id", "b")
                .count()
            )
            row["dsir_tf_rows"] = tf.count()
            row["dsir_bucket_rows"] = tf.select("b").distinct().count()
            t0 = time.time()
            out = sample_dsir_importance(spark, sf_dir)
            row["dsir_accepted"] = out.filter(F.col("accepted")).count()
            row["dsir_doc_rows"] = out.count()
            row["dsir_wall_sec"] = round(time.time() - t0, 1)

        # --- epoch order -----------------------------------------------------
        if "epoch" in ops:
            t0 = time.time()
            eo = corpus_epoch_order(spark, sf_dir)
            per_shard = (
                eo.groupBy("shard")
                .agg(F.count("*").alias("n"), F.max("pos").alias("mx"))
                .collect()
            )
            row["epoch_rows"] = int(sum(r["n"] for r in per_shard))
            row["epoch_shards"] = len(per_shard)
            row["epoch_contiguous"] = all(
                r["n"] == r["mx"] for r in per_shard
            )
            row["epoch_wall_sec"] = round(time.time() - t0, 1)

        # --- budget head -------------------------------------------------------
        from ting_data_etl_spark.functions.text import token_count
        from ting_data_etl_spark.operators.sampling import BUDGET_PCT

        if "phash" in ops:
            from ting_data_etl_spark.operators.multimodal import (
                multimodal_phash_dedup,
                multimodal_phash_near_dup,
                phash_relation,
            )

            t0 = time.time()
            row["phash_hashes"] = phash_relation(spark, sf_dir).count()
            row["phash_hash_wall_sec"] = round(time.time() - t0, 1)
            t0 = time.time()
            row["phash_exact_dups"] = multimodal_phash_dedup(
                spark, sf_dir
            ).count()
            row["phash_exact_wall_sec"] = round(time.time() - t0, 1)
            t0 = time.time()
            row["phash_near_pairs"] = multimodal_phash_near_dup(
                spark, sf_dir
            ).count()
            row["phash_near_wall_sec"] = round(time.time() - t0, 1)

        if "incrsel" in ops:
            row["incrsel"] = _incrsel_probe(spark, sf_dir, float(s))

        if "incrdel" in ops:
            row["incrdel"] = _incrdel_probe(spark, sf_dir)

        if "incrgate" in ops:
            row["incrgate"] = _incrgate_probe(spark, sf_dir)

        if "incrgate_small" in ops:
            row["incrgate_small"] = _incrgate_small_probe(spark, sf_dir)

        if "incrgate_buckets" in ops:
            row["incrgate_buckets"] = _incrgate_buckets_probe(spark, sf_dir)

        if "derived_above_floor" in ops:
            row["derived_above_floor"] = _derived_above_floor_probe(
                spark, sf_dir
            )

        if "incrgate_derived" in ops:
            # VERDICT r13 #3 evidence: one probe row at the count the
            # wired-in capacity rule DERIVES for this corpus (the byte
            # rule floors to the registered 32 below ~400M docs; the r13
            # curve's latency lever remains the documented override)
            import ting_data_etl_spark.operators.incremental as I

            derived = I._index_buckets_for(sf_dir)
            r = _incrgate_buckets_probe(
                spark, sf_dir, bucket_counts=(derived,)
            )
            r["derived_buckets"] = derived
            row["incrgate_derived"] = r

        if "reindex" in ops:
            row["reindex"] = _reindex_probe(spark, sf_dir, float(s))

        if "manifest_sink" in ops:
            row["manifest_sink"] = _manifest_sink_probe(
                spark, sf_dir, float(s)
            )

        if "incrman" in ops:
            row["incrman"] = _incrman_probe(spark, sf_dir, float(s))

        if "cowsink" in ops:
            row["cowsink"] = _cowsink_probe(spark, sf_dir, float(s))

        if "budget" in ops:
            t0 = time.time()
            bh = corpus_budget_head(spark, sf_dir)
            sel = bh.agg(
                F.count("*").alias("n"), F.sum("n_toks").alias("kept")
            ).collect()[0]
            total = docs.agg(
                F.sum(token_count(F.col("text"))).alias("t")
            ).collect()[0]["t"]
            row["budget_selected"] = int(sel["n"])
            row["budget_kept_frac"] = round(float(sel["kept"]) / total, 4)
            row["budget_target_frac"] = BUDGET_PCT / 100
            row["budget_wall_sec"] = round(time.time() - t0, 1)

        prior = report["scales"].get(f"x{s}", {})
        prior.update(row)
        report["scales"][f"x{s}"] = prior
        print(f"x{s}:", json.dumps(row), flush=True)

    with open(out_json, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
