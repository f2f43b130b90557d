"""Smoke tests for the scale-stress harness (tools/scale_corpus, SCALE_r06).

The stress corpus generator and recall probes are evidence-producing code;
these tests keep them from bit-rotting between scale runs. Everything runs
at a tiny 0.2x scale (1,000 docs / 400 vectors) so the smoke stays cheap.
"""

from __future__ import annotations

from pyspark.sql import functions as F

TEST_DIR = "/tmp/scale_corpus_pytest/x0p2"
SCALE = 0.2


def _corpus(spark):
    from tools import scale_corpus as SC

    meta = SC.generate(spark, TEST_DIR, SCALE)
    return SC, meta


class TestScaleCorpusGenerator:
    def test_planted_document_structure(self, spark):
        SC, meta = _corpus(spark)
        docs = spark.read.parquet(f"{TEST_DIR}/documents.parquet")
        assert docs.count() == meta["n_docs"] == 1000
        # exact-dup clusters exist: distinct texts < total
        n_distinct = docs.select("text").distinct().count()
        assert n_distinct < meta["n_docs"]
        # near-dup cluster members share their source (the blocked-join
        # recall path) and differ only slightly
        r = docs.filter(F.col("doc_id") < 2).orderBy("doc_id").collect()
        a, b = r[0], r[1]
        assert a.source == b.source
        ta, tb = a.text.split(), b.text.split()
        assert len(ta) == len(tb)
        diff = sum(1 for x, y in zip(ta, tb) if x != y)
        assert diff <= len(ta) // 4  # ~5% mutation rate, same template

    def test_planted_vector_copies(self, spark):
        SC, meta = _corpus(spark)
        e = spark.read.parquet(f"{TEST_DIR}/embeddings.parquet")
        assert e.count() == meta["n_vecs"] == 400
        rows = {r.vec_id: r.embedding for r in e.filter(F.col("vec_id") < 2).collect()}
        import math

        dot = sum(x * y for x, y in zip(rows[0], rows[1]))
        na = math.sqrt(sum(x * x for x in rows[0]))
        nb = math.sqrt(sum(x * x for x in rows[1]))
        assert dot / (na * nb) > 0.999  # vec 1 copies vec 0 with tiny jitter

    def test_minhash_recall_on_planted_clusters(self, spark):
        """The harness's recall probe finds the planted near-dup pairs."""
        from tools import scale_stress as SS

        import ting_data_etl_spark.operators.dedup as dd

        SC, meta = _corpus(spark)
        found = {"dedup_minhash_lsh_pairs": dd.dedup_minhash_pairs(spark, TEST_DIR)}
        recall = SS.planted_recall(spark, TEST_DIR, meta, found)
        assert recall["minhash_planted"]["planted"] == 300  # 50 clusters x C(4,2)
        assert recall["minhash_planted"]["recall"] >= 0.85

    def test_capacity_config_at_tiny_scale_is_registered_default(self, spark):
        from tools.scale_stress import capacity_config

        cfg = capacity_config(1000, 400, SCALE)
        assert cfg["srp_bits"] == 6
        assert cfg["simhash_bits"] == 32
        assert cfg["kmeans_lists"] == 8


class TestFanoutStressHarness:
    """Smoke for tools/fanout_stress.py (FANOUT_STRESS_r07 evidence)."""

    def test_gen_rows_key_cardinality_and_schema(self, spark):
        from tools.fanout_stress import gen_rows

        df = gen_rows(spark, 5_000, 200)
        assert df.columns == ["store_id", "row_id", "amt"]
        n_keys = df.select("store_id").distinct().count()
        # xxhash64-derived keys: expect essentially all 200 buckets hit
        assert 190 <= n_keys <= 200
        assert df.count() == 5_000

    def test_fd_poller_observes_open_handles(self):
        import tempfile

        from tools.fanout_stress import FdPoller

        import time as _t

        with FdPoller() as p:
            fs = [tempfile.TemporaryFile() for _ in range(32)]
            _t.sleep(0.4)
            for f in fs:
                f.close()
        # the poller watches the whole process tree; our own 32 temp files
        # must show up in both the tree total and this process's count
        assert p.peak_total >= p.baseline_total + 30
        assert p.peak_max_proc >= 30
