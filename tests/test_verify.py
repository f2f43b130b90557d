"""Sink → verify end-to-end, including defect *detection* on a corrupted tree.

A verifier that only ever sees clean data proves nothing — the corrupted-tree
test damages a written fan-out tree (misrouted rows, a foreign file, a
deleted store) and asserts the report itself counts each defect class,
mirroring the reference's own failure modes (``verify_fanout.py``: wrong key
in a store dir, extra/missing files).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from ting_data_etl_spark.operators.verify import (
    check_fanout_tree,
    fanout_source,
    fanout_verification_report,
    invariant_violations,
    read_fanout_back,
    sample_violations,
)

_SCHEMA = "row_id long, store_id string, store_key_copy string, src string"


def _tmpdir(name: str) -> str:
    d = os.path.join(tempfile.gettempdir(), "ting_verify_tests", name)
    shutil.rmtree(d, ignore_errors=True)
    return d


def _counts(report) -> dict[str, int]:
    return {r.check_name: r.n for r in report.collect()}


class TestCleanTree:
    def test_report_is_all_green(self, spark, sf_dir):
        src = fanout_source(spark, sf_dir)
        counts = _counts(fanout_verification_report(spark, src, _tmpdir("clean")))
        assert counts == {
            "missing_store_files": 0,
            "extra_store_files": 0,
            "key_value_violations": 0,
            "sampled_violations": 0,
            "rows_checked": src.count(),
            "stores_checked": 25,  # TPC-H nations
        }

    def test_numeric_store_keys_stay_strings(self, spark):
        """Keys that look like numbers must keep the spelling of their
        directories. Typed as numbers, ``007`` reads back as 7 and is a
        missing file, an extra file and a key violation at once (the
        parent's cast back to string gave "7"), or it merges with the
        store ``7``."""
        rows = [
            (1, "007", "007", "a.csv"),
            (2, "007", "007", "b.csv"),
            (3, "7", "7", "a.csv"),
            (4, "12", "12", "a.csv"),
        ]
        src = spark.createDataFrame(rows, _SCHEMA)
        out = _tmpdir("numeric")
        counts = _counts(fanout_verification_report(spark, src, out))
        assert counts == {
            "missing_store_files": 0,
            "extra_store_files": 0,
            "key_value_violations": 0,
            "sampled_violations": 0,
            "rows_checked": 4,
            "stores_checked": 3,
        }
        back = read_fanout_back(spark, out)
        assert {r.store_id for r in back.collect()} == {"007", "7", "12"}

    def test_report_starts_few_jobs(self, spark, sf_dir, count_jobs):
        """Write, read-back and report: one write, one report plan."""
        src = fanout_source(spark, sf_dir)
        out = _tmpdir("jobs")
        n = count_jobs(lambda: fanout_verification_report(spark, src, out).collect())
        assert n <= 8, n


class TestCorruptedTree:
    def test_checks_detect_injected_defects(self, spark, sf_dir):
        src = fanout_source(spark, sf_dir)
        out = _tmpdir("corrupt")
        fanout_verification_report(spark, src, out).collect()
        stores = sorted(d for d in os.listdir(out) if d.startswith("store_id="))

        # defect 1 (V2): rows whose embedded key contradicts their directory
        # (the first populated (store, src) dir — tiny sf dirs are sparse)
        src_dir = sorted(os.listdir(os.path.join(out, stores[0])))[0]
        victim_dir = os.path.join(out, stores[0], src_dir)
        part = [f for f in os.listdir(victim_dir) if f.endswith(".csv")][0]
        with open(os.path.join(victim_dir, part), "a") as f:
            for i in range(7):
                f.write(f"{999990 + i},17171717\n")
        # drop Hadoop's local-FS checksum sidecar, which (correctly) flags
        # the hand-edited file before our own checks get a chance to
        crc = os.path.join(victim_dir, f".{part}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        with open(os.path.join(victim_dir, part)) as f:
            victim_rows = sum(1 for _ in f) - 1  # minus the header

        # defect 2 (V1 extra): a foreign (store, src) pair on disk; every
        # row in it contradicts the foreign directory's key
        foreign = os.path.join(out, "store_id=99", "src=rogue.csv")
        os.makedirs(foreign)
        shutil.copy(os.path.join(victim_dir, part), os.path.join(foreign, part))

        # defect 3 (V1 missing): a whole store's files are gone
        gone = stores[-1].split("=", 1)[1]
        shutil.rmtree(os.path.join(out, stores[-1]))
        gone_rows = src.filter(F.col("store_id") == gone)

        counts = _counts(check_fanout_tree(spark, src, out))
        back = read_fanout_back(spark, out)
        assert counts == {
            "missing_store_files": gone_rows.select("src").distinct().count(),
            "extra_store_files": 1,
            "key_value_violations": 7 + victim_rows,
            "sampled_violations": sample_violations(
                invariant_violations(back)
            ).count(),
            "rows_checked": src.count() - gone_rows.count() + 7 + victim_rows,
            "stores_checked": 25,  # one deleted, one foreign
        }
        assert counts["sampled_violations"] == 5 + 5

    def test_violation_sampling_is_capped(self, spark):
        rows = [(i, "7", "8", "s.csv") for i in range(20)]
        bad = spark.createDataFrame(rows, _SCHEMA)
        assert sample_violations(bad, k=5).count() == 5
