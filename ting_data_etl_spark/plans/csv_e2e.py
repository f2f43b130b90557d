"""End-to-end CSV pipeline: S3 read → clean → aggregate, oracle-checked.

Every other green query reads parquet; this one exercises the reference's
actual I/O surface (``README.md:31-39``): a BI-style messy CSV — meta rows
before the header, human-formatted numbers, null sentinels, padded keys —
flows through the header-scanning reader (S3), the blank-key guard (P7), the
cleaning expressions (F1-F7) and a grouped fixed-point aggregation (A2),
with the DuckDB oracle reading the SAME file via ``read_csv(skip=…,
all_varchar=true)`` — so the whole CSV path, not just the relational tail,
is hash-compared.

The fixtures are seeded and deterministic, staged LAZILY — inside the query
functions on the Spark side and inside the callable oracles at
``oracle_sql()`` resolution time — so importing the registry never touches
the filesystem, while the oracle can still run in any order relative to the
Spark side (idempotent bytes at a fixed path).
"""

from __future__ import annotations

import csv
import os
import random
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ting_data_etl_spark.functions.cleaning import parse_month, sum_exact, to_number
from ting_data_etl_spark.operators.relational import local_frame
from ting_data_etl_spark.plans.oracles import (
    sql_parse_month,
    sql_sum_exact,
    sql_to_number,
)
from ting_data_etl_spark.registry import register
from ting_data_etl_spark.sources.csv import filter_valid_keys, read_messy_csv

FIXTURE_PATH = os.path.join(tempfile.gettempdir(), "ting_e2e_csv", "sales.csv")
N_META_ROWS = 2  # must match the oracle's read_csv(skip=...)
_SEED = 20260813
_N_ROWS = 400


def write_fixture(path: str = FIXTURE_PATH) -> str:
    """Deterministic messy sales CSV: meta prefix + dirty typed columns."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rng = random.Random(_SEED)
    stores = [f"store_{i:03d}" for i in range(1, 9)]
    # atomic publish (tmp + replace): a concurrent reader must never see a
    # truncated half-written fixture (same pattern as the IVF artifact)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(["Report generated", "2025-07-01"])  # meta row 1
        w.writerow(["Source", "BI-Export"])  # meta row 2
        w.writerow(["store_id", "month", "amount", "status"])
        for _ in range(_N_ROWS):
            r = rng.random()
            if r < 0.05:
                store = ""  # blank key -> dropped by the P7 guard
            elif r < 0.15:
                store = f"  {rng.choice(stores)} "  # padded key -> trimmed
            else:
                store = rng.choice(stores)
            m = rng.randint(1, 12)
            month = rng.choice(
                [f"{m}", f"{m:02d}", f"2025{m:02d}", f"2025-{m:02d}", f"2025/{m:02d}"]
            )
            amt = rng.choice(
                [
                    f"{rng.randint(1, 99)},{rng.randint(100, 999)}.{rng.randint(10, 99)}",
                    f"{rng.uniform(0, 100):.2f}%",
                    f"{rng.uniform(-500, 500):.2f}",
                    rng.choice(["", "nan", "NULL", "None"]),
                ]
            )
            w.writerow([store, month, amt, rng.choice(["ok", "void"])])
    os.replace(tmp, path)
    return path


_SQL_E2E = f"""
WITH raw AS (
  SELECT * FROM read_csv('{FIXTURE_PATH}', header = true,
                         skip = {N_META_ROWS}, all_varchar = true)
),
clean AS (
  SELECT trim(store_id) AS store_id,
         {sql_parse_month("month")} AS month,
         {sql_to_number("amount")} AS amount
  FROM raw
  WHERE store_id IS NOT NULL AND length(trim(store_id)) > 0
)
SELECT store_id, month,
       {sql_sum_exact("amount")} AS total_amount,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM clean
GROUP BY store_id, month
"""


def _oracle_e2e() -> str:
    """Stage the fixture, then hand the static SQL to DuckDB.

    Callable-oracle form: staging happens at ``oracle_sql()`` resolution
    time (and inside the query function for the Spark side), never at
    module import — importing the registry must not write to /tmp.
    """
    write_fixture()
    return _SQL_E2E


@register("e2e_csv_pipeline", oracle=_oracle_e2e)
def e2e_csv_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 → P7 → F1/F5/F6 (to_number) / F3/F4/F7 (parse_month) → A2.

    ``sf_dir`` is unused — the input is the fixture CSV itself (the point is
    the CSV path). The distributed plan is: text scan → prefix drop →
    ``from_csv`` → trim/coerce expressions → one hash aggregation; at scale
    this is one shuffle on (store, month) with everything else codegen.
    """
    write_fixture()
    res = read_messy_csv(spark, FIXTURE_PATH, key_col="store_id")
    df = filter_valid_keys(res.df, "store_id")
    clean = df.select(
        F.trim(F.col("store_id")).alias("store_id"),
        parse_month("month").alias("month"),
        to_number("amount").alias("amount"),
    )
    return clean.groupBy("store_id", "month").agg(
        sum_exact("amount").alias("total_amount"),
        F.count("*").alias("n_rows"),
    )


# --- S1: directory scan over a heterogeneous messy corpus ------------------
SCAN_DIR = os.path.join(tempfile.gettempdir(), "ting_s1_scan_corpus")
_SCAN_SEED = 424242
_KEY_COL = "store_id"


def _stage_scan_corpus() -> list[tuple[str, int]]:
    """Publish the seeded corpus ONCE (atomic, versioned) and locate headers.

    Returns [(path, n_prefix_lines)] for the files that HAVE the key column
    — keyless files are the reader-contract skips. The prefix count is
    discovered the same way the reader does (first row whose cells contain
    the key column name), so the oracle's ``skip=`` matches the reader's
    drop exactly.

    Atomic publish (r14 sweep flake): the old form regenerated the shared
    /tmp dir unconditionally and non-atomically on EVERY call, so two
    concurrent driver processes (parallel correctness sweeps) could tear
    each other's files mid-read — observed once as spark=6 vs oracle=5.
    Now the corpus is generated into a pid-suffixed tmp dir, stamped with
    a version token (files + seed: a retune rotates it), and renamed into
    place exactly once; steady-state calls only check the stamp. Stray
    CSVs from older revisions cannot exist inside a published dir, so the
    hermetic-sweep loop is gone with the rewrite path.
    """
    import csv as _csv
    import shutil

    from ting_data_etl_spark.sources.csv_gen import generate_messy_csvs

    token = f"v1_n8_seed{_SCAN_SEED}"
    marker = os.path.join(SCAN_DIR, "_READY")

    def _published() -> bool:
        try:
            with open(marker, encoding="utf-8") as f:
                return f.read() == token
        except OSError:
            return False

    if not _published():
        tmp = f"{SCAN_DIR}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate_messy_csvs(tmp, n_files=8, seed=_SCAN_SEED)
        with open(os.path.join(tmp, "_READY"), "w", encoding="utf-8") as f:
            f.write(token)
        old = f"{SCAN_DIR}.old.{os.getpid()}"
        shutil.rmtree(old, ignore_errors=True)
        try:
            # Re-check IMMEDIATELY before the swap (ADVICE r14): a racing
            # process may have published while we generated. Content is
            # deterministic (same generator, same seed), so a matching
            # token means the winner's dir IS ours — swapping it for our
            # copy would only open a brief absent-dir window for a third
            # process that already saw _READY. Only a MISMATCHED token
            # (stale revision) is moved aside.
            if _published():
                shutil.rmtree(tmp, ignore_errors=True)
                tmp = None
            else:
                if os.path.exists(SCAN_DIR):
                    os.rename(SCAN_DIR, old)  # stale revision: move aside
                os.rename(tmp, SCAN_DIR)
        except OSError:
            # lost the publish race — the winner's dir is deterministic,
            # use it
            shutil.rmtree(tmp, ignore_errors=True)
            if not _published():
                raise
        finally:
            shutil.rmtree(old, ignore_errors=True)
    import glob as _glob

    kept: list[tuple[str, int]] = []
    for p in sorted(_glob.glob(os.path.join(SCAN_DIR, "*.csv"))):
        with open(p, newline="", encoding="utf-8") as f:
            for i, row in enumerate(_csv.reader(f)):
                if _KEY_COL in [c.strip() for c in row]:
                    kept.append((p, i))
                    break
    return kept


def _oracle_scan() -> str:
    """Stage the scan corpus and build the per-file union SQL from it.

    Callable-oracle form: the SQL embeds the discovered (path, skip) pairs,
    so it can only be built after staging — which therefore happens at
    resolution time, not import time.
    """
    scan_files = _stage_scan_corpus()
    return "\nUNION ALL\n".join(
        f"""
SELECT '{os.path.basename(p)}' AS file_name,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN {_KEY_COL} IS NOT NULL AND trim({_KEY_COL}) <> ''
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_valid_keys
FROM read_csv('{p}', skip={skip}, header=true, all_varchar=true,
              null_padding=true)
"""
        for p, skip in scan_files
    )


@register("csv_dir_scan_profile", oracle=_oracle_scan)
def csv_dir_scan_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 directory scan: every readable CSV profiled, keyless files skipped.

    The reference's ingest loop (``fan_out_by_storeid.py:7-10`` + ``28-30``)
    as a registered query: enumerate ``*.csv``, header-scan each (S3), skip
    files without the key column (with a warning), and report per-file row
    and valid-key counts. Per-file schemas differ (3-8 random columns), so
    the union happens on the PROFILE, not the data — the schema-group
    pattern for heterogeneous corpora. Both profile counts come from ONE
    aggregation per file (count + conditional sum), so a 10k-file corpus
    costs 10k Spark jobs, not 20k. Oracle: per-file ``read_csv`` with the
    identical skip counts, union-alled.
    """
    from ting_data_etl_spark.sources.csv import (
        read_messy_csv,
        scan_csv_dir,
        valid_key_condition,
    )

    _stage_scan_corpus()  # idempotent regeneration for cold processes
    profiles = []
    for path in scan_csv_dir(SCAN_DIR):
        res = read_messy_csv(spark, path, _KEY_COL)
        if res.skipped:
            continue  # keyless file: the reader contract says skip + warn
        row = res.df.agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(valid_key_condition(_KEY_COL), 1).otherwise(0)
            ).alias("valid"),
        ).first()
        profiles.append((os.path.basename(path), row.n, row.valid or 0))
    return local_frame(
        spark, profiles, "file_name string, n_rows long, n_valid_keys long"
    )
