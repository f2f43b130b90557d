"""Fan-out output verification (SURVEY §2.10 V1-V4, O4).

The reference's entire correctness strategy is a standalone checker over the
fan-out tree (``verify_fanout.py``): per-store file-set completeness
(``:32-48``), the partition-value invariant — every data row's key cell must
equal its directory name (``:87-97``) — with ≤5 sampled violations per file
(``:96-97``, O4) and a nonzero exit code on any defect (``:187-188``, V3).

Spark-first re-expression: the fan-out sink writes a Hive-partitioned tree,
reading it back (with an explicit all-string key schema) re-derives the
partition key from directory names, and the checks become ONE lazy report
plan that runs when the report is collected:

* **V1 completeness** — per key, the set of src values the SOURCE data
  expects against the set found on disk, from one aggregation over the
  union of both: a pair with no rows on disk is missing, a pair the source
  lacks is extra;
* **V2 invariant** — the key value carried INSIDE the row must equal the
  partition value derived from the row's directory;
* **O4 sampling** — at most k sampled violations per key; the report counts
  them as ``Σ_store least(bad, k)``, which is what ``row_number() <= k``
  keeps (:func:`sample_violations` is that row-level form);
* **V3 contract** — the report's violation counts must all be zero, asserted
  by the oracle comparison (zeros are literals in the oracle SQL) and by
  ``tests/test_verify.py`` (which also corrupts a tree and proves the report
  catches it).

At 100 TB the read-back scan is pure metadata + a read of two thin
columns, and every check after it is an aggregate keyed on the store — the
natural shuffle key of the tree being checked — over #stores rows, not data
rows.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ting_data_etl_spark.registry import register
from ting_data_etl_spark.sinks.fanout import write_fanout
from ting_data_etl_spark.sources.tables import load_table

VIOLATION_SAMPLE_K = 5  # reference verify_fanout.py:96-97
PARTITION_COLS = ("store_id", "src")


def fanout_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset the verification round-trips: customers fanned out by
    nation, split into two synthetic source files (even/odd custkey) to give
    the file-set check a second dimension, with the partition key DUPLICATED
    into a payload column (``store_key_copy``) so the invariant is checkable
    after the read-back re-derives ``store_id`` from directory names.
    """
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("row_id"),
        F.col("c_nationkey").cast("string").alias("store_id"),
        F.col("c_nationkey").cast("string").alias("store_key_copy"),
        F.when(F.col("c_custkey") % 2 == 0, F.lit("customer_even.csv"))
        .otherwise(F.lit("customer_odd.csv"))
        .alias("src"),
    )


def read_fanout_back(
    spark: SparkSession, output_dir: str, data_cols=("row_id", "store_key_copy")
) -> DataFrame:
    """Read a fan-out tree back with an explicit all-STRING schema.

    *data_cols* are the columns inside the files, in the order the fan-out
    wrote them. Typing the partition columns keeps keys such as ``007`` as
    the strings the directories spell (the reference compares keys as
    trimmed STRINGS, ``verify_fanout.py:94``), and an explicit schema runs
    no header-inference job.
    """
    schema = ", ".join(f"`{c}` STRING" for c in (*data_cols, *PARTITION_COLS))
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("basePath", output_dir)
        .csv(output_dir)
    )


def _invariant_predicate() -> F.Column:
    """V2 predicate: embedded key != directory-derived partition key.

    ONE definition shared by the report's count and by
    :func:`invariant_violations`, so the two cannot drift apart.
    """
    return F.coalesce(F.trim(F.col("store_key_copy")), F.lit("")) != F.coalesce(
        F.col("store_id"), F.lit("")
    )


def invariant_violations(back: DataFrame) -> DataFrame:
    """V2: rows whose embedded key != their directory-derived partition key."""
    return back.filter(_invariant_predicate())


def sample_violations(violations: DataFrame, k: int = VIOLATION_SAMPLE_K) -> DataFrame:
    """O4: at most *k* sampled violation rows per store (deterministic order)."""
    from pyspark.sql import Window

    w = Window.partitionBy("store_id").orderBy("row_id")
    return (
        violations.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def check_fanout_tree(
    spark: SparkSession, source: DataFrame, output_dir: str
) -> DataFrame:
    """V1+V2+O4 over an already written fan-out tree of *source*.

    Report rows: (check_name, n), as one lazy plan that runs when the
    report is collected. The tree's rows and the source's rows are unioned
    and aggregated ONCE per store: row and violation counts, plus the set
    of src values found on disk and the set the source expects. A src in
    the expected set only is a missing file, one in the found set only is
    an extra file. O4 needs no window: a store's sampled violations are
    ``least(bad, k)``, exactly the rows ``row_number() <= k`` keeps
    (:func:`sample_violations`). At 100 TB everything after the scans
    works on #stores rows holding #partition-pairs set elements.
    """
    data_cols = [c for c in source.columns if c not in PARTITION_COLS]
    back = read_fanout_back(spark, output_dir, data_cols)
    rows = back.select(
        *PARTITION_COLS,
        F.lit(1).alias("n"),
        _invariant_predicate().cast("long").alias("bad"),
        F.lit(False).alias("expected"),
    ).unionByName(
        source.select(
            *PARTITION_COLS,
            F.lit(0).alias("n"),
            F.lit(0).cast("long").alias("bad"),
            F.lit(True).alias("expected"),
        )
    )
    pair = F.struct("src")  # unlike a bare src, keeps a NULL src in the sets
    per_store = rows.groupBy("store_id").agg(
        F.collect_set(F.when(~F.col("expected"), pair)).alias("found"),
        F.collect_set(F.when(F.col("expected"), pair)).alias("wanted"),
        F.sum("n").alias("rows"),
        F.sum("bad").alias("bad"),
    )
    totals = per_store.agg(
        F.sum(F.size(F.array_except("wanted", "found"))).alias("missing_store_files"),
        F.sum(F.size(F.array_except("found", "wanted"))).alias("extra_store_files"),
        F.sum("bad").alias("key_value_violations"),
        F.sum(F.least("bad", F.lit(VIOLATION_SAMPLE_K))).alias("sampled_violations"),
        F.sum("rows").alias("rows_checked"),
        F.count_if((F.size("found") > 0) & F.col("store_id").isNotNull()).alias(
            "stores_checked"
        ),
    )
    checks = totals.columns
    pairs = ", ".join(f"'{c}', CAST(COALESCE({c}, 0) AS BIGINT)" for c in checks)
    return totals.selectExpr(f"stack({len(checks)}, {pairs}) AS (check_name, n)")


def fanout_verification_report(
    spark: SparkSession, source: DataFrame, output_dir: str
) -> DataFrame:
    """Write *source* fanned out, then return :func:`check_fanout_tree`'s
    report on the tree.

    The write runs now; the report is lazy and reads the tree back when
    collected. The V3 contract is that every ``*_violations`` and
    ``missing/extra`` count is 0 — asserted by the oracle twin (zero
    literals) and by the tests that corrupt a tree to prove detection.
    """
    write_fanout(source, output_dir, partition_cols=PARTITION_COLS)
    return check_fanout_tree(spark, source, output_dir)


_SQL_FANOUT_VERIFY = """
SELECT 'missing_store_files' AS check_name, CAST(0 AS BIGINT) AS n
UNION ALL SELECT 'extra_store_files', CAST(0 AS BIGINT)
UNION ALL SELECT 'key_value_violations', CAST(0 AS BIGINT)
UNION ALL SELECT 'sampled_violations', CAST(0 AS BIGINT)
UNION ALL SELECT 'rows_checked', (SELECT COUNT(*) FROM customer)
UNION ALL SELECT 'stores_checked',
  (SELECT CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) FROM customer)
"""


@register("prim_fanout_verify", oracle=_SQL_FANOUT_VERIFY)
def prim_fanout_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end S4 sink → V1/V2/O4 verification round-trip.

    The oracle pins the defect counts to ZERO (V3's exit-code contract) and
    the row/store tallies to the source table's — so a fan-out write that
    drops, duplicates, or misroutes any row fails the hash comparison.
    """
    # per-process suffix: two drivers verifying the same sf_dir (bench run
    # next to a pytest session) must not overwrite each other's tree
    # mid-read-back; within one process reruns still reuse/overwrite
    out = os.path.join(
        tempfile.gettempdir(),
        "ting_fanout_verify",
        f"{sf_dir.strip('/').replace('/', '_')}_{os.getpid()}",
    )
    return fanout_verification_report(spark, fanout_source(spark, sf_dir), out)
