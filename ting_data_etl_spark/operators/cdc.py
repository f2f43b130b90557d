"""CDC-style snapshot upsert: MERGE INTO semantics on plain parquet.

No reference-side counterpart. The maintenance verb of every warehouse
pipeline — apply a batch of inserts/updates/deletes to a snapshot — has no
built-in operator on plain files (table formats like Delta/Iceberg wrap
exactly this plan), so the engine composes it from one full-outer join:

    merged = snapshot ⟗ changes on key
    keep   = change is null        → snapshot row unchanged
             change in (I, U)      → change row's values
             change = D            → row dropped

One shuffle per side, keyed by the primary key; with a bucketed snapshot
(see :mod:`ting_data_etl_spark.operators.bucketed`) the snapshot side's
shuffle disappears and each upsert batch only shuffles the (small) change
set — the incremental-cost property CDC pipelines rely on.

The change batch here is synthesized deterministically from the customer
snapshot itself (every 7th key an update, every 13th a delete, inserts
above the max key), so the oracle can rebuild the identical batch in SQL
and the whole upsert is full-hash checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ting_data_etl_spark.registry import register
from ting_data_etl_spark.sources.tables import load_table

UPDATE_MOD = 7  # every 7th custkey gets an update
DELETE_MOD = 13  # every 13th a delete (delete wins where both apply)
INSERT_COUNT = 100  # new keys appended above the snapshot's max key


def synth_changes(snapshot: DataFrame) -> DataFrame:
    """Deterministic I/U/D change batch derived from the snapshot."""
    upd = (
        snapshot.filter(
            (F.col("c_custkey") % UPDATE_MOD == 0)
            & (F.col("c_custkey") % DELETE_MOD != 0)
        )
        .select(
            "c_custkey",
            F.concat(F.lit("updated-"), F.col("c_name")).alias("c_name"),
            (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
            F.lit("U").alias("op"),
        )
    )
    dele = snapshot.filter(F.col("c_custkey") % DELETE_MOD == 0).select(
        "c_custkey",
        F.lit(None).cast("string").alias("c_name"),
        F.lit(None).cast("double").alias("c_acctbal"),
        F.lit("D").alias("op"),
    )
    max_key = F.broadcast(
        snapshot.agg(F.max("c_custkey").alias("mx"))
    )
    ins = (
        snapshot.sparkSession.range(1, INSERT_COUNT + 1)
        .crossJoin(max_key)
        .select(
            (F.col("mx") + F.col("id")).alias("c_custkey"),
            F.concat(F.lit("new-customer-"), F.col("id")).alias("c_name"),
            F.lit(0.0).alias("c_acctbal"),
            F.lit("I").alias("op"),
        )
    )
    return upd.unionByName(dele).unionByName(ins)


def apply_changes(snapshot: DataFrame, changes: DataFrame) -> DataFrame:
    """MERGE INTO as one full-outer join (the table-format plan, inlined)."""
    s = snapshot.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("s_name"),
        F.col("c_acctbal").alias("s_bal"),
    )
    c = changes.select(
        F.col("c_custkey").alias("ck"),
        F.col("c_name").alias("c_name_new"),
        F.col("c_acctbal").alias("c_bal_new"),
        "op",
    )
    m = s.join(c, s["k"] == c["ck"], "full_outer")
    kept = m.filter((F.col("op").isNull()) | (F.col("op") != "D"))
    return kept.select(
        F.coalesce(F.col("k"), F.col("ck")).alias("c_custkey"),
        F.when(F.col("op").isin("I", "U"), F.col("c_name_new"))
        .otherwise(F.col("s_name"))
        .alias("c_name"),
        F.when(F.col("op").isin("I", "U"), F.col("c_bal_new"))
        .otherwise(F.col("s_bal"))
        .alias("c_acctbal"),
    )


# CTE chain ending in `v2` (the post-merge snapshot) — composable: used by
# the upsert oracle below and the snapshot-diff oracle.
_SQL_UPSERT_CTES = f"""
upd AS (
  SELECT c_custkey, 'updated-' || c_name AS c_name,
         c_acctbal + 100.0 AS c_acctbal, 'U' AS op
  FROM customer
  WHERE c_custkey % {UPDATE_MOD} = 0 AND c_custkey % {DELETE_MOD} <> 0
),
dele AS (
  SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name,
         CAST(NULL AS DOUBLE) AS c_acctbal, 'D' AS op
  FROM customer WHERE c_custkey % {DELETE_MOD} = 0
),
ins AS (
  SELECT (SELECT MAX(c_custkey) FROM customer) + i AS c_custkey,
         'new-customer-' || i AS c_name, 0.0 AS c_acctbal, 'I' AS op
  FROM (SELECT unnest(range(1, {INSERT_COUNT + 1})) AS i)
),
changes AS (SELECT * FROM upd UNION ALL SELECT * FROM dele UNION ALL SELECT * FROM ins),
m AS (
  SELECT s.c_custkey AS k, s.c_name AS s_name, s.c_acctbal AS s_bal,
         c.c_custkey AS ck, c.c_name AS c_name_new, c.c_acctbal AS c_bal_new,
         c.op
  FROM customer s FULL OUTER JOIN changes c ON s.c_custkey = c.c_custkey
),
v2 AS (
  SELECT COALESCE(k, ck) AS c_custkey,
         CASE WHEN op IN ('I', 'U') THEN c_name_new ELSE s_name END AS c_name,
         CASE WHEN op IN ('I', 'U') THEN c_bal_new ELSE s_bal END AS c_acctbal
  FROM m WHERE op IS NULL OR op <> 'D'
)"""

_SQL_UPSERT = f"""
WITH {_SQL_UPSERT_CTES}
SELECT c_custkey, c_name, c_acctbal FROM v2
"""


@register("cdc_upsert_snapshot", oracle=_SQL_UPSERT)
def cdc_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a synthesized I/U/D batch to the customer snapshot."""
    snapshot = load_table(spark, sf_dir, "customer")
    return apply_changes(snapshot, synth_changes(snapshot))


# --- SCD2 dimension history ------------------------------------------------
_SQL_SCD2 = """
WITH v AS (
  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
         LEAD(CAST(o_orderdate AS DATE)) OVER (
           PARTITION BY o_custkey
           ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS next_d
  FROM orders
)
SELECT o_custkey AS custkey,
       o_orderkey AS version_key,
       strftime(d, '%Y-%m-%d') AS effective_from,
       strftime(COALESCE(next_d, DATE '9999-12-31'), '%Y-%m-%d')
         AS effective_to,
       CAST(next_d IS NULL AS INT) AS is_current
FROM v
"""


@register("cdc_scd2_history", oracle=_SQL_SCD2)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history built from a change log.

    Treats each customer's orders as successive dimension versions (the
    standard SCD2 build from CDC events): one ``lead()`` window per key
    turns point-in-time changes into HALF-OPEN [effective_from,
    effective_to) intervals — ``effective_to`` is the NEXT version's
    ``effective_from`` (not next-1), so two versions on the same date
    yield an empty interval, never an inverted one, and any
    interval-containment consumer (``from <= d < to``) partitions time
    correctly. The open interval is capped at the 9999-12-31 sentinel and
    flagged current. One shuffle on the dimension key; the tie-break
    ``(date, orderkey)`` makes version order total, so interval bounds are
    deterministic. Dates travel as ISO strings to keep the cross-engine
    hash free of calendar-type encoding differences.
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("d"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    v = o.withColumn("next_d", F.lead("d").over(w))
    return v.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("version_key"),
        F.date_format("d", "yyyy-MM-dd").alias("effective_from"),
        F.date_format(
            F.coalesce(F.col("next_d"), F.to_date(F.lit("9999-12-31"))),
            "yyyy-MM-dd",
        ).alias("effective_to"),
        F.col("next_d").isNull().cast("int").alias("is_current"),
    )


# --- snapshot diff (derive the changelog from two table versions) ----------
_SQL_SNAPSHOT_DIFF = f"""
WITH {_SQL_UPSERT_CTES},
d AS (
  SELECT v1.c_custkey AS k1, v2.c_custkey AS k2,
         v1.c_name AS n1, v2.c_name AS n2,
         v1.c_acctbal AS b1, v2.c_acctbal AS b2
  FROM customer v1 FULL OUTER JOIN v2 ON v1.c_custkey = v2.c_custkey
)
SELECT COALESCE(k2, k1) AS c_custkey,
       CASE WHEN k1 IS NULL THEN 'I'
            WHEN k2 IS NULL THEN 'D'
            ELSE 'U' END AS op,
       n2 AS c_name, b2 AS c_acctbal
FROM d
WHERE k1 IS NULL OR k2 IS NULL
   OR n1 IS DISTINCT FROM n2 OR b1 IS DISTINCT FROM b2
"""


@register("cdc_snapshot_diff", oracle=_SQL_SNAPSHOT_DIFF)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the I/U/D changelog from two snapshot versions — CDC inverted.

    The other half of the CDC pair above: ``cdc_upsert_snapshot`` APPLIES a
    changelog; this recovers one by diffing version v1 (the raw snapshot)
    against v2 (the post-merge result) with a single full-outer join on the
    key and a null-safe payload comparison. One shuffle per side; at 100 TB
    the payload comparison would hash wide rows first (same 16-byte-key
    trick as the fingerprint dedup) — here the payload is two columns, so
    direct comparison wins. Pytest pins that the derived changelog equals
    the original synthesized change batch exactly.
    """
    v1 = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    v2 = apply_changes(v1, synth_changes(v1))
    a = v1.select(
        F.col("c_custkey").alias("k1"),
        F.col("c_name").alias("n1"),
        F.col("c_acctbal").alias("b1"),
    )
    b = v2.select(
        F.col("c_custkey").alias("k2"),
        F.col("c_name").alias("n2"),
        F.col("c_acctbal").alias("b2"),
    )
    d = a.join(b, a["k1"] == b["k2"], "full_outer")
    changed = (
        F.col("k1").isNull()
        | F.col("k2").isNull()
        | ~F.col("n1").eqNullSafe(F.col("n2"))
        | ~F.col("b1").eqNullSafe(F.col("b2"))
    )
    return d.filter(changed).select(
        F.coalesce(F.col("k2"), F.col("k1")).alias("c_custkey"),
        F.when(F.col("k1").isNull(), F.lit("I"))
        .when(F.col("k2").isNull(), F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("n2").alias("c_name"),
        F.col("b2").alias("c_acctbal"),
    )
