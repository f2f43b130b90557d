"""Standalone oracle-checked queries for each SURVEY.md §2 primitive family.

The six jobs (plans/jobs.py) exercise the primitives in composition; these
queries pin each family down in isolation so a regression is attributable:
cleaning (F1-F7), predicates (P3-P7), pivot (A3), top-k windows (O2/O4),
set ops (U1/U2), distinct counts (A6), presence checks (V4).

Messy inputs are *derived deterministically* from the parquet tables (modulo
variants on keys) so Spark and DuckDB construct byte-identical test strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ting_data_etl_spark.functions.cleaning import (
    fmt_pct,
    guarded_ratio,
    parse_month,
    sum_exact,
    to_number,
)
from ting_data_etl_spark.operators.relational import (
    pivot_years,
    set_difference,
    top_k_per_group,
)
from ting_data_etl_spark.plans.jobs import CUR_YEAR, PREV_YEAR
from ting_data_etl_spark.plans.oracles import sql_parse_month, sql_sum_exact, sql_to_number
from ting_data_etl_spark.registry import register
from ting_data_etl_spark.sources.tables import load_table


# --- F-series cleaning: to_number over adversarial strings -----------------
_SQL_TO_NUMBER = f"""
WITH raw AS (
  SELECT CASE
           WHEN o_orderkey % 100 = 0 THEN 'NULL'
           WHEN o_orderkey % 100 = 1 THEN 'nan'
           WHEN o_orderkey % 100 = 2 THEN ''
           WHEN o_orderkey % 100 = 3 THEN 'None'
           WHEN o_orderkey % 100 = 4 THEN 'not-a-number'
           ELSE '  ' || CAST(o_totalprice AS VARCHAR) || '%'
         END AS s
  FROM orders
)
SELECT COUNT(*) AS n_rows,
       COUNT(*) FILTER (WHERE {sql_to_number("s")} IS NULL) AS n_null,
       {sql_sum_exact(sql_to_number("s"))} AS total
FROM raw
"""


@register("prim_to_number_cleaning", oracle=_SQL_TO_NUMBER)
def prim_to_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey") % 100
    raw = o.select(
        F.when(k == 0, F.lit("NULL"))
        .when(k == 1, F.lit("nan"))
        .when(k == 2, F.lit(""))
        .when(k == 3, F.lit("None"))
        .when(k == 4, F.lit("not-a-number"))
        .otherwise(F.concat(F.lit("  "), F.col("o_totalprice").cast("string"), F.lit("%")))
        .alias("s")
    )
    v = to_number(F.col("s"))
    return raw.agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(v.isNull(), 1)).alias("n_null"),
        sum_exact(v).alias("total"),
    )


# --- F-series cleaning: parse_month over messy formats ---------------------
_SQL_PARSE_MONTH = f"""
WITH raw AS (
  SELECT CASE
           WHEN o_orderkey % 5 = 0 THEN strftime(o_orderdate, '%Y/%m')
           WHEN o_orderkey % 5 = 1 THEN strftime(o_orderdate, '%Y%m')
           WHEN o_orderkey % 5 = 2 THEN CAST(month(o_orderdate) AS VARCHAR)
           WHEN o_orderkey % 5 = 3 THEN strftime(o_orderdate, '%Y-%m')
           ELSE 'not-a-month'
         END AS s
  FROM orders
)
SELECT {sql_parse_month("s")} AS month, COUNT(*) AS n
FROM raw GROUP BY 1
"""


@register("prim_parse_month", oracle=_SQL_PARSE_MONTH)
def prim_parse_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey") % 5
    raw = o.select(
        F.when(k == 0, F.date_format("o_orderdate", "yyyy/MM"))
        .when(k == 1, F.date_format("o_orderdate", "yyyyMM"))
        .when(k == 2, F.month("o_orderdate").cast("string"))
        .when(k == 3, F.date_format("o_orderdate", "yyyy-MM"))
        .otherwise(F.lit("not-a-month"))
        .alias("s")
    )
    # project the parsed month BEFORE grouping: as a projection the regex
    # chain runs once per row inside codegen (with subexpression
    # elimination); as a grouping expression it would be re-evaluated per
    # aggregation phase (measured 8.9s -> 1.4s at sf0.1)
    parsed = raw.select(parse_month(F.col("s")).alias("month"))
    return parsed.groupBy("month").agg(F.count("*").alias("n"))


# --- P-series predicates: equality, membership, range, not-null ------------
_SQL_PREDICATES = f"""
SELECT o_orderstatus AS status,
       COUNT(*) AS n,
       {sql_sum_exact("o_totalprice")} AS total
FROM orders
WHERE o_orderstatus IN ('O', 'F')
  AND o_totalprice BETWEEN 1000 AND 200000
  AND o_custkey IS NOT NULL
  AND CAST(year(o_orderdate) AS VARCHAR) = '{CUR_YEAR}'
GROUP BY 1
"""


@register("prim_filter_predicates", oracle=_SQL_PREDICATES)
def prim_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(
            F.col("o_orderstatus").isin("O", "F")
            & F.col("o_totalprice").between(1000, 200000)
            & F.col("o_custkey").isNotNull()
            & (F.year("o_orderdate").cast("string") == CUR_YEAR)
        )
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count("*").alias("n"), sum_exact("o_totalprice").alias("total"))
    )


# --- A3 pivot: order-status counts pivoted to columns ----------------------
_SQL_PIVOT = """
SELECT CAST(year(o_orderdate) AS VARCHAR) AS year,
       CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS st_O,
       CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS st_F,
       CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS st_P
FROM orders GROUP BY 1
"""


@register("prim_pivot_status", oracle=_SQL_PIVOT)
def prim_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("string").alias("year"), "o_orderstatus"
    )
    p = pivot_years(
        o,
        ["year"],
        "o_orderstatus",
        ["O", "F", "P"],
        "o_orderstatus",
        agg=lambda c: F.count(c),
        fill_value=0,
    )
    return p.select(
        "year",
        F.col("O").alias("st_O"),
        F.col("F").alias("st_F"),
        F.col("P").alias("st_P"),
    )


# --- O2 window top-k: top-3 orders per customer ----------------------------
_SQL_TOPK = """
SELECT store_id, o_orderkey, o_totalprice
FROM (
  SELECT CAST(o_custkey AS VARCHAR) AS store_id, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC
         ) AS rn
  FROM orders
) WHERE rn <= 3
"""


@register("prim_topk_orders_per_customer", oracle=_SQL_TOPK)
def prim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("store_id"),
        "o_orderkey",
        "o_totalprice",
    )
    return top_k_per_group(
        o, ["store_id"], "o_totalprice", k=3, tiebreak=["o_orderkey"]
    )


# --- U2 set difference: customers with no current-year orders --------------
_SQL_ANTI = f"""
SELECT CAST(c_custkey AS VARCHAR) AS store_id, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND CAST(year(o.o_orderdate) AS VARCHAR) = '{CUR_YEAR}'
)
"""


@register("prim_anti_join_inactive_customers", oracle=_SQL_ANTI)
def prim_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate").cast("string") == CUR_YEAR)
        .select(F.col("o_custkey").alias("k"))
    )
    return set_difference(c, o, ["k"]).select(
        F.col("k").cast("string").alias("store_id"), "c_mktsegment"
    )


# --- U1 union: two yearly projections combined -----------------------------
_SQL_UNION = f"""
WITH u AS (
  SELECT CAST(o_custkey AS VARCHAR) AS store_id, '{PREV_YEAR}' AS tag
  FROM orders WHERE year(o_orderdate) = {PREV_YEAR}
  UNION ALL
  SELECT CAST(o_custkey AS VARCHAR) AS store_id, '{CUR_YEAR}' AS tag
  FROM orders WHERE year(o_orderdate) = {CUR_YEAR}
)
SELECT store_id, COUNT(*) AS n, COUNT(DISTINCT tag) AS n_years
FROM u GROUP BY store_id
"""


@register("prim_union_by_name", oracle=_SQL_UNION)
def prim_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.year("o_orderdate") == int(PREV_YEAR)).select(
        F.col("o_custkey").cast("string").alias("store_id"),
        F.lit(PREV_YEAR).alias("tag"),
    )
    b = o.filter(F.year("o_orderdate") == int(CUR_YEAR)).select(
        F.col("o_custkey").cast("string").alias("store_id"),
        F.lit(CUR_YEAR).alias("tag"),
    )
    return (
        a.unionByName(b)
        .groupBy("store_id")
        .agg(F.count("*").alias("n"), F.countDistinct("tag").alias("n_years"))
    )


# --- A6 distinct count per group -------------------------------------------
_SQL_DISTINCT = """
SELECT CAST(year(o_orderdate) AS VARCHAR) AS year,
       COUNT(DISTINCT o_custkey) AS n_stores,
       COUNT(*) AS n_orders
FROM orders GROUP BY 1
"""


@register("prim_distinct_count", oracle=_SQL_DISTINCT)
def prim_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.year("o_orderdate").cast("string").alias("year")).agg(
        F.countDistinct("o_custkey").alias("n_stores"),
        F.count("*").alias("n_orders"),
    )


# --- V4 presence check: one store across sources ---------------------------
_SQL_PRESENCE = """
SELECT 'orders' AS source, COUNT(*) AS n FROM orders WHERE CAST(o_custkey AS VARCHAR) = '1'
UNION ALL
SELECT 'lineitem' AS source, COUNT(*) AS n
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE CAST(o.o_custkey AS VARCHAR) = '1'
UNION ALL
SELECT 'customer' AS source, COUNT(*) AS n FROM customer WHERE CAST(c_custkey AS VARCHAR) = '1'
"""


@register("prim_presence_check", oracle=_SQL_PRESENCE)
def prim_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-availability pre-check for one key across sources.

    Mirrors reference ``verify_store_presence.py:35-63`` (per-source row
    counts for a single store id).
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cu = load_table(spark, sf_dir, "customer")
    key = "1"
    a = o.filter(F.col("o_custkey").cast("string") == key).agg(
        F.lit("orders").alias("source"), F.count("*").alias("n")
    )
    b = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("o_custkey").cast("string") == key)
        .agg(F.lit("lineitem").alias("source"), F.count("*").alias("n"))
    )
    c = cu.filter(F.col("c_custkey").cast("string") == key).agg(
        F.lit("customer").alias("source"), F.count("*").alias("n")
    )
    return a.unionByName(b).unionByName(c)


# --- P7 + A5: fan-out routing counts (valid-key guard + per-key count) -----
_SQL_ROUTING = """
SELECT CAST(o_custkey AS VARCHAR) AS store_id, COUNT(*) AS n_rows
FROM orders
WHERE o_custkey IS NOT NULL AND length(trim(CAST(o_custkey AS VARCHAR))) > 0
GROUP BY 1
"""


@register("prim_fanout_routing_counts", oracle=_SQL_ROUTING)
def prim_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-routing counts of the fan-out sink (S4 semantics, P7 guard)."""
    from ting_data_etl_spark.sources.csv import filter_valid_keys

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("store_id")
    )
    return filter_valid_keys(o, "store_id").groupBy("store_id").agg(
        F.count("*").alias("n_rows")
    )


# --- D3: percent formatting (the reference's _fmt_pct, builtin-only) -------
_SQL_FMT_PCT = f"""
WITH agg AS (
  SELECT o_orderpriority,
         {sql_sum_exact("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS f_total,
         {sql_sum_exact("o_totalprice")} AS total
  FROM orders GROUP BY 1
),
r AS (
  SELECT o_orderpriority,
         CASE WHEN total IS NOT NULL AND total <> 0 THEN f_total / total END AS ratio
  FROM agg
)
SELECT o_orderpriority,
       CASE WHEN ratio IS NOT NULL
            THEN printf('%.2f',
                        sign(ratio) * floor(abs(ratio * 100) * 100 + 0.5) / 100)
                 || '%'
            ELSE '' END AS f_share_pct,
       '' AS null_pct
FROM r
"""


@register("prim_fmt_pct", oracle=_SQL_FMT_PCT)
def prim_fmt_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 percent formatting over real ratios, plus the NULL -> '' branch.

    Mirrors reference ``aggregate_by_store.py:209-215`` (``f"{x*100:.2f}%"``,
    NA -> ``""``): per-priority share of 'F'-status revenue, formatted; the
    ``null_pct`` column pins the guarded-division-by-zero path to the empty
    string. Ratios come from fixed-point sums, so Spark's and DuckDB's
    formatting see bit-identical doubles.
    """
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        sum_exact(
            F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
        ).alias("f_total"),
        sum_exact("o_totalprice").alias("total"),
    )
    return agg.select(
        "o_orderpriority",
        fmt_pct(guarded_ratio(F.col("f_total"), F.col("total"))).alias("f_share_pct"),
        fmt_pct(guarded_ratio(F.lit(1.0), F.lit(0.0))).alias("null_pct"),
    )


# --- S5 + O1: per-group single-file sink with pre-output sort --------------
_SQL_SINK_RECEIPTS = """
SELECT o_orderpriority AS group_key,
       CAST(COUNT(DISTINCT month(o_orderdate)) AS BIGINT) AS rows_written
FROM orders
GROUP BY 1
"""


@register("sink_per_group_monthly_csv", oracle=_SQL_SINK_RECEIPTS)
def sink_per_group_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 sink round-trip: per-priority monthly counts -> one CSV per group.

    Each group's rows arrive as ONE Arrow batch in one task and are written
    as ``{group}/monthly.csv`` (utf-8-sig, month-sorted — O1); the receipts
    (group, rows_written) are what the oracle checks, so a dropped or
    duplicated group fails the hash. File content/order/BOM are asserted in
    ``tests/test_sinks.py``.
    """
    import os
    import shutil
    import tempfile

    from ting_data_etl_spark.sinks.single_file import write_per_group_csv

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.month("o_orderdate").alias("month"),
    ).agg(F.count("*").alias("n_orders"))
    out = os.path.join(
        tempfile.gettempdir(), "ting_sink_s5", sf_dir.strip("/").replace("/", "_")
    )
    # reset the target: a group present in an OLD run but absent from the
    # current data would otherwise survive as a phantom {group}/monthly.csv
    # (the receipts oracle only checks groups that exist now). Single-node
    # sink by design — per-group files land on the local filesystem; the
    # distributed path is sinks.fanout.
    shutil.rmtree(out, ignore_errors=True)
    return write_per_group_csv(
        monthly,
        out,
        group_col="priority",
        file_name="monthly.csv",
        columns=["month", "n_orders"],
        sort_by=["month"],
    ).select(F.col("group_key"), F.col("rows_written"))
