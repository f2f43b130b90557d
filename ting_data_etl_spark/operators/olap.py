"""OLAP profile operators: exact quantiles and CUBE rollups (SURVEY §7.4).

No reference-side counterpart (the reference has no distribution/rollup
analytics). Two curation-dashboard staples:

* **exact grouped quantiles** — Spark's ``percentile`` (exact, linear
  interpolation) matches DuckDB's ``quantile_cont`` bit for bit on integer
  inputs, so the length distribution is fully hash-checked. At 100 TB flip
  to ``percentile_approx`` (single-pass KLL-style sketch, rows-only check)
  — same plan shape, bounded memory.
* **CUBE rollup** — every (event_type × hour) subtotal plus margins in ONE
  pass: Catalyst expands the cube into grouping sets and aggregates them in
  a single shuffle, vs. 4 separate queries a naive dashboard would run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ting_data_etl_spark.functions.cleaning import sum_exact
from ting_data_etl_spark.plans.oracles import sql_sum_exact
from ting_data_etl_spark.registry import register
from ting_data_etl_spark.sources.tables import load_table

QUANTILES = [0.5, 0.9, 0.99]

_SQL_QUANTILES = """
SELECT source,
       quantile_cont(n_chars, 0.5) AS p50_chars,
       quantile_cont(n_chars, 0.9) AS p90_chars,
       quantile_cont(n_chars, 0.99) AS p99_chars
FROM documents GROUP BY source
"""


@register("text_length_quantiles", oracle=_SQL_QUANTILES)
def text_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length distribution (exact p50/p90/p99).

    The length histogram every curation dashboard starts from. Exact
    percentile is one shuffle + per-group sort; the approx variant swaps in
    with no plan change when group cardinality × corpus size demands it.
    """
    d = load_table(spark, sf_dir, "documents")
    q = d.groupBy("source").agg(
        F.percentile("n_chars", QUANTILES).alias("qs")
    )
    return q.select(
        "source",
        F.col("qs")[0].alias("p50_chars"),
        F.col("qs")[1].alias("p90_chars"),
        F.col("qs")[2].alias("p99_chars"),
    )


_SQL_CUBE = f"""
WITH ev AS (
  SELECT event_type, CAST(hour(ts) AS INTEGER) AS hod, value FROM events
)
SELECT event_type, hod,
       COUNT(*) AS n_events,
       {sql_sum_exact("value", 6)} AS total_value
FROM ev
GROUP BY CUBE (event_type, hod)
"""


@register("events_cube_type_hour", oracle=_SQL_CUBE)
def events_cube_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, hour-of-day): all subtotals in one shuffle.

    Catalyst expands the cube to its 4 grouping sets and computes them in a
    single aggregation pass — the margins (NULL group keys) come free
    instead of via separate queries. Fixed-point value sums keep the margin
    totals bit-identical across engines regardless of merge order.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("int").alias("hod"), "value"
    )
    return ev.cube("event_type", "hod").agg(
        F.count("*").alias("n_events"),
        sum_exact("value", scale=6).alias("total_value"),
    )


_SQL_ROLLUP = f"""
WITH o AS (
  SELECT o_orderpriority AS priority,
         CAST(year(o_orderdate) AS INTEGER) AS yr,
         o_totalprice
  FROM orders
)
SELECT priority, yr,
       COUNT(*) AS n_orders,
       {sql_sum_exact("o_totalprice", 2)} AS total_price
FROM o
GROUP BY ROLLUP (priority, yr)
"""


@register("olap_rollup_priority_year", oracle=_SQL_ROLLUP)
def olap_rollup_priority_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (priority, year): hierarchical subtotals in one pass.

    The drill-down complement to the CUBE above: Catalyst expands the
    rollup to its 3 grouping sets — (priority, yr), (priority), () — and
    computes all of them in a single aggregation, so the report's subtotal
    rows cost no extra scans. Fixed-point sums keep every margin
    bit-identical across engines regardless of partial-aggregate merge
    order.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").cast("int").alias("yr"),
        "o_totalprice",
    )
    return o.rollup("priority", "yr").agg(
        F.count("*").alias("n_orders"),
        sum_exact("o_totalprice", scale=2).alias("total_price"),
    )


# --- materialized daily rollup reuse (continuous-aggregate pattern) --------
#: The hypertable/continuous-aggregate pattern: facts roll up once into a
#: small time-bucketed aggregate table; report queries read the rollup,
#: never the fact table. Revenue is kept in FIXED-POINT UNITS (BIGINT
#: cents) inside the rollup so re-aggregation to coarser grains composes
#: EXACTLY — sum of daily cent-sums == direct monthly cent-sum under any
#: grouping or merge order, which is what lets the oracle check the
#: rollup-reuse path against a direct fact-table query value-for-value.

_ROLLUP_VERSION = "v2_day_flag_cents"

_DAILY_ROLLUP: dict[str, str] = {}


def staged_daily_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (once per process+dataset) and read the daily revenue rollup.

    Grain: (ship day, return flag) → item count + revenue cents. Built with
    one scan + one shuffle, written as the standing aggregate artifact —
    at 100 TB this is a scheduled incremental job appending only new time
    partitions; every calendar report downstream reads ~10³ rollup rows
    instead of re-scanning the fact table. Invalidation mirrors
    ``similarity.ivf_centroids``: the artifact path is fingerprinted by the
    source's (mtime, size), so a testdata regeneration rebuilds.
    """
    import os

    from ting_data_etl_spark.operators.dedup import (
        _publish_stage,
        _source_fp,
        _stage_dir,
    )

    # fingerprinted path RECOMPUTED per call (dedup.staged_components'
    # rule: an in-process regeneration must land on a fresh stage, not the
    # memo dict's pre-regeneration artifact) via the SHARED _stage_dir
    # scheme (collision-free tag; also inside purge_stages' sweep) and
    # published atomically (_publish_stage — the check-then-overwrite race
    # corrupted write-once artifacts under concurrent cold-starts).
    # _ROLLUP_VERSION folds the rollup's CODE identity into the path: the
    # (mtime, size) fingerprint only sees DATA changes. Bump it when the
    # rollup semantics change.
    path = _stage_dir(
        sf_dir,
        [f"rollup_daily_{_ROLLUP_VERSION}", _source_fp(sf_dir, "lineitem")],
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        li = load_table(spark, sf_dir, "lineitem")
        rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        _publish_stage(
            li.groupBy(
                F.to_date("l_shipdate").alias("day"),
                F.col("l_returnflag").alias("flag"),
            ).agg(
                F.count("*").alias("n_items"),
                F.sum(F.round(rev * 100).cast("long")).alias("rev_units"),
            ),
            path,
        )
    _DAILY_ROLLUP[sf_dir] = path
    return spark.read.parquet(path)


_SQL_ROLLUP_REUSE = f"""
SELECT strftime(l_shipdate, '%Y-%m') AS month,
       l_returnflag AS flag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {sql_sum_exact("l_extendedprice * (1 - l_discount)", 2)} AS revenue
FROM lineitem
GROUP BY 1, 2
"""


@register("olap_monthly_from_daily_rollup", oracle=_SQL_ROLLUP_REUSE)
def olap_monthly_from_daily_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Monthly revenue report answered FROM the daily rollup artifact.

    The reuse leg of the continuous-aggregate pattern: this query scans the
    ~10³-row rollup, not the fact table, and re-aggregates day→month by
    summing exact cent units. The oracle computes the same report DIRECTLY
    from ``lineitem`` — a value-level proof that the materialized rollup
    path loses nothing (counts and cents compose associatively; only the
    final cents→currency division happens at read time).
    """
    r = staged_daily_revenue_rollup(spark, sf_dir)
    return r.groupBy(
        F.date_format("day", "yyyy-MM").alias("month"), "flag"
    ).agg(
        F.sum("n_items").alias("n_items"),
        (F.sum("rev_units").cast("bigint") / 100.0).alias("revenue"),
    )
