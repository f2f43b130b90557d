"""Temporal join operators over the events stream (SURVEY.md §7.4 extension).

Spark has no native as-of or interval join; both are re-expressed here as
single-shuffle window plans — the distributed formulation that replaces the
per-row "latest earlier row" subquery a row store would run:

* **as-of join** — probe events pick up the latest at-or-before reference
  event of another type for the same key. Implemented as union → one window
  scan carrying the last non-null reference (``last(..., ignorenulls)``),
  i.e. O(n log n) sort within each user partition instead of O(n²) pairs.
  The same construction `pandas.merge_asof` runs on one core, distributed.
* **range activity** — per event, how many events the same user produced in
  the trailing interval. A RANGE window frame on the microsecond timestamp:
  the interval join collapses into a frame specification, no self-join.

Both are fully oracle-checked (DuckDB runs the identical window plans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ting_data_etl_spark.registry import register
from ting_data_etl_spark.sources.tables import load_table

ASOF_PROBE = "purchase"  # probe side: each purchase ...
ASOF_REF = "click"  # ... matches the user's latest at-or-before click

RANGE_US = 5 * 60 * 1_000_000  # trailing 5-minute activity window


_SQL_ASOF = f"""
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS us, event_type
  FROM events WHERE event_type IN ('{ASOF_REF}', '{ASOF_PROBE}')
),
u AS (
  SELECT event_id, user_id, us, event_type,
         CASE WHEN event_type = '{ASOF_REF}' THEN 0 ELSE 1 END AS side,
         CASE WHEN event_type = '{ASOF_REF}' THEN event_id END AS ref_id,
         CASE WHEN event_type = '{ASOF_REF}' THEN us END AS ref_us
  FROM ev
),
m AS (
  SELECT *,
         last_value(ref_id IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY us, side, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS matched_ref_id,
         last_value(ref_us IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY us, side, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS matched_ref_us
  FROM u
)
SELECT event_id AS purchase_id, user_id, us AS purchase_us,
       matched_ref_id AS click_id, matched_ref_us AS click_us,
       us - matched_ref_us AS gap_us
FROM m WHERE event_type = '{ASOF_PROBE}'
"""


@register("events_asof_click_before_purchase", oracle=_SQL_ASOF)
def events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase ⟕ the user's latest at-or-before click.

    Plan: filter both event types in ONE scan, tag sides, one window pass
    per user ordered by (time, side, id) — the reference side sorts before
    a probe at the same timestamp, giving "at or before" semantics with a
    deterministic tiebreak. One shuffle on user_id; the window state is a
    single carried value, so the plan survives any corpus size per user
    short of a single user exceeding a partition (salt the window by time
    range in that case).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(ASOF_REF, ASOF_PROBE))
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("us"),
            "event_type",
        )
    )
    is_ref = F.col("event_type") == ASOF_REF
    u = ev.select(
        "event_id",
        "user_id",
        "us",
        "event_type",
        F.when(is_ref, 0).otherwise(1).alias("side"),
        F.when(is_ref, F.col("event_id")).alias("ref_id"),
        F.when(is_ref, F.col("us")).alias("ref_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    m = u.select(
        "event_id",
        "user_id",
        "us",
        "event_type",
        F.last("ref_id", ignorenulls=True).over(w).alias("click_id"),
        F.last("ref_us", ignorenulls=True).over(w).alias("click_us"),
    )
    return m.filter(F.col("event_type") == ASOF_PROBE).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("us").alias("purchase_us"),
        "click_id",
        "click_us",
        (F.col("us") - F.col("click_us")).alias("gap_us"),
    )


_SQL_RANGE = f"""
WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events)
SELECT event_id, user_id,
       CAST(COUNT(*) OVER (
         PARTITION BY user_id ORDER BY us
         RANGE BETWEEN {RANGE_US} PRECEDING AND CURRENT ROW) - 1 AS BIGINT)
         AS n_prev_5min
FROM ev
"""


@register("events_range_activity_5min", oracle=_SQL_RANGE)
def events_range_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-interval join as a RANGE window frame.

    "How many events did this user produce in the 5 minutes before this
    one" is an interval self-join; expressing it as a RANGE frame over the
    microsecond timestamp turns it into one shuffle + one ordered scan per
    user, with the frame bound doing the interval matching. Simultaneous
    events (same µs) count each other symmetrically — deterministic in both
    engines.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-RANGE_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        (F.count(F.lit(1)).over(w) - 1).cast("long").alias("n_prev_5min"),
    )


# --- semi-structured props extraction --------------------------------------
_SQL_JSON_PROPS = """
WITH x AS (
  -- exact parity with Spark's from_json("k long"): malformed JSON,
  -- quoted numbers ("12"), and non-integer values (1.5) all yield NULL
  -- (probed identical across both engines for all seven edge shapes);
  -- the bare ->> '{k}' form would throw on malformed docs and coerce
  -- quoted/float values where Spark does not
  SELECT event_type,
         CASE WHEN json_valid(props)
                AND json_type(json_extract(props, '$.k'))
                    IN ('BIGINT', 'UBIGINT')
              -- TRY_CAST, not CAST: json_type 'UBIGINT' admits values in
              -- (2^63, 2^64) that CAST aborts on (ConversionException)
              -- where Spark's PERMISSIVE from_json yields NULL
              THEN TRY_CAST(json_extract(props, '$.k') AS BIGINT) END AS k
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(COUNT(k) AS BIGINT) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k
FROM x GROUP BY event_type
"""


@register("events_json_props_extract", oracle=_SQL_JSON_PROPS)
def events_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from a semi-structured JSON column.

    The schema-on-read verb for event payloads: ``from_json`` with a PINNED
    schema (never schema inference — it scans twice and drifts), projecting
    the typed field before the aggregate so the shuffle carries longs, not
    JSON strings. Malformed documents yield NULL (PERMISSIVE), surfacing in
    ``n_with_k`` < ``n_events`` rather than failing the job — the standard
    poison-pill posture for event streams.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k long")["k"]
    x = ev.select("event_type", k.alias("k"))
    return x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("k").cast("long").alias("n_with_k"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


# --- per-user running aggregates -------------------------------------------
_SQL_RUNNING = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS us,
         CAST(round(value * 1000000) AS BIGINT) AS v6
  FROM events
)
SELECT event_id, user_id, us,
       CAST(SUM(v6) OVER w AS BIGINT) / 1000000.0 AS running_value,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS event_seq
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register("events_user_running_value", oracle=_SQL_RUNNING)
def events_user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running value total + event sequence number.

    The cumulative-window member of the §2.9 window family (as-of and range
    frames live above): one shuffle on ``user_id``, an in-partition sort on
    ``(ts, event_id)`` — the tie-break makes the prefix order total, so the
    running sum is deterministic — and both outputs share the single window.
    The sum accumulates fixed-point BIGINTs (values pre-scaled to 1e-6), so
    every prefix is exact: float running sums would otherwise disagree with
    the oracle in the last ULP wherever accumulation order differs.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 1_000_000).cast("long").alias("v6"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "us",
        (F.sum("v6").over(wsum).cast("long") / F.lit(1_000_000.0)).alias(
            "running_value"
        ),
        F.row_number().over(w).cast("long").alias("event_seq"),
    )


# --- funnel conversion -----------------------------------------------------
_SQL_FUNNEL = """
WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
c AS (
  SELECT user_id, MIN(us) AS first_click_us
  FROM ev WHERE event_type = 'click' GROUP BY user_id
),
p AS (
  SELECT c.user_id, c.first_click_us, MIN(e.us) AS first_purchase_us
  FROM c LEFT JOIN ev e
    ON e.user_id = c.user_id AND e.event_type = 'purchase'
   AND e.us >= c.first_click_us
  GROUP BY c.user_id, c.first_click_us
)
SELECT user_id, first_click_us, first_purchase_us,
       CAST(first_purchase_us IS NOT NULL AS INT) AS converted,
       first_purchase_us - first_click_us AS gap_us
FROM p
"""


@register("events_funnel_user_conversion", oracle=_SQL_FUNNEL)
def events_funnel_user_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase funnel per user: first click, first purchase after it.

    The funnel complement to the as-of join above (which matches EVERY
    purchase to its preceding click): one row per clicking user with the
    conversion flag and latency the funnel report aggregates. Two map-side-
    combined MINs plus one equi-join on ``user_id`` (the ``us >=`` bound
    rides along as a join filter) — no window, no per-event state.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("us").alias("first_click_us"))
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("us").alias("p_us")
    )
    p = (
        c.join(
            pur,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_us") >= F.col("first_click_us")),
            "left",
        )
        .groupBy("user_id", "first_click_us")
        .agg(F.min("p_us").alias("first_purchase_us"))
    )
    return p.select(
        "user_id",
        "first_click_us",
        "first_purchase_us",
        F.col("first_purchase_us").isNotNull().cast("int").alias("converted"),
        (F.col("first_purchase_us") - F.col("first_click_us")).alias("gap_us"),
    )


# --- cohort retention ------------------------------------------------------
COHORT_MAX_OFFSET_HR = 3

_SQL_COHORT = f"""
WITH ev AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 3600000000 AS hr FROM events
),
coh AS (SELECT user_id, MIN(hr) AS cohort_hr FROM ev GROUP BY user_id)
SELECT c.cohort_hr, e.hr - c.cohort_hr AS offset_hr,
       CAST(COUNT(*) AS BIGINT) AS n_active_users
FROM coh c JOIN ev e ON e.user_id = c.user_id
WHERE e.hr - c.cohort_hr BETWEEN 0 AND {COHORT_MAX_OFFSET_HR}
GROUP BY 1, 2
"""


@register("events_hour_cohort_retention", oracle=_SQL_COHORT)
def events_hour_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly cohort retention: users active N hours after their first hour.

    The cohort matrix behind every retention chart: cohort = each user's
    first active hour (integer floor-division of epoch micros, exact in both
    engines), cells = distinct users from that cohort active at offset
    0..COHORT_MAX_OFFSET_HR. The (user, hour) relation is pre-distincted,
    so the final COUNT(*) is a distinct-user count without an expensive
    count-distinct; plan is two hash aggregations and one equi-join on
    ``user_id``.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr("unix_micros(ts) DIV 3600000000").alias("hr"),
        )
        .distinct()
    )
    coh = ev.groupBy("user_id").agg(F.min("hr").alias("cohort_hr"))
    j = coh.join(ev, "user_id").select(
        "cohort_hr", (F.col("hr") - F.col("cohort_hr")).alias("offset_hr")
    )
    return (
        j.filter(F.col("offset_hr").between(0, COHORT_MAX_OFFSET_HR))
        .groupBy("cohort_hr", "offset_hr")
        .agg(F.count("*").alias("n_active_users"))
    )
