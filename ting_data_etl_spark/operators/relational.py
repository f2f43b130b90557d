"""Relational building blocks: pivot/densify, per-group top-k, set ops.

These are the SURVEY.md §2.4/2.7/2.8 primitives (A3, A4, O2, O3, U2),
re-expressed as Catalyst-friendly DataFrame compositions:

* pivot is Spark's native ``groupBy().pivot(values=...)`` — supplying the
  value list explicitly avoids the extra distinct-values job;
* densification is a broadcast cross-join of group keys × a tiny literal
  month spine (no shuffle on the spine side); the spine is a JVM
  ``LocalRelation`` built by :func:`local_frame`;
* top/bottom-k is a ``row_number`` window — a single shuffle on the group
  key, with a deterministic tiebreak column REQUIRED (pandas
  ``sort_values().head(5)`` is unstable under ties — reference
  ``aggregate_by_store.py:594, 706`` — we define the contract instead of
  inheriting the instability).

:func:`local_frame` is the one way the package turns Python rows into a
DataFrame.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: str | StructType
) -> DataFrame:
    """A small driver-side table as a JVM ``LocalRelation``.

    *rows* are tuples in *schema*'s column order (a DDL string or a
    ``StructType``); ``None`` cells are NULLs. The rows go to the JVM as
    one Arrow table, so the frame is a ``LocalRelation`` and no Python
    worker ever reads it. ``spark.createDataFrame(rows, ddl)`` instead
    plans a ``LogicalRDD`` over a plain PythonRDD, whose runner environment
    differs from the SQL runners' (no ``SPARK_SIMPLIFIED_TRACEBACK``), so
    the first such frame in a process forks a second ``pyspark.daemon``
    and its own workers (a 12-row frame took 1.4 s that way against 0.44 s
    here, fresh session, 4 vCPUs). The frame's schema, types and
    nullability included, is *schema* as given.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)


def pivot_years(
    df: DataFrame,
    group_cols: Sequence[str],
    pivot_col: str,
    pivot_values: Sequence[str],
    value_col: str,
    agg=None,
    fill_value: float = 0.0,
) -> DataFrame:
    """``pivot_table(index=…, columns=year, aggfunc=sum, fill_value=0)``.

    Mirrors reference ``aggregate_by_store.py:274-283`` (A3). Passing
    ``pivot_values`` explicitly lets Catalyst skip the distinct-scan job and
    keeps output schema static. Missing cells fill with 0 (not NULL) to match
    the reference's ``fill_value=0``.
    """
    agg_expr = agg(value_col) if agg is not None else F.sum(value_col)
    out = df.groupBy(*group_cols).pivot(pivot_col, list(pivot_values)).agg(agg_expr)
    return out.na.fill(fill_value, subset=list(pivot_values))


def densify_months(
    df: DataFrame,
    group_cols: Sequence[str],
    month_col: str = "month",
    value_cols: Sequence[str] = (),
    months: Sequence[int] = tuple(range(1, 13)),
) -> DataFrame:
    """Reindex every group to a full month spine, filling absent months with 0.

    Mirrors reference ``aggregate_by_store.py:286-293`` (A4): each store gets
    exactly ``len(months)`` rows. Implemented as distinct-groups ×
    literal-spine cross join (the spine is a broadcast of a 12-row
    ``LocalRelation`` — no shuffle added beyond the one the distinct
    already needs) left-joined
    back to the data, with ``coalesce(v, 0)`` reproducing zeros-not-NULLs.
    """
    spark = df.sparkSession
    spine = local_frame(spark, [(m,) for m in months], f"{month_col} int")
    groups = df.select(*group_cols).distinct()
    dense = groups.crossJoin(F.broadcast(spine))
    out = dense.join(df, [*group_cols, month_col], "left")
    for v in value_cols:
        out = out.withColumn(v, F.coalesce(F.col(v), F.lit(0.0)))
    return out


def _ranked(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int,
) -> DataFrame:
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 5,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Top-k rows per group by value desc (SURVEY §2.7 O2), deterministic ties.

    One shuffle on the group key; with AQE the per-group sort is local.
    NULL values sort last (they can never displace real values).
    """
    if not tiebreak:
        raise ValueError(
            "tiebreak columns are required: without a total order, ties on "
            "the k-th value select an arbitrary row per shuffle (the pandas "
            "sort_values().head() instability this API exists to prevent)"
        )
    order = [F.col(value_col).desc_nulls_last(), *[F.col(t).asc() for t in tiebreak]]
    return _ranked(df, group_cols, order, k)


def bottom_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 5,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Bottom-k rows per group by value asc (SURVEY §2.7 O3)."""
    if not tiebreak:
        raise ValueError(
            "tiebreak columns are required: without a total order, ties on "
            "the k-th value select an arbitrary row per shuffle (the pandas "
            "sort_values().head() instability this API exists to prevent)"
        )
    order = [F.col(value_col).asc_nulls_last(), *[F.col(t).asc() for t in tiebreak]]
    return _ranked(df, group_cols, order, k)


def set_difference(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """Rows of *left* whose key tuple is absent from *right* (SURVEY §2.8 U2).

    Left-anti join — Catalyst broadcasts the right side when small, the
    common case for inventory checks (reference ``verify_fanout.py:41-46``).
    """
    return left.join(right, list(on), "left_anti")
