"""Relational building blocks: pivot/densify, per-group top-k, set ops.

These are the SURVEY.md §2.4/2.7/2.8 primitives (A3, A4, O2, O3, U2),
re-expressed as Catalyst-friendly DataFrame compositions:

* pivot is Spark's native ``groupBy().pivot(values=...)`` — supplying the
  value list explicitly avoids the extra distinct-values job;
* densification is a broadcast cross-join of group keys × a tiny literal
  month spine (no shuffle on the spine side);
* top/bottom-k is a ``row_number`` window — a single shuffle on the group
  key, with a deterministic tiebreak column REQUIRED (pandas
  ``sort_values().head(5)`` is unstable under ties — reference
  ``aggregate_by_store.py:594, 706`` — we define the contract instead of
  inheriting the instability).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


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
    literal-spine cross join (the spine is a broadcast of 12 literal rows —
    no shuffle added beyond the one the distinct already needs) left-joined
    back to the data, with ``coalesce(v, 0)`` reproducing zeros-not-NULLs.
    """
    spark = df.sparkSession
    spine = spark.createDataFrame([(m,) for m in months], f"{month_col} int")
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
