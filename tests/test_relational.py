"""Tests for relational primitives: top/bottom-k tiebreak, pivot, densify,
and the driver-side ``local_frame``."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ting_data_etl_spark.operators.relational import (
    bottom_k_per_group,
    densify_months,
    local_frame,
    pivot_years,
    set_difference,
    top_k_per_group,
)


def _df(spark):
    rows = [
        ("s1", "a", 3.0),
        ("s1", "b", 3.0),  # tie with a
        ("s1", "c", 1.0),
        ("s1", "d", None),  # NULL must sort last in top-k
        ("s2", "x", 9.0),
    ]
    return spark.createDataFrame(rows, "store string, branch string, v double")


class TestTopK:
    def test_deterministic_tiebreak(self, spark):
        out = top_k_per_group(_df(spark), ["store"], "v", k=2, tiebreak=["branch"])
        got = sorted((r.store, r.branch) for r in out.collect())
        # ties (a, b at 3.0) resolve by branch asc -> a then b; NULL never wins
        assert got == [("s1", "a"), ("s1", "b"), ("s2", "x")]

    def test_null_values_sort_last(self, spark):
        out = top_k_per_group(_df(spark), ["store"], "v", k=4, tiebreak=["branch"])
        s1 = [r.branch for r in out.filter(F.col("store") == "s1").collect()]
        assert s1[-1] == "d"

    def test_bottom_k(self, spark):
        out = bottom_k_per_group(_df(spark), ["store"], "v", k=1, tiebreak=["branch"])
        got = {(r.store, r.branch) for r in out.collect()}
        assert got == {("s1", "c"), ("s2", "x")}


class TestPivotDensify:
    def test_pivot_fills_zero_not_null(self, spark):
        rows = [("s1", 1, "2024", 5.0), ("s1", 1, "2025", 7.0), ("s2", 2, "2025", 1.0)]
        df = spark.createDataFrame(rows, "store string, month int, year string, v double")
        out = pivot_years(df, ["store", "month"], "year", ["2024", "2025"], "v")
        got = {(r.store, r.month): (r["2024"], r["2025"]) for r in out.collect()}
        # s2 has no 2024 row -> 0.0 (reference fill_value=0), never NULL
        assert got[("s2", 2)] == (0.0, 1.0)
        assert got[("s1", 1)] == (5.0, 7.0)

    def test_densify_exactly_12_rows_per_group(self, spark):
        rows = [("s1", 3, 9.0), ("s2", 1, 2.0)]
        df = spark.createDataFrame(rows, "store string, month int, v double")
        out = densify_months(df, ["store"], "month", value_cols=["v"])
        counts = (
            out.groupBy("store").count().rdd.map(lambda r: (r.store, r["count"])).collect()
        )
        assert dict(counts) == {"s1": 12, "s2": 12}
        absent = out.filter((F.col("store") == "s1") & (F.col("month") == 5)).collect()
        assert absent[0].v == 0.0  # zeros, not NULLs


class TestSetDifference:
    def test_anti_join(self, spark):
        left = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
        right = spark.createDataFrame([("b",), ("c",), ("d",)], "k string")
        assert {r.k for r in set_difference(left, right, ["k"]).collect()} == {"a"}


def _logical_plan(df) -> str:
    return df._jdf.queryExecution().logical().toString()


class TestLocalFrame:
    DDL = "name string, n long, share double, flag boolean, day int"
    ROWS = [
        ("a", 1, 0.5, True, 3),
        (None, None, None, None, None),
        ("c", -(2**62), 1e300, False, -7),
    ]

    @pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
    def test_equals_create_data_frame(self, spark, rows):
        got = local_frame(spark, rows, self.DDL)
        want = spark.createDataFrame(rows, self.DDL)
        # types AND nullability, field by field
        assert got.schema == want.schema
        assert [f.nullable for f in got.schema] == [True] * 5
        assert got.collect() == want.collect()

    @pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
    def test_plan_is_local_relation(self, spark, rows):
        assert _logical_plan(local_frame(spark, rows, self.DDL)).startswith(
            "LocalRelation"
        )

    def test_struct_type_schema(self, spark):
        want = spark.createDataFrame([("x",)], "s string")
        got = local_frame(spark, [("x",)], want.schema)
        assert got.schema == want.schema and got.collect() == want.collect()

    def test_densify_spine_is_local_relation(self, spark):
        df = local_frame(spark, [("s1", 2, 5.0)], "store string, month int, v double")
        plan = _logical_plan(densify_months(df, ["store"], value_cols=["v"]))
        assert "LocalRelation" in plan and "LogicalRDD" not in plan


def test_no_python_data_frames_outside_local_frame():
    """Python rows reach Spark only through ``local_frame``: a
    ``createDataFrame``/``parallelize`` call on a Python list plans a
    ``LogicalRDD`` whose first use forks a second Python daemon."""
    pkg = Path(__file__).resolve().parent.parent / "ting_data_etl_spark"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed: set[int] = set()
        for node in ast.walk(tree):
            if (
                path.name == "relational.py"
                and isinstance(node, ast.FunctionDef)
                and node.name == "local_frame"
            ):
                allowed |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("createDataFrame", "parallelize")
                and id(node) not in allowed
            ):
                found.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert not found, found
