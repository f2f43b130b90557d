"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pricing-summary query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every registered operator from
SURVEY.md §2 plus the §7.4 extensions, in the fixed registration order of
``ting_data_etl_spark.registry.load_all``: the §2 spec surface first, so a
budget-limited correctness check that samples a prefix always covers it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ting_data_etl_spark import registry

registry.load_all()

from ting_data_etl_spark.plans.flagship import flagship_pricing_summary  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 + §7.4, in
    registration order (spec surface first)."""
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each oracle-checkable query."""
    return registry.resolve_oracles()
