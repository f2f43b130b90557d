"""Query registry: every operator registers a (Spark callable, oracle SQL) twin.

``__spark_entry__.py`` exposes these to the driver. Each Spark callable takes
``(spark, sf_dir)`` and returns a DataFrame; the oracle is ANSI SQL DuckDB
runs over the same parquet tables. Registration happens at import time of the
implementing modules (see ``ting_data_etl_spark.plans`` /
``ting_data_etl_spark.operators``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
#: An oracle is the SQL string itself or a zero-arg builder resolved at
#: sweep time (the builder form defers fixture staging / constant reads).
OracleSpec = str | Callable[[], str]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, OracleSpec] = {}


def register(
    name: str, oracle: OracleSpec | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under *name* with an optional SQL oracle.

    *oracle* is either the SQL string or a zero-arg callable returning it —
    the callable form defers side effects (fixture staging, imports of
    later-registering modules) from import time to ``resolve_oracles()``
    time, keeping module import pure and registration order intact.

    Queries without an oracle get the driver's weaker rows-only check — used
    only for genuinely non-SQL-expressible ops (hash families DuckDB lacks,
    stateful streaming).
    """

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def resolve_oracles() -> dict[str, str]:
    """Materialize every oracle to its SQL string (callables invoked here)."""
    out: dict[str, str] = {}
    for name, spec in ORACLES.items():
        out[name] = spec() if callable(spec) else spec
    return out


#: Every module that registers queries, in registration order. The SURVEY
#: §2 spec surface comes first: the flagship, the six reference jobs, the
#: primitives, the sinks and the CSV end-to-end paths (every name prefixed
#: ``flagship``, ``job_``, ``prim_``, ``sink_``, ``e2e_`` or ``csv_``).
MODULES = (
    # --- SURVEY §2 spec surface -------------------------------------------
    "ting_data_etl_spark.plans.flagship",
    "ting_data_etl_spark.plans.jobs",
    "ting_data_etl_spark.plans.primitives",
    "ting_data_etl_spark.operators.verify",
    "ting_data_etl_spark.plans.csv_e2e",
    # --- streaming and event-time families ----------------------------------
    "ting_data_etl_spark.streaming.windows",
    "ting_data_etl_spark.streaming.stateful",
    "ting_data_etl_spark.streaming.joins",
    "ting_data_etl_spark.streaming.batch_windows",
    "ting_data_etl_spark.operators.temporal",
    "ting_data_etl_spark.operators.olap",
    "ting_data_etl_spark.operators.quality",
    # --- I/O round-trips ----------------------------------------------------
    "ting_data_etl_spark.sources.jsonl",
    "ting_data_etl_spark.sources.orc",
    "ting_data_etl_spark.sources.textfile",
    # --- extension families -------------------------------------------------
    "ting_data_etl_spark.operators.sampling",
    "ting_data_etl_spark.operators.similarity",
    "ting_data_etl_spark.operators.ensemble",
    "ting_data_etl_spark.operators.curation",
    "ting_data_etl_spark.operators.incremental",
    "ting_data_etl_spark.operators.cdc",
    "ting_data_etl_spark.operators.skew",
    "ting_data_etl_spark.operators.dedup",
    "ting_data_etl_spark.operators.text_queries",
    "ting_data_etl_spark.operators.pii",
    "ting_data_etl_spark.operators.multimodal",
    "ting_data_etl_spark.operators.bucketed",
    "ting_data_etl_spark.operators.layout",
    "ting_data_etl_spark.operators.maintenance",
)


def load_all() -> None:
    """Import every module in :data:`MODULES` and order ``QUERIES`` by it.

    ORDER IS THE CONTRACT: a budget-limited correctness check takes a
    prefix of ``QUERIES``, so the spec surface must lead it
    (pytest-pinned in ``tests/test_registry.py``). Registration happens at
    import time, and an import can pull in another registering module
    early, or a caller can import a family before calling this. So the
    order comes from the module list, not from import order: queries sort
    by their module's position in :data:`MODULES`, and keep decoration
    order within a module.
    """
    import importlib

    for name in MODULES:
        importlib.import_module(name)
    rank = {name: i for i, name in enumerate(MODULES)}
    ordered = sorted(QUERIES.items(), key=lambda kv: rank[kv[1].__module__])
    QUERIES.clear()
    QUERIES.update(ordered)
