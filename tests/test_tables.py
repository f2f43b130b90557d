"""Testdata-schema canary + per-encoding loader tests.

Round-4 post-mortem: a driver testdata regeneration silently flipped
``events.ts`` from TIMESTAMP(NANOS) to timestamp[us] and a hardcoded ns→µs
shim failed 12 driver queries, the bench, and 25 tests with one cryptic
DATATYPE_MISMATCH each. These tests make the next flip fail with ONE clear
message: the canary pins the dtypes the engine assumes per table, and the
per-encoding tests prove ``load_table`` normalizes every physical encoding
of ``events.ts`` the generator has ever produced.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from ting_data_etl_spark.sources.tables import TABLES, footer_schema, load_table

# Dtype contract per table: column -> type-check predicate. Only the columns
# the engine's operators actually depend on are pinned.
_EXPECTED = {
    "events": {
        "ts": lambda t: isinstance(t, T.TimestampType),
        "user_id": lambda t: isinstance(t, T.LongType),
        "event_type": lambda t: isinstance(t, T.StringType),
        "value": lambda t: isinstance(t, (T.DoubleType, T.FloatType)),
        "props": lambda t: isinstance(t, T.StringType),
    },
    "documents": {
        "doc_id": lambda t: isinstance(t, (T.LongType, T.IntegerType, T.StringType)),
        "text": lambda t: isinstance(t, T.StringType),
    },
    "embeddings": {
        "embedding": lambda t: isinstance(t, T.ArrayType)
        and isinstance(t.elementType, (T.FloatType, T.DoubleType)),
    },
    "orders": {
        "o_orderkey": lambda t: isinstance(t, (T.LongType, T.IntegerType)),
        "o_totalprice": lambda t: isinstance(t, (T.DoubleType, T.DecimalType)),
    },
    "lineitem": {
        "l_quantity": lambda t: isinstance(t, (T.DoubleType, T.DecimalType)),
        "l_extendedprice": lambda t: isinstance(t, (T.DoubleType, T.DecimalType)),
    },
}


def test_all_tables_load_and_dtype_canary(spark, sf_dir):
    """One row from every table; assert the dtypes the engine assumes."""
    problems = []
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        assert df.limit(1).count() >= 0  # scan actually runs
        fields = {f.name: f.dataType for f in df.schema.fields}
        for col, ok in _EXPECTED.get(name, {}).items():
            if col not in fields:
                problems.append(f"{name}.{col}: MISSING (have {sorted(fields)})")
            elif not ok(fields[col]):
                problems.append(f"{name}.{col}: unexpected dtype {fields[col]}")
    assert not problems, (
        "testdata schema drift — fix ting_data_etl_spark/sources/tables.py "
        "normalization or update operator assumptions:\n  " + "\n  ".join(problems)
    )


def test_footer_schema_matches_spark_inference(spark, sf_dir, tmp_path):
    """``load_table`` types a table from its parquet footer instead of
    letting Spark infer it: the two must agree for every table it serves
    that way, and for a perfbench-shaped naive ``timestamp[us]`` column
    (``TIMESTAMP_NTZ`` under Spark's inference)."""
    import os

    ts = tmp_path / "ts_us.parquet"
    pq.write_table(
        pa.table({"ts": pa.array(_TS, type=pa.timestamp("us")), "k": [1, 2]}),
        str(ts),
    )
    paths = [os.path.join(sf_dir, f"{t}.parquet") for t in TABLES if t != "events"]
    for path in [*paths, str(ts)]:
        assert footer_schema(path) == spark.read.parquet(path).schema, path
    assert isinstance(footer_schema(str(ts))["ts"].dataType, T.TimestampNTZType)


def test_load_table_starts_no_job(spark, sf_dir, count_jobs):
    """Loading a table reads its footer on the driver: no Spark job."""
    tables = [t for t in TABLES if t != "events"]
    n = count_jobs(lambda: [load_table(spark, sf_dir, t).schema for t in tables])
    assert n == 0, n


_ROWS = {
    "event_id": [1, 2],
    "user_id": [10, 11],
    "event_type": ["click", "purchase"],
    "value": [1.5, 2.5],
    "props": ["{}", "{}"],
}
_TS = [
    dt.datetime(2024, 1, 1, 0, 0, 0, 123456),
    dt.datetime(2024, 1, 1, 0, 5, 0, 654321),
]


def _write_events(tmp_path, ts_array, fname):
    cols = {"event_id": _ROWS["event_id"], "ts": ts_array, **{k: v for k, v in _ROWS.items() if k != "event_id"}}
    table = pa.table(cols)
    path = str(tmp_path / fname)
    pq.write_table(table, path)
    return path


@pytest.mark.parametrize(
    "encoding",
    ["us_naive", "us_utc", "ms_naive", "ns", "int64_nanos"],
)
def test_load_events_normalizes_every_encoding(spark, tmp_path, encoding):
    """load_table('events') must yield TimestampType ts for every physical
    encoding the generator has shipped — a forced dtype flip fails HERE with
    one clear message, not 25 cascading DATATYPE_MISMATCH errors."""
    if encoding == "us_naive":
        ts = pa.array(_TS, type=pa.timestamp("us"))
    elif encoding == "us_utc":
        ts = pa.array(_TS, type=pa.timestamp("us", tz="UTC"))
    elif encoding == "ms_naive":
        ts = pa.array(_TS, type=pa.timestamp("ms"))
    elif encoding == "ns":
        ts = pa.array(_TS, type=pa.timestamp("ns"))
    else:  # raw int64 epoch-nanos
        ts = pa.array(
            [int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) * 1000 for t in _TS],
            type=pa.int64(),
        )

    path = _write_events(tmp_path, ts, f"events_{encoding}.parquet")
    import os

    # load_table joins sf_dir + "events.parquet": symlink the file in.
    sf_dir = tmp_path / f"sf_{encoding}"
    sf_dir.mkdir()
    os.symlink(path, sf_dir / "events.parquet")

    df = load_table(spark, str(sf_dir), "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType), (
        f"{encoding}: ts normalized to {df.schema['ts'].dataType}, want TimestampType"
    )
    got = sorted(r["ts"] for r in df.select("ts").collect())
    expect = _TS if encoding != "ms_naive" else [t.replace(microsecond=t.microsecond // 1000 * 1000) for t in _TS]
    assert got == expect, f"{encoding}: values drifted: {got} != {expect}"


DATE_TOUCHING_QUERIES = [
    "flagship_pricing_summary",
    "job_23_1_annual_kpi",
    "job_23_2_monthly_yoy",
    "job_25_1_top5_branches",
    "cdc_scd2_history",
    "olap_rollup_priority_year",
    "prim_parse_month",
    "prim_filter_predicates",
]


def test_date_queries_survive_date32_regeneration(spark, sf_dir, tmp_path):
    """Round-4 lesson generalized: a testdata regeneration flipped events.ts
    physical encoding and zeroed 12 queries. The orders/lineitem date
    columns could flip the same way (timestamp[us] -> date32); every
    date-touching operator must keep working because it only uses
    encoding-agnostic functions (year/to_date/date_format), never raw
    timestamp arithmetic on those columns."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod
    from ting_data_etl_spark.sources.tables import TABLES

    flipped = tmp_path / "sf_date32"
    flipped.mkdir()
    for t in TABLES:
        tbl = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        date_cols = {
            "orders": ["o_orderdate"],
            "lineitem": ["l_shipdate", "l_commitdate", "l_receiptdate"],
        }.get(t, [])
        for c in date_cols:
            if c in tbl.schema.names:
                i = tbl.schema.get_field_index(c)
                tbl = tbl.set_column(i, c, tbl.column(i).cast(pa.date32()))
        pq.write_table(tbl, str(flipped / f"{t}.parquet"))

    qs = entrymod.queries()
    for name in DATE_TOUCHING_QUERIES:
        rows = qs[name](spark, str(flipped)).limit(1).collect()
        assert rows is not None, name
    shutil.rmtree(flipped, ignore_errors=True)
