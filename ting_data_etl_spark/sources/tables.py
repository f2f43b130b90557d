"""Parquet table loaders for the driver's TPC-H-ish testdata.

``load_table(spark, sf_dir, name)`` is a thin wrapper over
``spark.read.parquet`` — kept thin ON PURPOSE so Catalyst sees the raw scan
and can push filters / prune columns into the parquet reader (check for
``PushedFilters`` / narrowed ``ReadSchema`` in ``.explain``).

The schema comes from the file's parquet footer, read on the driver, so
loading a table starts no Spark job; left to infer it, Spark runs one
schema-inference job per ``spark.read.parquet`` call.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame (lazy parquet scan).

    ``events`` goes through :func:`normalize_events_ts` because the driver's
    generator has shipped ``ts`` under several physical encodings across
    testdata regenerations (TIMESTAMP(NANOS), int64 nanos, timestamp[us]).
    The loader sniffs the dtype Spark actually infers and normalizes to a
    microsecond ``TimestampType`` in the UTC session zone, so every
    downstream event-time operator sees one stable type regardless of how
    the parquet was written.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events(spark, path)
    if not os.path.isfile(path):  # a directory or a remote URI: let Spark infer
        return spark.read.parquet(path)
    return spark.read.schema(footer_schema(path)).parquet(path)


def footer_schema(path: str) -> T.StructType:
    """The Spark schema of one parquet file, read from its footer.

    ``prefer_timestamp_ntz`` maps a timestamp without UTC adjustment to
    ``TIMESTAMP_NTZ``, as Spark's own inference does; without it
    ``orders``/``lineitem`` timestamps would come back as ``TIMESTAMP``.
    ``tests/test_tables.py`` pins this to ``spark.read.parquet(path).schema``.
    """
    return from_arrow_schema(pq.read_schema(path), prefer_timestamp_ntz=True)


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Read the events table and normalize ``ts`` to TimestampType.

    Handles every physical encoding the testdata generator has produced:

    * ``timestamp[us]``/``[ms]`` without UTC adjustment — Spark infers
      TIMESTAMP_NTZ; cast to TimestampType (lossless: session tz is UTC).
    * ``timestamp[us]`` UTC-adjusted — already TimestampType; pass through.
    * ``TIMESTAMP(NANOS)`` — Spark's parquet reader rejects the footer
      outright; retry with ``nanosAsLong`` and convert ns → µs.
    * raw ``int64`` nanos — reads as LongType; convert ns → µs.

    The ns→µs truncation matches DuckDB's own nanosecond read behavior, so
    oracle comparisons stay exact.
    """
    from pyspark.sql import functions as F

    try:
        e = spark.read.parquet(path)
    except Exception as ex:
        # TIMESTAMP(NANOS) footer: schema inference itself throws
        # ("Illegal Parquet type: INT64 (TIMESTAMP(NANOS,...))" /
        # PARQUET_TYPE_ILLEGAL, pointing at the nanosAsLong escape hatch).
        # Only THAT encoding gets the legacy retry — any other failure
        # (missing file, corrupt footer) re-raises untouched instead of
        # being masked behind a confusing second error.
        msg = str(ex)
        if "NANOS" not in msg and "nanosAsLong" not in msg:
            raise
        # The flag must stay set for the session on success: Spark re-reads
        # it at query-planning time (not here), so restoring it before the
        # lazy DataFrame executes would re-break the scan. It is inert for
        # every non-nanos parquet file. Restore only if the retry ALSO
        # fails, so an unrelated failure doesn't leave the session flipped.
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            e = spark.read.parquet(path)
        except Exception:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
            raise

    dt = e.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return e.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return e.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    if isinstance(dt, T.TimestampType):
        return e
    raise TypeError(
        f"events.ts read as unsupported type {dt}; expected timestamp or int64 nanos"
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table keyed by name."""
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition a low-parallelism relation to the session
    default parallelism, for use IMMEDIATELY BEFORE heavy narrow work.

    Optimization-guide §2.5 (input skew): a parquet file is splittable
    only at row-group boundaries, so a small or single-row-group input
    pins the whole scan stage — and every narrow transform chained onto
    it (per-row hashing, explodes, Arrow/pandas stages) — onto ONE task
    no matter how many cores the session has. The r15 bench measured
    exactly this at sf0.1: every testdata table is one single-row-group
    file, so e.g. the winnowing char-gram explode and the PNG codec
    passes ran 1-of-32 cores. This helper pays one exchange of the
    (projected — callers must project first, guide §2.3) input rows to
    spread the downstream compute.

    Scale behaviour: when the scan already has >= default-parallelism
    partitions (any real multi-file/multi-row-group table at cluster
    scale), this is a NO-OP returning *df* unchanged — the exchange only
    exists where the input's physical layout starves the stage. The
    check reads the planned partition count (file listing + split
    arithmetic, no job). Not config: the need follows from the input
    layout, not the deployment.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def fan_out_by(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition on *cols*, pinned to the shuffle-partition conf,
    for relations whose downstream derivation (explode + window /
    join-back) needs a *cols* exchange ANYWAY but would place it after
    the derivation multiplies the rows.

    Unlike :func:`fan_out` this is unconditional — it is not a local-
    layout fix but a byte-count win at every scale (guide §2.3): the
    exchange moves the compact pre-derivation rows instead of the
    derived per-token/per-gram rows, and downstream operators keyed on
    *cols* reuse the partitioning instead of exchanging again (§2.4).
    The count is pinned to the shuffle-partition conf — exactly what the
    displaced downstream exchange would have used — so AQE cannot
    coalesce the (small) pre-derivation bytes back onto too few tasks;
    the spread exists for the sake of the post-derivation compute, whose
    size AQE cannot estimate from the input.
    """
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)
