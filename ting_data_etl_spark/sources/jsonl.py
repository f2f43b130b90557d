"""JSONL (newline-delimited JSON) source/sink — the lingua franca of
training-data interchange.

No reference-side counterpart (the reference is CSV-only; SURVEY.md §2.1
S-series is extended here): pretraining corpora ship as JSONL shards, so the
engine needs a round-trip that preserves content exactly. The sink is
``df.write.json`` (one shard per partition, schema'd); the source is
``spark.read.json`` with an EXPLICIT schema — schema inference reads the
data twice and can mis-type sparse fields, so production readers always
pin the schema.

The registered query proves the round-trip end-to-end: stage ``documents``
as JSONL shards, read them back, and aggregate a content-sensitive
order-independent checksum per source. The oracle computes the same
aggregate straight from the parquet table — any loss, reorder, or mangling
in the JSON round-trip breaks the hash match.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ting_data_etl_spark.registry import register
from ting_data_etl_spark.sources.tables import load_table

_STAGED_JSONL: dict[str, str] = {}

JSONL_SHARDS = 8


def write_jsonl(df: DataFrame, path: str, shards: int = JSONL_SHARDS) -> None:
    """Write a DataFrame as *shards* JSONL files (one per partition)."""
    df.repartition(shards).write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    """Schema-pinned JSONL read (never infer in production paths)."""
    return spark.read.schema(schema).json(path)


def stage_documents_jsonl(spark: SparkSession, sf_dir: str) -> str:
    """Stage ``documents`` as JSONL once per (process, sf_dir)."""
    if sf_dir not in _STAGED_JSONL:
        out = os.path.join(
            tempfile.gettempdir(),
            "ting_jsonl_stage",
            sf_dir.strip("/").replace("/", "_"),
        )
        write_jsonl(load_table(spark, sf_dir, "documents"), out)
        _STAGED_JSONL[sf_dir] = out
    return _STAGED_JSONL[sf_dir]


from ting_data_etl_spark.functions.text import content_hash as _content_hash
from ting_data_etl_spark.plans.oracles import sql_content_hash as _sql_ch


_SQL_JSONL_PROFILE = f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(SUM({_sql_ch('text')}) AS BIGINT)
         AS content_checksum
FROM documents
GROUP BY source
"""


@register("jsonl_roundtrip_profile", oracle=_SQL_JSONL_PROFILE)
def jsonl_roundtrip_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents → JSONL shards → read back → checksum per source.

    The checksum is an order-independent BIGINT sum of per-doc content
    hashes, so the comparison is insensitive to shard assignment but breaks
    on any dropped/duplicated/mangled document. The oracle computes the
    same directly from parquet — the JSONL writer+reader sit alone inside
    the comparison.
    """
    staged = stage_documents_jsonl(spark, sf_dir)
    schema = load_table(spark, sf_dir, "documents").schema
    back = read_jsonl(spark, staged, schema)
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.sum(_content_hash(F.col("text"))).cast("long").alias("content_checksum"),
    )
