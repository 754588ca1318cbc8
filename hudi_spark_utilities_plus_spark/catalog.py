"""Lake-table catalog over the driver-generated parquet testdata.

Tables (TESTDATA.md): TPC-H-ish star schema + ``events`` stream table +
LLM-pipeline fixtures ``documents`` / ``embeddings``. At 100 TB these are
hive-partitioned lake tables; here they are single parquet files, read
through the same declarative scan so Catalyst pushdown applies either way.

``spark.read.parquet(path)`` runs one Spark job per call to infer the
schema from the footer. ``load_table`` already reads that footer on the
driver (for TIMESTAMP(NANOS) columns), so it also builds from it a key of
everything the inference reads: the absolute path, the parquet schema,
the footer key-value metadata and the session confs of Spark's parquet
schema conversion. The first load of a key infers and stores the schema;
later loads pass it to ``spark.read.schema``, which starts no job. A file
rewritten with another schema, or a changed conf, is a new key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


# Session confs read by Spark's parquet-to-Spark schema conversion.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

# Inferred schema per footer key (see the module note). Bounded: cleared
# at _SCHEMA_MEMO_MAX entries.
_SCHEMA_MEMO: dict[tuple, StructType] = {}
_SCHEMA_MEMO_MAX = 256


def _read_footer(path: str) -> tuple[list[str], tuple | None]:
    """One driver-side footer read of a single parquet file: the columns
    stored as TIMESTAMP(NANOS), which Spark's vectorized reader rejects
    (PARQUET_TYPE_ILLEGAL), and the file part of the schema memo key.
    ``([], None)`` when ``path`` is not a readable single file."""
    if not os.path.isfile(path):
        return [], None
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return [], None
    try:
        with pq.ParquetFile(path) as pf:
            nanos = [
                f.name
                for f in pf.schema_arrow
                if str(f.type).startswith("timestamp[ns")
            ]
            # the first line of str(ParquetSchema) is the object's address
            text = str(pf.schema).split("\n", 1)[1]
            kv = tuple(sorted((pf.metadata.metadata or {}).items()))
    except (OSError, ValueError):  # unreadable, or not parquet
        return [], None
    return nanos, (os.path.abspath(path), text, kv)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    nanos, footer = _read_footer(path)
    if nanos:
        # Read nanos as raw int64 then truncate to micros (integer `div`,
        # no double round-trip — 2024 epoch-nanos exceed double precision),
        # matching DuckDB's nanos→micros truncation.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = None
    if footer is not None:
        key = footer + tuple(spark.conf.get(c) for c in _SCHEMA_CONFS)
    schema = _SCHEMA_MEMO.get(key)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            if len(_SCHEMA_MEMO) >= _SCHEMA_MEMO_MAX:
                _SCHEMA_MEMO.clear()
            _SCHEMA_MEMO[key] = df.schema
    for c in nanos:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: list[str] | None = None,
    register: bool = True,
) -> dict[str, DataFrame]:
    """Load tables as DataFrames; optionally register temp views so the
    SQL-transform hook (operators.transform) can reference them."""
    out: dict[str, DataFrame] = {}
    for name in names or TABLES:
        df = load_table(spark, sf_dir, name)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
