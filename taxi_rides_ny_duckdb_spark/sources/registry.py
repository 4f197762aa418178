"""Source registry — logical table name → path + reader.

Reference analog: dbt ``source()`` declarations
(reference ``models/staging/schema.yml:4-20``) resolve logical names to
physical tables inside a DuckDB file. Here a registry resolves a logical
name to a parquet path under a scale-factor directory and registers it
as a temp view, so both the DataFrame API (``load``) and Spark SQL
(``spark.sql`` after ``register_all``) can address it.

Scans are plain ``spark.read.parquet`` — Catalyst pushes filters and
prunes columns into the parquet reader (verify with
``df.explain('formatted')``: ``PushedFilters`` / ``ReadSchema``). At
100 TB the same call reads a partitioned directory tree; nothing in the
API changes, only the path layout (see plans/core.py for the
partitioned-write side).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..session import per_session

# Driver-generated tables (TESTDATA.md): TPC-H-ish star schema + events
# stream + LLM-pipeline extension tables.
TESTDATA_TABLES: tuple[str, ...] = (
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
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Scans are memoized per session: building one costs a parquet-footer
# read + schema inference (~50-100 ms of py4j + IO) that a session
# running dozens of contract queries should pay once per table.
@per_session
def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one logical table (reference S1 analog).

    ``events.ts`` has shipped in two physical encodings across data
    generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
    reader surfaces as raw int64 nanos under
    ``spark.sql.legacy.parquet.nanosAsLong``) and plain TIMESTAMP /
    TIMESTAMP_NTZ micros. Branch on the schema Spark actually reads:
    only a LongType ``ts`` gets the nanos→micros integer ``div 1000``
    (floor division — double division would round ~1.7e18 nano values
    and shift rows by a microsecond; DuckDB truncates the same way).
    Timestamp-typed columns are already what every downstream operator
    expects and must pass through untouched.
    """
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown source table {name!r}; known: {TESTDATA_TABLES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # Normalize NTZ → session-tz timestamp so window/streaming
            # operators see one type regardless of data generation.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    return df


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Format-generic scan for non-registry paths: parquet, ORC,
    JSON lines, CSV. Text formats (json/csv) REQUIRE an explicit
    schema — schema inference is a full extra pass over the data,
    which at 100 TB means reading everything twice and, for JSON,
    silently widening types from whichever files the sample touched.
    Parquet/ORC carry their schema in footers, so it stays optional."""
    if fmt in ("json", "csv") and schema is None:
        raise ValueError(
            f"{fmt} source requires an explicit schema "
            "(inference = full extra scan at scale)"
        )
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    if fmt == "csv":
        reader = reader.option("header", options.get("header", "true") if options else "true")
    return reader.load(path)


def register_all(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] | None = None
) -> None:
    """Register tables as temp views for the SQL API. Pass ``tables``
    to register a subset — a query touching 3 tables shouldn't pay for
    10. ``load`` is memoized per session, so re-registering costs one
    ``createOrReplaceTempView`` and no footer read."""
    for name in tables or TESTDATA_TABLES:
        if os.path.exists(table_path(sf_dir, name)):
            load(spark, sf_dir, name).createOrReplaceTempView(name)
