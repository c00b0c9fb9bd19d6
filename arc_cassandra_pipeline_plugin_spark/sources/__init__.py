"""Source catalog for the fixture corpus + session factory.

The reference infers every schema from the source (connector-driven,
``CassandraExtract.scala:95-98``); likewise here ``spark.read.parquet``
infers from parquet footers. This module centralizes table access so every
query reads through one code path (predicate pushdown and column pruning
then apply uniformly — SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: the driver's deterministic synthetic tables (TESTDATA.md)
TABLES = (
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

#: dimension tables small enough to broadcast at ANY scale factor — region
#: and nation are fixed-cardinality (5 / 25 rows) regardless of SF, so a
#: broadcast hint is always correct. Larger dims (customer/part/supplier)
#: grow with SF: leave those to AQE's size-based broadcast decision.
ALWAYS_BROADCAST = ("region", "nation")


def get_spark(app_name: str = "arc-cassandra-pipeline-plugin-spark") -> SparkSession:
    """Local session tuned per the public PySpark guidance: AQE on, shuffle
    partitions sized to cores (not the 200 default), UTC timezone pinned for
    reproducible timestamps (``CassandraLoadSuite.scala:48-49``), Arrow on
    for the Pandas-UDF paths."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", "/tmp/spark-graft-warehouse")
        .config("spark.ui.enabled", "false")
        # no \r progress-bar redraws on stderr: they interleave with line-
        # oriented tool output (e.g. selfcheck's per-query ``ok`` lines)
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: inferred-schema cache keyed by (path, mtime): ``spark.read.parquet``
#: runs a one-task schema-inference JOB per call (~0.2 s warm, measured),
#: and a bench/oracle session re-reads the same fixture tables hundreds of
#: times. Caching the SCHEMA (metadata only — the role a metastore plays in
#: any production deployment) and supplying it via ``spark.read.schema``
#: skips that job; the data itself is still scanned from parquet on every
#: action. The mtime key re-infers if a fixture is regenerated in place.
_SCHEMA_CACHE: dict = {}


def _path_mtime(path: str) -> float:
    """mtime of the parquet file, or of the directory entry for multi-file
    (directory-shaped) fixtures — directory mtime changes when files are
    added/replaced, which is how fixture regeneration works here."""
    return os.path.getmtime(path)


def raw_schema(spark: SparkSession, path: str, name: str) -> T.StructType:
    """The parquet schema of fixture table ``name`` at ``path``, inferred
    once per (path, mtime) and then served from ``_SCHEMA_CACHE``.

    Sets the session confs every read of the table needs: the session tz
    pinned UTC and, for ``events``, ``nanosAsLong`` (a TIMESTAMP(NANOS)
    ``ts`` is otherwise rejected with PARQUET_TYPE_ILLEGAL). The schema is
    the raw one: ``normalize_ts`` maps ``events.ts`` to one type after the
    read.
    """
    # Defensive: all certified queries assume UTC (CassandraLoadSuite.scala:49
    # parity; the DuckDB oracle is timezone-naive). The driver's session may
    # not pin it, so every table read re-asserts it. Set unconditionally:
    # conf.get(key, default) in Spark 4 VALIDATES the default when the key
    # is unset, so probing with a sentinel raises on a fresh session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # pre-set to avoid a noisy failed first read attempt on executors
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    cache_key = (path, _path_mtime(path))
    schema = _SCHEMA_CACHE.get(cache_key)
    if schema is None:
        try:
            schema = spark.read.parquet(path).schema
        except Exception:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[cache_key] = schema
    return schema


def normalize_ts(df: DataFrame, name: str) -> DataFrame:
    """Map the ``events`` table's ``ts`` to TIMESTAMP (LTZ, session tz
    pinned UTC), so every certified query, batch or streaming, sees one
    type; other tables pass through. ``ts`` has shipped in two physical
    forms across fixture generations:

    - parquet TIMESTAMP(NANOS), read as BIGINT through ``nanosAsLong``:
      truncate to microseconds with integer division (``ts div 1000`` —
      exact on int64), matching DuckDB's ns→µs truncation on read.
    - parquet timestamp[us] without isAdjustedToUTC: Spark 4 infers
      TIMESTAMP_NTZ (``inferTimestampNTZ``); cast to TIMESTAMP — with the
      session tz pinned UTC the wall-clock → instant mapping is the
      identity, which is exactly the timezone-naive DuckDB reading.
    """
    if name != "events":
        return df
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table: its cached ``raw_schema``, then
    ``normalize_ts``."""
    path = table_path(sf_dir, name)
    return normalize_ts(spark.read.schema(raw_schema(spark, path, name)).parquet(path), name)


def register_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Read the given tables (default: all present) and register each as a
    temp view under its own name — the view-based dataflow model
    (``CassandraExtract.scala:123``)."""
    use = names or tuple(n for n in TABLES if os.path.exists(table_path(sf_dir, n)))
    out: dict[str, DataFrame] = {}
    for n in use:
        df = load_table(spark, sf_dir, n)
        df.createOrReplaceTempView(n)
        out[n] = df
    return out
