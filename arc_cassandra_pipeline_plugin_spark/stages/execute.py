"""Execute stages: run a statement for side effects; contribute no DataFrame.

Rebuilds ``CassandraExecute`` (``CassandraExecute.scala:86-111``): SQL text
resolved from ``inputURI`` at parse time (``:31-32``), ``${param}`` injection
at execute time (``:93``), statement executed out-of-band (driver → cluster,
bypassing Spark executors, ``:97-102``), returns ``None`` (``:110``) so the
pipeline dataflow is unchanged. Errors propagate with the server's message
intact (``CassandraExecuteSuite.scala:96``).

Two backends:

- :class:`SQLExecute` — ``spark.sql(ddl)`` against the session catalog (the
  parquet-backed rebuild path; SURVEY.md §2A row 11).
- :class:`CassandraExecute` — true-Cassandra parity via the Python
  ``cassandra-driver``, gated behind an import-try (the driver package is not
  in this environment).

``SQLExecute``, ``CassandraExecute`` and ``SQLValidate`` resolve their SQL
through :class:`~.base.SQLStage`.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from arc_cassandra_pipeline_plugin_spark.context import PipelineContext
from arc_cassandra_pipeline_plugin_spark.stages.base import PipelineStage, SQLStage


@dataclass
class SQLExecute(SQLStage):
    """Run DDL/DML on the Spark session catalog; returns no DataFrame."""

    stage_type: str = "SQLExecute"

    def _run(self, spark: SparkSession, ctx: PipelineContext) -> Optional[DataFrame]:
        # force the side effect; DDL returns an empty frame
        spark.sql(self._sql_text(ctx)).collect()
        return None  # execute contributes nothing to the dataflow (":110")


@dataclass
class CassandraExecute(SQLStage):
    """Raw CQL over a driver-side connection (``CassandraExecute.scala:97-102``).
    Connection settings merge stage params over session conf, mirroring the
    ``CassandraConnectorConf.fromSparkConf`` overlay (``:98-101``)."""

    stage_type: str = "CassandraExecute"

    def _run(self, spark: SparkSession, ctx: PipelineContext) -> Optional[DataFrame]:
        text = self._sql_text(ctx)
        try:
            from cassandra.cluster import Cluster  # type: ignore[import-not-found]
        except ImportError as exc:  # pragma: no cover - env-dependent
            raise ImportError(
                "CassandraExecute requires the 'cassandra-driver' package; "
                "use SQLExecute for the catalog-backed path"
            ) from exc
        host = self.params.get(
            "spark.cassandra.connection.host",
            spark.conf.get("spark.cassandra.connection.host", "localhost"),
        )
        port = int(
            self.params.get(
                "spark.cassandra.connection.port",
                spark.conf.get("spark.cassandra.connection.port", "9042"),
            )
        )
        cluster = Cluster([host], port=port)  # pragma: no cover - needs a cluster
        try:
            session = cluster.connect()
            session.execute(text)
        finally:
            cluster.shutdown()
        return None


@dataclass
class SQLValidate(SQLStage):
    """Data-quality gate: run SQL that must return EXACTLY one row whose
    first column is a boolean verdict; optional second column is a message
    (string, or a JSON object logged as structured detail). On a false
    verdict the pipeline fails with the message — the Arc framework's
    SQLValidate contract (public Arc docs), the declarative cousin of the
    operators in operators/quality.py.

    SQL resolves inline or from ``input_uri`` (with optional
    ``authentication``) and takes ``${param}`` injection, like every other
    SQL-bearing stage here."""

    stage_type: str = "SQLValidate"

    def _run(self, spark: SparkSession, ctx: PipelineContext) -> Optional[DataFrame]:
        rows = spark.sql(self._sql_text(ctx)).collect()  # contract: exactly one verdict row
        if len(rows) != 1:
            raise ValueError(
                f"SQLValidate expects exactly 1 row, got {len(rows)}"
            )
        row = rows[0]
        if len(row) == 0 or not isinstance(row[0], bool):
            raise ValueError("SQLValidate expects a boolean first column")
        message = row[1] if len(row) > 1 else None
        if message is not None:
            import json as _json

            try:
                detail = _json.loads(message) if isinstance(message, str) else message
            except ValueError:
                detail = message
            self.stage_detail.set("message", detail)
        if not row[0]:
            raise ValueError(f"SQLValidate failed: {message}")
        return None


@dataclass
class EqualityValidate(PipelineStage):
    """Equality gate between two registered views: fails the pipeline when
    the frames differ as multisets (order-insensitive, duplicate-aware) —
    the Arc framework's EqualityValidate contract (public Arc docs), built
    on the same sha2-hash full-outer diff as testing.dataset_equality
    (reference TestUtils.scala:88-125).

    Scale shape: each side reduces to (row_hash, count) — one groupBy per
    side plus one full-outer join on 64-hex keys; row payloads never
    reshuffle. The mismatch detail records per-side row counts and the
    number of differing hash groups."""

    stage_type: str = "EqualityValidate"
    left_view: str | None = None
    right_view: str | None = None

    def _run(self, spark: SparkSession, ctx: PipelineContext) -> Optional[DataFrame]:
        if not self.left_view or not self.right_view:
            raise ValueError("EqualityValidate requires left_view and right_view")
        from arc_cassandra_pipeline_plugin_spark.testing import dataset_diff

        left = spark.table(self.left_view)
        right = spark.table(self.right_view)
        if set(left.columns) != set(right.columns):
            raise ValueError(
                f"EqualityValidate failed: column sets differ "
                f"({sorted(left.columns)} vs {sorted(right.columns)})"
            )
        diff = dataset_diff(left, right)
        self.stage_detail.set("left_count", diff.left_count)
        self.stage_detail.set("right_count", diff.right_count)
        if not diff.equal:
            raise ValueError(
                f"EqualityValidate failed: {len(diff.left_only)} hash groups only in "
                f"{self.left_view}, {len(diff.right_only)} only in {self.right_view} "
                f"(rows {diff.left_count} vs {diff.right_count})"
            )
        return None
