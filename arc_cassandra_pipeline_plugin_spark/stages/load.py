"""Load stages: named temp view → external sink.

Rebuilds ``CassandraLoad`` (``CassandraLoad.scala:92-164``):

1. resolve input view with ``spark.table`` (``CassandraLoad.scala:96``)
2. instrumentation (``CassandraLoad.scala:98-101``)
3. streaming no-op guard (``CassandraLoad.scala:108-109``) — parity default;
   the :mod:`..streaming` module upgrades this with ``foreachBatch``
4. SaveMode whitelist Append / ErrorIfExists / Ignore / Overwrite with
   Overwrite default (``CassandraLoad.scala:35``); Overwrite on a
   truncating sink requires ``confirm.truncate=true``
   (``CassandraLoadSuite.scala:104``)
5. optional repartition before write (``CassandraLoad.scala:131-151``)

Every sink starts from :meth:`LoadStage._writer`: save mode, ``params``,
and hive-style ``partitionBy`` where the sink offers it.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, DataFrameWriter, Observation, SparkSession
from pyspark.sql import functions as F

from arc_cassandra_pipeline_plugin_spark.context import PipelineContext
from arc_cassandra_pipeline_plugin_spark.errors import DetailException
from arc_cassandra_pipeline_plugin_spark.stages.base import (
    PipelineStage,
    record_frame_metrics,
    repartition,
)
from arc_cassandra_pipeline_plugin_spark.stages.extract import minmax_manifest

#: SaveMode whitelist (CassandraLoad.scala:35); Overwrite is the default.
#: ``DataFrameWriter.mode`` takes these names case-insensitively.
SAVE_MODES = ("Append", "ErrorIfExists", "Ignore", "Overwrite")


@dataclass
class LoadStage(PipelineStage):
    """Common load behavior; subclasses implement :meth:`_write`."""

    input_view: str = ""
    save_mode: str = "Overwrite"
    num_partitions: int | None = None
    partition_by: list[str] = field(default_factory=list)

    #: sinks that destroy existing data on Overwrite gate it behind the
    #: ``confirm.truncate`` param (CassandraLoadSuite.scala:104)
    requires_truncate_confirmation: bool = False

    def __post_init__(self) -> None:
        if self.save_mode not in SAVE_MODES:
            raise ValueError(
                f"invalid saveMode '{self.save_mode}'; expected one of {list(SAVE_MODES)}"
            )

    def _write(self, df: DataFrame, spark: SparkSession, ctx: PipelineContext) -> None:
        raise NotImplementedError

    def _writer(self, df: DataFrame, partition_output: bool = False) -> DataFrameWriter:
        """``df``'s writer with the save mode and the ``params`` passthrough;
        ``partitionBy`` on ``partition_by`` when ``partition_output`` is set.
        ``confirm.truncate`` is this stage's own gate, never a sink option."""
        opts = {k: v for k, v in self.params.items() if k != "confirm.truncate"}
        writer = df.write.mode(self.save_mode).options(**opts)
        if partition_output and self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        return writer

    def _run(self, spark: SparkSession, ctx: PipelineContext) -> Optional[DataFrame]:
        df = spark.table(self.input_view)  # view resolution (CassandraLoad.scala:96)
        record_frame_metrics(self.stage_detail, df)

        if df.isStreaming:
            # Parity: streaming input view → skip the write entirely
            # (CassandraLoad.scala:108-109). streaming.StreamingLoad upgrades.
            self.stage_detail.set("streamingSkipped", True)
            return df
        # the reference's write-side partition count (CassandraLoad.scala:100)
        self.stage_detail.set("numPartitions", df.rdd.getNumPartitions())

        if (
            self.save_mode == "Overwrite"
            and self.requires_truncate_confirmation
            and str(self.params.get("confirm.truncate", "false")).lower() != "true"
        ):
            raise DetailException(
                "You are attempting to use SaveMode.Overwrite on an existing table "
                "without setting the confirm.truncate parameter to true.",
                self.stage_detail.as_dict(),
            )

        # Write-completion metrics without a second pass: Observation rides
        # the write job itself — the PySpark-idiomatic equivalent of the
        # reference's stage-completed Spark listener (CassandraLoad.scala:
        # 105,161 via ListenerUtils).
        obs = Observation()
        out = repartition(df, self.num_partitions, self.partition_by or None)
        self._write(out.observe(obs, F.count(F.lit(1)).alias("records")), spark, ctx)
        try:
            self.stage_detail.set("records", obs.get["records"])
        except Exception:
            pass
        return df


@dataclass
class ParquetLoad(LoadStage):
    """Parquet sink. ``partition_by`` doubles as hive-style partition columns
    when ``partition_output=True`` — at 100 TB the on-disk partitioning *is*
    the downstream partition-pruning strategy.

    **Write-time skipping index** (``skipIndexColumn`` +
    ``skipManifestURI``): after the write, a per-file min/max manifest over
    the index column is built from the landed files and persisted — the
    other half of the lakehouse data-skipping loop (ParquetExtract consults
    the same manifest via its ``skipManifestURI`` and never rebuilds it at
    read time). Pair with ``sortWithinPartitions``/``repartitionByRange``
    upstream (or ``skipSortOutput=True`` here) so file ranges are disjoint
    and pruning has teeth. Honest cost: the manifest build RE-READS the
    landed output's index column (one full single-column scan of what was
    just written, aggregated to O(files) rows) — column-pruned and far
    cheaper than the write, but not free; at very large outputs prefer a
    table format that records per-file stats at write time.
    ``skipSortOutput`` without ``numPartitions`` derives the range-
    partition count from ``spark.sql.shuffle.partitions`` (never from an
    RDD conversion of the frame)."""

    stage_type: str = "ParquetLoad"
    output_uri: str = ""
    partition_output: bool = False
    skip_index_col: str = ""
    skip_manifest_uri: str = ""
    #: range-partition the output on the index column before writing, so
    #: per-file min/max ranges are disjoint and downstream skipping prunes
    skip_sort_output: bool = False

    def _write(self, df: DataFrame, spark: SparkSession, ctx: PipelineContext) -> None:
        if self.skip_sort_output and self.skip_index_col:
            # default partition count from the session's shuffle setting —
            # reading the frame's own partition count would force an RDD
            # conversion of the plan just to read a number
            n = self.num_partitions or int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
            df = df.repartitionByRange(n, self.skip_index_col)
        self._writer(df, self.partition_output).parquet(self.output_uri)
        if self.skip_index_col and self.skip_manifest_uri:
            manifest = minmax_manifest(spark.read.parquet(self.output_uri), self.skip_index_col)
            manifest.write.mode("overwrite").parquet(self.skip_manifest_uri)
            self.stage_detail.set(
                "skipIndexFilesIndexed", spark.read.parquet(self.skip_manifest_uri).count()
            )


@dataclass
class XMLLoad(LoadStage):
    """XML sink via Spark 4's native xml source (one ``rowTag`` element
    per row under a ``rootTag`` document element)."""

    stage_type: str = "XMLLoad"
    output_uri: str = ""
    row_tag: str = "row"
    root_tag: str = "rows"
    partition_output: bool = False

    def _write(self, df: DataFrame, spark: SparkSession, ctx: PipelineContext) -> None:
        # the params passthrough keeps precedence over the tag options
        tags = {"rowTag": self.row_tag, "rootTag": self.root_tag}
        writer = self._writer(df, self.partition_output).format("xml")
        writer.options(**{**tags, **self.params}).save(self.output_uri)


@dataclass
class ORCLoad(LoadStage):
    """ORC sink."""

    stage_type: str = "ORCLoad"
    output_uri: str = ""
    partition_output: bool = False

    def _write(self, df: DataFrame, spark: SparkSession, ctx: PipelineContext) -> None:
        self._writer(df, self.partition_output).orc(self.output_uri)


@dataclass
class DelimitedLoad(LoadStage):
    """CSV sink (header on by default, mirroring DelimitedExtract)."""

    stage_type: str = "DelimitedLoad"
    output_uri: str = ""
    header: bool = True

    def _write(self, df: DataFrame, spark: SparkSession, ctx: PipelineContext) -> None:
        # the params passthrough keeps precedence over ``header``
        self._writer(df).options(**{"header": self.header, **self.params}).csv(self.output_uri)


@dataclass
class TableLoad(LoadStage):
    """Managed-catalog table sink with optional **bucketing** — the
    co-located-join strategy at scale: two tables bucketed on the same key
    with the same bucket count join with NO shuffle on either side (verified
    in tests/test_scale.py). ``bucket_by`` requires ``num_buckets``;
    ``sort_by`` additionally sorts within buckets for sort-merge locality."""

    stage_type: str = "TableLoad"
    table: str = ""
    bucket_by: list[str] = field(default_factory=list)
    num_buckets: int | None = None
    sort_by: list[str] = field(default_factory=list)

    def _write(self, df: DataFrame, spark: SparkSession, ctx: PipelineContext) -> None:
        writer = self._writer(df)
        if self.bucket_by:
            if not self.num_buckets:
                raise ValueError("bucket_by requires num_buckets")
            writer = writer.bucketBy(self.num_buckets, *self.bucket_by)
            if self.sort_by:
                writer = writer.sortBy(*self.sort_by)
        writer.format("parquet").saveAsTable(self.table)


@dataclass
class CassandraLoad(LoadStage):
    """Cassandra table write (``CassandraLoad.scala:110-153``): the connector
    format string with keyspace/table options and the params passthrough
    (``CassandraLoad.scala:116-117``). Cassandra truncates on Overwrite, so
    the ``confirm.truncate`` gate is mandatory here."""

    stage_type: str = "CassandraLoad"
    table: str = ""
    keyspace: str = ""
    requires_truncate_confirmation: bool = True

    def _write(self, df: DataFrame, spark: SparkSession, ctx: PipelineContext) -> None:
        writer = self._writer(df).options(table=self.table, keyspace=self.keyspace)
        writer.format("org.apache.spark.sql.cassandra").save()
