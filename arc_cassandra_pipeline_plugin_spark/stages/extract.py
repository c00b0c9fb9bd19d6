"""Extract stages: external source → DataFrame → named temp view.

Rebuilds ``CassandraExtract`` (``CassandraExtract.scala:86-138``) with the
source format generalized: ``parquet`` / ``delimited`` (CSV) / ``json`` for
the fixture corpus, and a ``cassandra`` format gated behind the connector
package for true parity deployments. Stage semantics are identical across
formats:

1. streaming guard → empty DataFrame (``CassandraExtract.scala:92-94``)
2. source read, schema inferred by the source (``CassandraExtract.scala:95-98``)
3. optional repartition matrix (``CassandraExtract.scala:107-122``)
4. view registration honoring immutable mode (``CassandraExtract.scala:123``)
5. instrumentation + optional persist with forced materialization
   (``CassandraExtract.scala:126-133``)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from arc_cassandra_pipeline_plugin_spark.context import PipelineContext
from arc_cassandra_pipeline_plugin_spark.functions import small_df
from arc_cassandra_pipeline_plugin_spark.stages.base import (
    PipelineStage,
    record_frame_metrics,
    register_view,
    repartition,
)


@dataclass
class ExtractStage(PipelineStage):
    """Common extract behavior; subclasses implement :meth:`_read`."""

    output_view: str = ""
    num_partitions: int | None = None
    partition_by: list[str] = field(default_factory=list)
    persist: bool = False
    schema: T.StructType | str | None = None

    def _read(self, spark: SparkSession, ctx: PipelineContext) -> DataFrame:
        raise NotImplementedError

    def _empty_schema(self) -> T.StructType:
        """Schema of the streaming-guard empty frame. The reference returns a
        completely empty DataFrame (``spark.emptyDataFrame``,
        ``CassandraExtract.scala:93``)."""
        if isinstance(self.schema, T.StructType):
            return self.schema
        return T.StructType([])

    def _run(self, spark: SparkSession, ctx: PipelineContext) -> Optional[DataFrame]:
        if ctx.is_streaming:
            # Streaming guard: extract is explicitly not supported under a
            # streaming context (CassandraExtract.scala:92-94).
            df = small_df(spark, [], self._empty_schema())
        else:
            df = self._read(spark, ctx)

        df = repartition(df, self.num_partitions, self.partition_by or None)
        register_view(df, self.output_view, ctx)
        if self.persist and not df.isStreaming:
            # persist FIRST so the metrics count below materializes the cache
            # (CassandraExtract.scala:130-133: persist, then forced count) —
            # otherwise the count pays a full uncached pass and the first
            # downstream consumer recomputes the source.
            df.persist(ctx.storage_level)
        record_frame_metrics(self.stage_detail, df, count=self.persist)
        return df


@dataclass
class ParquetExtract(ExtractStage):
    """``spark.read.parquet`` source. Filters/projections a downstream query
    applies reach the scan via Catalyst pushdown (no stage code needed —
    SURVEY.md §4).

    **File-skipping index** (``skipIndexColumn`` + ``skipMin``/``skipMax``,
    optionally ``skipManifestURI``): before the scan, a per-file min/max
    manifest over the index column is consulted and only files whose
    [min, max] range intersects the requested bounds are read — the
    lakehouse data-skipping pattern (Delta/Iceberg file stats), exposed on
    the extract side, the reference's only physical-knob surface
    (``CassandraExtract.scala:107-122``). The manifest is built once from
    the hidden ``_metadata.file_path`` column (one aggregate keyed by
    file) and, when ``skipManifestURI`` is set, persisted there and
    reused — subsequent runs prune from the manifest alone, touching no
    skipped data file. A persisted manifest is validated against the LIVE
    file listing first (O(files) name comparison, no data read): files
    appended after the manifest was built, or compacted away since, make
    it stale — a stale manifest is rebuilt in place, never trusted
    (silently excluding appended files would break the "results are
    exactly the full scan's" guarantee; pruning to removed files would
    crash the read). The driver-side file list is O(files), never rows,
    and is refused above ``maxManifestFiles`` (default 100k) — a table
    with millions of files needs a real table format's manifest tree, and
    failing loudly beats OOMing the driver. Both the manifest build and
    the pruned read set ``basePath``, so hive-style partition columns
    survive file-level pruning. The range predicate is re-applied to the
    surviving rows, so results are exactly the full scan's (skipping is a
    pure optimization).
    Metrics: ``skipIndexFilesTotal`` / ``skipIndexFilesRead``.
    """

    stage_type: str = "ParquetExtract"
    input_uri: str = ""
    skip_index_col: str = ""
    skip_min: object = None
    skip_max: object = None
    skip_manifest_uri: str = ""
    max_manifest_files: int = 100_000
    #: Bloom-filter file index for EQUALITY probes — the complement of the
    #: min/max index (which cannot prune high-cardinality uniform columns):
    #: per file, the set of md5-derived bit positions of its values; a probe
    #: keeps only files whose set contains ALL the probe value's positions.
    #: False positives read an extra file; false negatives are impossible.
    skip_bloom_col: str = ""
    skip_bloom_value: object = None
    skip_bloom_manifest_uri: str = ""

    def _list_data_files(self, spark: SparkSession) -> set:
        """Live recursive listing of the layout's data files as normalized
        (scheme-less) paths — pure filesystem metadata, O(files); no
        parquet footer or data row is ever touched."""
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self.input_uri)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        it = fs.listFiles(fs.makeQualified(path), True)
        out = set()
        while it.hasNext():
            f = it.next()
            name = f.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue  # _SUCCESS, hidden/CRC side files
            out.add(f.getPath().toUri().getPath())
        return out

    @staticmethod
    def _norm_path(uri: str) -> str:
        # _metadata.file_path is a percent-encoded URI (a hive partition
        # value with a space becomes %20); the live listing is a decoded
        # scheme-less filesystem path — this normalization is ONLY for the
        # staleness set-comparison, never for the read itself
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(uri).path or uri)

    @staticmethod
    def _read_path(uri: str) -> str:
        # for the pruned read: percent-decode ONLY the path component while
        # PRESERVING scheme + authority. Stripping them (the pre-r7 bug)
        # made s3a://bucket/... and hdfs://nn:8020/... entries resolve
        # against the default filesystem and escape basePath
        from urllib.parse import unquote, urlparse, urlunparse

        p = urlparse(uri)
        if not p.scheme:
            return unquote(uri)
        return urlunparse((p.scheme, p.netloc, unquote(p.path), "", "", ""))

    def _qualified_base(self, spark: SparkSession) -> str:
        """``input_uri`` qualified through its own filesystem (adds the
        scheme/authority a bare path lacks), so ``basePath`` sits over the
        pruned file URIs on any FS, not just the default one."""
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self.input_uri)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        return fs.makeQualified(path).toString()

    def _read(self, spark: SparkSession, ctx: PipelineContext) -> DataFrame:
        reader = spark.read.options(**self.params)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        if self.skip_index_col and (self.skip_min is not None or self.skip_max is not None):
            return self._skipping_read(spark, reader)
        if self.skip_bloom_col and self.skip_bloom_value is not None:
            return self._bloom_skipping_read(spark, reader)
        return reader.parquet(self.input_uri)

    #: bloom geometry: 4096 bits x 5 hashes holds the false-positive rate
    #: under ~1% to ~400 distinct values per file; saturated files simply
    #: stop pruning (never lose rows)
    _BLOOM_BITS = 4096
    _BLOOM_K = 5

    def _bloom_positions_probe(self, spark: SparkSession, dtype) -> list[int]:
        """The probe value's bit positions, computed ENGINE-side: the same
        :meth:`_bloom_pos_cols` expression the index was built with is
        evaluated on a one-row frame holding the probe value cast to the
        column's actual type. This guarantees the probe hashes the exact
        string rendering Spark's ``CAST(col AS STRING)`` produced at index
        time — a Python ``f"{value}"`` rendering differs for double
        (``0.0001`` vs ``1.0E-4``), boolean (``True`` vs ``true``) and
        date/timestamp values, which would prune files containing real
        matches (silent row loss). One-row local job, O(1)."""
        from pyspark.sql import functions as F

        row = (
            spark.range(1)
            .select(F.lit(self.skip_bloom_value).cast(dtype).alias("_probe"))
            .select(F.array(*self._bloom_pos_cols("_probe")).alias("pos"))
            .collect()[0]
        )
        return list(row["pos"])

    @classmethod
    def _bloom_pos_cols(cls, col_name: str) -> list:
        from pyspark.sql import functions as F

        return [
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{k}:"), F.col(col_name).cast("string"))),
                        1, 8,
                    ),
                    16, 10,
                ).cast("long")
                % cls._BLOOM_BITS
            ).cast("int")
            for k in range(cls._BLOOM_K)
        ]

    def _bloom_skipping_read(self, spark: SparkSession, reader) -> DataFrame:
        """Equality-probe file skipping via a per-file Bloom index: the
        manifest holds each file's SORTED set of bit positions; the pruned
        read keeps files containing ALL the probe's positions, then
        re-applies the equality predicate (pruning is a pure optimization
        — results are exactly the full scan's). Same staleness discipline
        as the min/max manifest: validated against the live O(files)
        listing, rebuilt when the layout changed.
        Metrics: ``bloomFilesTotal`` / ``bloomFilesRead``."""
        from pyspark.sql import functions as F

        reader = reader.option("basePath", self._qualified_base(spark))
        live = self._list_data_files(spark)
        if len(live) > self.max_manifest_files:
            raise ValueError(
                f"bloom index refused: {len(live)} data files exceed "
                f"maxManifestFiles={self.max_manifest_files}"
            )
        base = reader.parquet(self.input_uri)
        dtype = base.schema[self.skip_bloom_col].dataType
        manifest = None
        if self.skip_bloom_manifest_uri:
            try:
                persisted = spark.read.parquet(self.skip_bloom_manifest_uri)
                # geometry + column validity: a manifest built for a
                # different column or bloom geometry would prune with the
                # wrong bit sets (silent row loss) — treat it as stale
                # exactly like a changed file layout
                meta_ok = {"bloom_col", "bloom_bits", "bloom_k"} <= set(
                    persisted.columns
                )
                if meta_ok:
                    head = persisted.select(
                        "bloom_col", "bloom_bits", "bloom_k"
                    ).first()
                    meta_ok = head is not None and (
                        head["bloom_col"] == self.skip_bloom_col
                        and head["bloom_bits"] == self._BLOOM_BITS
                        and head["bloom_k"] == self._BLOOM_K
                    )
                if meta_ok:
                    mpaths = {
                        self._norm_path(r["file_path"])
                        for r in persisted.select("file_path").collect()
                    }
                    if mpaths == live:
                        manifest = persisted
            except Exception:
                manifest = None  # not built yet
        if manifest is None:
            pos = F.explode(F.array(*self._bloom_pos_cols(self.skip_bloom_col)))
            manifest = (
                base.select(
                    F.col("_metadata.file_path").alias("file_path"),
                    pos.alias("pos"),
                )
                .groupBy("file_path")
                .agg(F.sort_array(F.collect_set("pos")).alias("bloom"))
                .select(
                    "file_path",
                    "bloom",
                    F.lit(self.skip_bloom_col).alias("bloom_col"),
                    F.lit(self._BLOOM_BITS).alias("bloom_bits"),
                    F.lit(self._BLOOM_K).alias("bloom_k"),
                )
            )
            if self.skip_bloom_manifest_uri:
                manifest.write.mode("overwrite").parquet(self.skip_bloom_manifest_uri)
                manifest = spark.read.parquet(self.skip_bloom_manifest_uri)

        probe = self._bloom_positions_probe(spark, dtype)
        keep_cond = F.lit(True)
        for p in probe:
            keep_cond = keep_cond & F.array_contains(F.col("bloom"), p)
        rows = manifest.select("file_path", keep_cond.alias("_keep")).collect()
        keep = [self._read_path(r["file_path"]) for r in rows if r["_keep"]]
        self.stage_detail.set("bloomFilesTotal", len(rows))
        self.stage_detail.set("bloomFilesRead", len(keep))
        eq = F.col(self.skip_bloom_col) == F.lit(self.skip_bloom_value).cast(dtype)
        if not keep:
            return reader.parquet(self.input_uri).filter(F.lit(False))
        return reader.parquet(*keep).filter(eq)

    def _skipping_read(self, spark: SparkSession, reader) -> DataFrame:
        from pyspark.sql import functions as F

        reader = reader.option("basePath", self._qualified_base(spark))
        col = F.col(self.skip_index_col)
        live = self._list_data_files(spark)
        if len(live) > self.max_manifest_files:
            raise ValueError(
                f"skipping index refused: {len(live)} data files exceed "
                f"maxManifestFiles={self.max_manifest_files}; a driver-side "
                "file manifest at this count risks driver memory — use a "
                "table format with a manifest tree (Delta/Iceberg) or "
                "hive partition pruning instead"
            )
        manifest = None
        if self.skip_manifest_uri:
            try:
                persisted = spark.read.parquet(self.skip_manifest_uri)
                mpaths = {
                    self._norm_path(r["file_path"])
                    for r in persisted.select("file_path").collect()
                }
                if mpaths == live:
                    manifest = persisted
                # else: stale (files appended or compacted away) — rebuild
            except Exception:
                manifest = None  # not built yet
        if manifest is None:
            manifest = (
                reader.parquet(self.input_uri)
                .groupBy(F.col("_metadata.file_path").alias("file_path"))
                .agg(F.min(col).alias("min_val"), F.max(col).alias("max_val"))
            )
            if self.skip_manifest_uri:
                manifest.write.mode("overwrite").parquet(self.skip_manifest_uri)
                manifest = spark.read.parquet(self.skip_manifest_uri)

        keep_cond = F.lit(True)
        row_cond = F.lit(True)
        if self.skip_min is not None:
            keep_cond = keep_cond & (F.col("max_val") >= F.lit(self.skip_min))
            row_cond = row_cond & (col >= F.lit(self.skip_min))
        if self.skip_max is not None:
            keep_cond = keep_cond & (F.col("min_val") <= F.lit(self.skip_max))
            row_cond = row_cond & (col <= F.lit(self.skip_max))
        # O(files) driver list — the planner's file census, never row data
        rows = manifest.select("file_path", keep_cond.alias("_keep")).collect()
        keep = [self._read_path(r["file_path"]) for r in rows if r["_keep"]]
        self.stage_detail.set("skipIndexFilesTotal", len(rows))
        self.stage_detail.set("skipIndexFilesRead", len(keep))
        if not keep:
            return reader.parquet(self.input_uri).filter(F.lit(False))
        return reader.parquet(*keep).filter(row_cond)


@dataclass
class DelimitedExtract(ExtractStage):
    """Header-aware CSV source — the reference's test pipeline input
    (``CassandraLoadSuite.scala:63``; declaratively ``DelimitedExtract`` in
    ``arc.json:4-12``). Matches the reference's read exactly: ``header=true``
    and no schema inference → all-string columns (``FIXTURES.md`` §1)."""

    stage_type: str = "DelimitedExtract"
    input_uri: str = ""
    header: bool = True
    delimiter: str = ","
    infer_schema: bool = False

    def _read(self, spark: SparkSession, ctx: PipelineContext) -> DataFrame:
        reader = (
            spark.read.option("header", self.header)
            .option("sep", self.delimiter)
            .option("inferSchema", self.infer_schema)
            .options(**self.params)
        )
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return reader.csv(self.input_uri)


@dataclass
class ORCExtract(ExtractStage):
    """ORC source (Spark-native columnar alternative to parquet; same
    pushdown/pruning properties)."""

    stage_type: str = "ORCExtract"
    input_uri: str = ""

    def _read(self, spark: SparkSession, ctx: PipelineContext) -> DataFrame:
        reader = spark.read.options(**self.params)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return reader.orc(self.input_uri)


@dataclass
class JSONExtract(ExtractStage):
    """JSON-lines source (schema inferred unless supplied)."""

    stage_type: str = "JSONExtract"
    input_uri: str = ""
    multi_line: bool = False

    def _read(self, spark: SparkSession, ctx: PipelineContext) -> DataFrame:
        reader = spark.read.option("multiLine", self.multi_line).options(**self.params)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return reader.json(self.input_uri)


@dataclass
class XMLExtract(ExtractStage):
    """XML source via Spark 4's NATIVE xml data source (the former
    spark-xml package, upstreamed): one row per ``rowTag`` element,
    schema inferred unless supplied. Supports the same pushdown/pruning
    surface as the other file sources."""

    stage_type: str = "XMLExtract"
    input_uri: str = ""
    row_tag: str = "row"

    def _read(self, spark: SparkSession, ctx: PipelineContext) -> DataFrame:
        reader = (
            spark.read.format("xml")
            .option("rowTag", self.row_tag)
            .options(**self.params)
        )
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return reader.load(self.input_uri)


@dataclass
class TextExtract(ExtractStage):
    """Line-oriented text source (``spark.read.text``): one ``value``
    string column per line — the raw-ingest entry of a text pipeline
    (wholetext=true flips to one row per FILE)."""

    stage_type: str = "TextExtract"
    input_uri: str = ""
    whole_text: bool = False

    def _read(self, spark: SparkSession, ctx: PipelineContext) -> DataFrame:
        reader = spark.read.options(**self.params)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return reader.text(self.input_uri, wholetext=self.whole_text)


@dataclass
class CassandraExtract(ExtractStage):
    """Cassandra table scan, schema inferred by the connector
    (``CassandraExtract.scala:95-98``): ``spark.read.format(
    "org.apache.spark.sql.cassandra").options(**params).options(table=...,
    keyspace=...).load()``. Requires the spark-cassandra-connector jar on the
    classpath; in this fixture-only environment the read raises a clear
    error at execute time rather than import time."""

    stage_type: str = "CassandraExtract"
    table: str = ""
    keyspace: str = ""

    def _read(self, spark: SparkSession, ctx: PipelineContext) -> DataFrame:
        return (
            spark.read.format("org.apache.spark.sql.cassandra")
            .options(**self.params)
            .options(table=self.table, keyspace=self.keyspace)
            .load()
        )


@dataclass
class TableExtract(ExtractStage):
    """Catalog-table source (``spark.table``): reads managed/bucketed tables
    written by :class:`~..load.TableLoad`, preserving bucket metadata so
    downstream joins on the bucket key skip the shuffle."""

    stage_type: str = "TableExtract"
    table: str = ""

    def _read(self, spark: SparkSession, ctx: PipelineContext) -> DataFrame:
        return spark.table(self.table)


@dataclass
class RateStreamExtract(ExtractStage):
    """Structured Streaming ``rate`` source — extension beyond the reference
    (which stubs streaming entirely); used to replay fixture events through
    the streaming pipeline in tests (SURVEY.md §7 step 6)."""

    stage_type: str = "RateStreamExtract"
    rows_per_second: int = 100

    def _run(self, spark: SparkSession, ctx: PipelineContext) -> Optional[DataFrame]:
        df = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", self.rows_per_second)
            .options(**self.params)
            .load()
        )
        df = repartition(df, self.num_partitions, self.partition_by or None)
        register_view(df, self.output_view, ctx)
        self.stage_detail.set("outputColumns", len(df.schema))
        self.stage_detail.set("isStreaming", True)
        return df
