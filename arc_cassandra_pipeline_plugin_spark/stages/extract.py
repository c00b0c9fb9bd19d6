"""Extract stages: external source → DataFrame → named temp view.

Rebuilds ``CassandraExtract`` (``CassandraExtract.scala:86-138``) with the
source format generalized: ``parquet`` / ``delimited`` (CSV) / ``json`` for
the fixture corpus, and a ``cassandra`` format gated behind the connector
package for true parity deployments. Stage semantics are identical across
formats:

1. streaming guard → empty DataFrame (``CassandraExtract.scala:92-94``)
2. source read, schema inferred by the source (``CassandraExtract.scala:95-98``)
3. publish through :class:`~.base.ViewStage`: optional repartition matrix
   (``CassandraExtract.scala:107-122``), view registration honoring
   immutable mode (``:123``), instrumentation + optional persist with
   forced materialization (``:126-133``)
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arc_cassandra_pipeline_plugin_spark.context import PipelineContext
from arc_cassandra_pipeline_plugin_spark.functions import small_df
from arc_cassandra_pipeline_plugin_spark.stages.base import ViewStage


def minmax_manifest(df: DataFrame, col: str) -> DataFrame:
    """Per-file ``min_val`` / ``max_val`` of ``col``, keyed by the hidden
    ``_metadata.file_path`` column: one aggregate, O(files) rows. The
    skipping index :class:`ParquetExtract` prunes with and
    :class:`~.load.ParquetLoad` persists."""
    c = F.col(col)
    return df.groupBy(F.col("_metadata.file_path").alias("file_path")).agg(
        F.min(c).alias("min_val"), F.max(c).alias("max_val")
    )


@dataclass
class ExtractStage(ViewStage):
    """Common extract behavior; subclasses implement :meth:`_read`."""

    schema: T.StructType | str | None = None

    def _read(self, spark: SparkSession, ctx: PipelineContext) -> DataFrame:
        raise NotImplementedError

    def _reader(self, spark: SparkSession, fmt: str, **opts) -> DataFrameReader:
        """A ``fmt`` reader with the stage's own options, then the ``params``
        passthrough (which may override them), then the supplied schema."""
        reader = spark.read.format(fmt).options(**opts).options(**self.params)
        return reader if self.schema is None else reader.schema(self.schema)

    def _run(self, spark: SparkSession, ctx: PipelineContext) -> Optional[DataFrame]:
        if ctx.is_streaming:
            # Streaming guard: extract is explicitly not supported under a
            # streaming context (CassandraExtract.scala:92-94); the reference
            # returns a completely empty frame (spark.emptyDataFrame, :93).
            schema = self.schema if isinstance(self.schema, T.StructType) else T.StructType([])
            df = small_df(spark, [], schema)
        else:
            df = self._read(spark, ctx)
        df = self._publish(df, ctx)
        if not df.isStreaming:
            # the reference's read-side partition count (CassandraExtract.scala:128)
            self.stage_detail.set("numPartitions", df.rdd.getNumPartitions())
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
    the hidden ``_metadata.file_path`` column (:func:`minmax_manifest`)
    and, when ``skipManifestURI`` is set, persisted there and reused —
    subsequent runs prune from the manifest alone, touching no skipped
    data file. Metrics: ``skipIndexFilesTotal`` / ``skipIndexFilesRead``.

    **Bloom-filter file index** (``skipBloomColumn`` + ``skipBloomValue``,
    optionally ``skipBloomManifestURI``) for EQUALITY probes — the
    complement of the min/max index, which cannot prune high-cardinality
    uniform columns. Metrics: ``bloomFilesTotal`` / ``bloomFilesRead``.

    Both indexes prune through :meth:`_pruned_read`, which states the
    staleness, refusal and exactness rules once.
    """

    stage_type: str = "ParquetExtract"
    input_uri: str = ""
    skip_index_col: str = ""
    skip_min: int | float | str | None = None
    skip_max: int | float | str | None = None
    skip_manifest_uri: str = ""
    max_manifest_files: int = 100_000
    #: per file, the set of md5-derived bit positions of its values; a probe
    #: keeps only files whose set contains ALL the probe value's positions.
    #: False positives read an extra file; false negatives are impossible.
    skip_bloom_col: str = ""
    skip_bloom_value: bool | int | float | str | None = None
    skip_bloom_manifest_uri: str = ""

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

    def _read(self, spark: SparkSession, ctx: PipelineContext) -> DataFrame:
        reader = self._reader(spark, "parquet")
        if self.skip_index_col and (self.skip_min is not None or self.skip_max is not None):
            return self._skipping_read(spark, reader)
        if self.skip_bloom_col and self.skip_bloom_value is not None:
            return self._bloom_skipping_read(spark, reader)
        return reader.load(self.input_uri)

    def _pruned_read(
        self,
        spark: SparkSession,
        reader: DataFrameReader,
        metric: str,
        manifest_uri: str,
        meta: dict,
        build: Callable[[DataFrame], DataFrame],
        conds: Callable[[Callable[[], DataFrame]], tuple[Column, Column]],
    ) -> DataFrame:
        """Read only the files a per-file manifest keeps, then re-apply the
        row predicate, so results are exactly the full scan's (pruning is a
        pure optimization).

        - The live recursive file listing is pure filesystem metadata,
          O(files), never rows, and is refused above ``maxManifestFiles``
          (default 100k): a table with millions of files needs a real table
          format's manifest tree, and failing loudly beats OOMing the driver.
        - A manifest persisted at ``manifest_uri`` is trusted only when its
          file set equals the LIVE listing (O(files) name comparison, no
          data read) and its ``meta`` columns hold the expected values
          (the bloom index's column and geometry). Files appended after it
          was built, or compacted away since, make it stale: silently
          excluding appended files would break exactness, and pruning to
          removed files would crash the read. A stale or missing manifest
          is rebuilt with ``build`` over the full read and, with a
          ``manifest_uri``, persisted there.
        - ``conds(full)`` gives the manifest keep predicate and the row
          predicate; ``full()`` is the read of the whole layout, made once
          (its schema inference is a job) and shared with the build. The
          keep-list collect is the planner's O(files) file census. Both the
          manifest build and the pruned read set ``basePath`` (``input_uri``
          qualified through its own filesystem, so it sits over the pruned
          file URIs on any FS), so hive-style partition columns survive
          file-level pruning.

        Metrics: ``<metric>Total`` / ``<metric>Read``."""
        path = spark._jvm.org.apache.hadoop.fs.Path(self.input_uri)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        base = fs.makeQualified(path)
        reader = reader.option("basePath", base.toString())

        @functools.cache
        def full() -> DataFrame:
            return reader.load(self.input_uri)

        live, files = set(), fs.listFiles(base, True)
        while files.hasNext():
            f = files.next().getPath()
            if not f.getName().startswith(("_", ".")):  # _SUCCESS, hidden/CRC files
                live.add(f.toUri().getPath())
        if len(live) > self.max_manifest_files:
            raise ValueError(
                f"file index refused: {len(live)} data files exceed "
                f"maxManifestFiles={self.max_manifest_files}; a driver-side "
                "file manifest at this count risks driver memory — use a "
                "table format with a manifest tree (Delta/Iceberg) or "
                "hive partition pruning instead"
            )
        manifest = None
        if manifest_uri:
            try:
                persisted = spark.read.parquet(manifest_uri)
                # a manifest without the meta columns raises here: stale too
                head = persisted.select(*meta).first() if meta else {}
                if head is not None and all(head[k] == v for k, v in meta.items()):
                    mpaths = {
                        self._norm_path(r["file_path"])
                        for r in persisted.select("file_path").collect()
                    }
                    if mpaths == live:
                        manifest = persisted
            except Exception:
                pass  # not built yet
        if manifest is None:
            manifest = build(full())
            if manifest_uri:
                manifest.write.mode("overwrite").parquet(manifest_uri)
                manifest = spark.read.parquet(manifest_uri)

        keep_cond, row_cond = conds(full)
        rows = manifest.select("file_path", keep_cond.alias("_keep")).collect()
        keep = [self._read_path(r["file_path"]) for r in rows if r["_keep"]]
        self.stage_detail.set(f"{metric}Total", len(rows))
        self.stage_detail.set(f"{metric}Read", len(keep))
        if not keep:
            return full().filter(F.lit(False))
        return reader.load(keep).filter(row_cond)

    def _skipping_read(self, spark: SparkSession, reader: DataFrameReader) -> DataFrame:
        col = F.col(self.skip_index_col)

        def conds(full) -> tuple[Column, Column]:
            keep_cond = row_cond = F.lit(True)
            if self.skip_min is not None:
                keep_cond = keep_cond & (F.col("max_val") >= F.lit(self.skip_min))
                row_cond = row_cond & (col >= F.lit(self.skip_min))
            if self.skip_max is not None:
                keep_cond = keep_cond & (F.col("min_val") <= F.lit(self.skip_max))
                row_cond = row_cond & (col <= F.lit(self.skip_max))
            return keep_cond, row_cond

        return self._pruned_read(
            spark, reader, "skipIndexFiles", self.skip_manifest_uri, {},
            lambda df: minmax_manifest(df, self.skip_index_col), conds,
        )

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
        row = (
            spark.range(1)
            .select(F.lit(self.skip_bloom_value).cast(dtype).alias("_probe"))
            .select(F.array(*self._bloom_pos_cols("_probe")).alias("pos"))
            .collect()[0]
        )
        return list(row["pos"])

    @classmethod
    def _bloom_pos_cols(cls, col_name: str) -> list:
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

    def _bloom_skipping_read(self, spark: SparkSession, reader: DataFrameReader) -> DataFrame:
        """Equality-probe file skipping: the manifest holds each file's
        SORTED set of bit positions; the read keeps files containing ALL
        the probe's positions, then re-applies the equality predicate."""
        meta = {
            "bloom_col": self.skip_bloom_col,
            "bloom_bits": self._BLOOM_BITS,
            "bloom_k": self._BLOOM_K,
        }

        def build(df: DataFrame) -> DataFrame:
            pos = F.explode(F.array(*self._bloom_pos_cols(self.skip_bloom_col)))
            return (
                df.select(F.col("_metadata.file_path").alias("file_path"), pos.alias("pos"))
                .groupBy("file_path")
                .agg(F.sort_array(F.collect_set("pos")).alias("bloom"))
                .select("file_path", "bloom", *(F.lit(v).alias(k) for k, v in meta.items()))
            )

        def conds(full) -> tuple[Column, Column]:
            dtype = full().schema[self.skip_bloom_col].dataType
            keep_cond = F.lit(True)
            for p in self._bloom_positions_probe(spark, dtype):
                keep_cond = keep_cond & F.array_contains(F.col("bloom"), p)
            eq = F.col(self.skip_bloom_col) == F.lit(self.skip_bloom_value).cast(dtype)
            return keep_cond, eq

        return self._pruned_read(
            spark, reader, "bloomFiles", self.skip_bloom_manifest_uri, meta, build, conds
        )


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
        return self._reader(
            spark, "csv", header=self.header, sep=self.delimiter, inferSchema=self.infer_schema
        ).load(self.input_uri)


@dataclass
class ORCExtract(ExtractStage):
    """ORC source (Spark-native columnar alternative to parquet; same
    pushdown/pruning properties)."""

    stage_type: str = "ORCExtract"
    input_uri: str = ""

    def _read(self, spark: SparkSession, ctx: PipelineContext) -> DataFrame:
        return self._reader(spark, "orc").load(self.input_uri)


@dataclass
class JSONExtract(ExtractStage):
    """JSON-lines source (schema inferred unless supplied)."""

    stage_type: str = "JSONExtract"
    input_uri: str = ""
    multi_line: bool = False

    def _read(self, spark: SparkSession, ctx: PipelineContext) -> DataFrame:
        return self._reader(spark, "json", multiLine=self.multi_line).load(self.input_uri)


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
        return self._reader(spark, "xml", rowTag=self.row_tag).load(self.input_uri)


@dataclass
class TextExtract(ExtractStage):
    """Line-oriented text source (``spark.read.text``): one ``value``
    string column per line — the raw-ingest entry of a text pipeline
    (wholetext=true flips to one row per FILE)."""

    stage_type: str = "TextExtract"
    input_uri: str = ""
    whole_text: bool = False

    def _read(self, spark: SparkSession, ctx: PipelineContext) -> DataFrame:
        return self._reader(spark, "text", wholetext=self.whole_text).load(self.input_uri)


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
        df = self._publish(df, ctx)
        self.stage_detail.set("outputColumns", len(df.schema))
        self.stage_detail.set("isStreaming", True)
        return df
