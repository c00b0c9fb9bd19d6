"""Structured Streaming support — the upgrade path beyond the reference.

The reference explicitly *stubs* streaming: extract short-circuits to an
empty frame (``CassandraExtract.scala:92-94``) and load silently no-ops on a
streaming view (``CassandraLoad.scala:108-109``). Parity keeps those guards
(see stages/); this module is the real implementation a modern pipeline
needs: file-replay streaming extract, watermarked event-time windows, and a
``foreachBatch``-based streaming load that reuses any batch LoadStage.

Stream sources read through ``sources.raw_schema`` and
``sources.normalize_ts``, the batch reader's cached schema and ``events.ts``
mapping (``table_stream``, ``events_stream_flushed``). Bounded replays
drain through one ``_drain``: availableNow trigger, state width pinned by
``stream_shuffle_pinned``, a checkpoint that is deleted afterwards, and a
stopped query plus ``RuntimeError`` on timeout. ``run_stream_to_memory``
drains into a memory sink; ``run_stream_upsert`` and
``run_stream_accumulate`` fold micro-batches into a keyed state through
``_fold_stream``.
"""

from __future__ import annotations

import dataclasses
import os
import tempfile
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arc_cassandra_pipeline_plugin_spark.context import PipelineContext
from arc_cassandra_pipeline_plugin_spark.functions import small_df
from arc_cassandra_pipeline_plugin_spark.sources import normalize_ts, raw_schema
from arc_cassandra_pipeline_plugin_spark.stages.base import PipelineStage, register_view
from arc_cassandra_pipeline_plugin_spark.stages.load import LoadStage

#: per-process memo of max(ts) per (events path, mtime) — every stream
#: query's sentinel build needs the same deterministic value; see
#: events_stream_flushed
_MAX_TS_CACHE: dict = {}


@dataclass
class FileStreamExtract(PipelineStage):
    """Streaming extract replaying files from a directory (parquet/csv/json).
    Unlike the reference's streaming stub, this produces a genuine streaming
    DataFrame; schema must be supplied or inferred from a sample batch read
    (Structured Streaming requires a fixed schema up front)."""

    stage_type: str = "FileStreamExtract"
    input_uri: str = ""
    format: str = "parquet"
    output_view: str = ""
    schema: object | None = None  # StructType | DDL string; None → infer

    def _run(self, spark: SparkSession, ctx: PipelineContext) -> Optional[DataFrame]:
        schema = self.schema
        if schema is None:
            schema = spark.read.format(self.format).options(**self.params).load(self.input_uri).schema
        reader = spark.readStream.format(self.format).schema(schema).options(**self.params)
        df = reader.load(self.input_uri)
        register_view(df, self.output_view, ctx)
        self.stage_detail.set("isStreaming", True)
        return df


def tumbling_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Watermarked tumbling-window aggregation — works identically on batch
    and streaming frames (same plan shape as the certified
    ``events_windowed_agg`` query; the watermark bounds state for late
    data in streaming mode).

    sum_value accumulates in integer CENTS (BIGINT) and divides once at
    the end: a raw double sum is partition/batch-order dependent and can
    cross a half-cent rounding boundary at scale (the q5-at-sf1 drift
    class) — a window's total provably fits int64. This matches the
    certified oracles of streaming_windowed_agg /
    streaming_append_closed_windows and the batch twins."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double")
                / F.lit(100.0)
            ).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), *group_cols, "n_events", "sum_value")
    )


def sliding_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked sliding windows (each event lands in window/slide
    overlapping windows)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), F.col("w.end").alias("window_end"), "n_events")
    )


def session_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    user_col: str = "user_id",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked session windows (gap-merged); streaming twin of the
    certified batch ``events_session_window`` query."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), user_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(user_col, F.col("w.start").alias("session_start"), "n_events")
    )


@dataclass
class StreamingLoad(PipelineStage):
    """Streaming upgrade of the load path: instead of the reference's silent
    no-op, run the wrapped batch LoadStage inside ``foreachBatch`` — every
    micro-batch is registered under the wrapped stage's input view and
    written with the batch writer (save modes, truncate gate and params all
    apply per batch).

    The stage drains all available input with the availableNow trigger and
    waits for the query to stop — the batch-replay mode of tests and
    backfills. The checkpoint is the user's ``checkpoint_uri``, and the
    wait has no timeout. It does not go through ``_drain``: pinning the
    shuffle width would change the width of the wrapped batch writes.
    """

    stage_type: str = "StreamingLoad"
    input_view: str = ""
    wrapped: LoadStage | None = None
    checkpoint_uri: str = ""

    def _run(self, spark: SparkSession, ctx: PipelineContext) -> Optional[DataFrame]:
        if self.wrapped is None:
            raise ValueError("StreamingLoad requires a wrapped batch LoadStage")
        df = spark.table(self.input_view)
        if not df.isStreaming:
            raise ValueError(f"input view '{self.input_view}' is not a streaming DataFrame")

        wrapped = self.wrapped
        batch_ctx = dataclasses.replace(ctx, is_streaming=False, immutable_views=False)
        # Overwrite semantics only make sense for the first micro-batch;
        # subsequent batches append. The wrapped stage is never mutated —
        # a per-batch replace keeps re-executions of this pipeline object
        # seeing the original save_mode.
        first_mode = wrapped.save_mode

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.createOrReplaceTempView(wrapped.input_view)
            mode = first_mode if batch_id == 0 else "Append"
            batch_stage = dataclasses.replace(wrapped, save_mode=mode)
            batch_stage.execute(batch_df.sparkSession, batch_ctx)

        query = (
            df.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", self.checkpoint_uri)
            .trigger(availableNow=True)
            .start()
        )
        self.stage_detail.set("queryId", str(query.id))
        query.awaitTermination()
        return None


def dedup_stream(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming deduplication: drop rows whose key was already seen within
    the watermark horizon (``dropDuplicatesWithinWatermark``) — the
    streaming twin of exact dedup, with state bounded by the watermark
    instead of growing forever. Exactly-once per key within the horizon."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def enrich_stream(stream: DataFrame, dim: DataFrame, on: str, how: str = "left") -> DataFrame:
    """Stream-static join: enrich a stream with a (periodically re-read)
    dimension table. The static side is broadcast per micro-batch — the
    standard pattern for attaching user/customer attributes to an event
    stream without stateful join machinery."""
    from pyspark.sql import functions as F

    return stream.join(F.broadcast(dim), on=on, how=how)


def table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Streaming read of ANY fixture table, handling both physical source
    shapes (the r9 bug class — a query that hand-rolls a
    ``pathGlobFilter`` source silently reads 0 rows from a multi-file
    fixture, because the glob filters LEAF file names and the Spark-written
    twins are ``<table>.parquet/part-*.parquet`` directories):

    - directory fixture → the directory IS the streaming source
    - single-file driver fixture → stream ``sf_dir`` with a name glob

    The schema, fixed up-front as Structured Streaming requires, is the
    batch reader's cached ``raw_schema``; ``events.ts`` is normalized as in
    ``sources.load_table``."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    reader = spark.readStream.schema(raw_schema(spark, path, table))
    _note_stream_source(spark, path)
    if os.path.isdir(path):
        df = reader.parquet(path)
    else:
        df = reader.option("pathGlobFilter", f"{table}.parquet").parquet(sf_dir)
    return normalize_ts(df, table)


#: per-session note of the most recent stream SOURCE's on-disk byte size,
#: written by the stream builders (table_stream / events_stream_flushed)
#: and read by stream_shuffle_pinned at drain start. Streams
#: here are built and drained inside one query function on one thread, so
#: "most recent" is the drain's own source.
_STREAM_SRC_BYTES: dict = {}

#: state-partition sizing target: one state-store partition per this many
#: source bytes. Every state partition costs a per-micro-batch commit
#: (delta file create+write+rename), so width must follow DATA, not cores:
#: a 2 MB bounded replay under 32 state partitions paid ~5 s/drain of pure
#: commit overhead (measured; 4 partitions → 2.2 s end-to-end).
_STREAM_STATE_TARGET_BYTES = 32 << 20


def _path_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, names in os.walk(path, followlinks=True):
        for f in names:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _note_stream_source(spark: SparkSession, path: str) -> None:
    try:
        _STREAM_SRC_BYTES[id(spark)] = _path_bytes(path)
    except Exception:
        _STREAM_SRC_BYTES.pop(id(spark), None)


@contextmanager
def stream_shuffle_pinned(spark: SparkSession, source_bytes: int | None = None):
    """Pin ``spark.sql.shuffle.partitions`` for the lifetime of a stream
    drain to a SCALE-ADAPTIVE state width: ``ceil(source_bytes / 32MB)``,
    capped at the cluster's ``defaultParallelism`` (falls back to the cap
    when the builder didn't record a source size). ``source_bytes``
    overrides the recorded size for callers whose source is not a file
    path (e.g. a synthetic Python DataSource of known volume).

    A streaming aggregation captures the shuffle-partition count into its
    checkpoint at first start, and every state partition then costs one
    state-store commit per micro-batch. Two failure modes, both measured:
    an unconfigured session's static 200 scheduled 200 state tasks per
    micro-batch (the r11 plain-gauntlet ``streaming_pyds_source`` timeout,
    150/400 rows in 120 s), and partitions == cores paid ~5 s of commit
    overhead per drain for a 2 MB replay (7.6 s → 2.3 s at the derived
    width). The width grows with the source (at 100 TB the cap, i.e. full
    cluster parallelism, wins), so this is a data-derived setting, not a
    local constant. Restores the previous value on exit (the running query
    keeps its captured count)."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    cap = spark.sparkContext.defaultParallelism
    src = source_bytes if source_bytes is not None else _STREAM_SRC_BYTES.get(id(spark))
    if src is None:
        want = cap
    else:
        want = max(1, min(cap, -(-src // _STREAM_STATE_TARGET_BYTES)))
    spark.conf.set(key, str(want))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _drain(df: DataFrame, writer, what: str, timeout_s: int) -> None:
    """Run ``writer`` (a ``df.writeStream`` with its sink set) with the
    availableNow trigger until the source is drained: everything currently
    in the source is processed, then the query stops, so the streaming plan
    runs for real (stateful operators, watermarks, micro-batching) with a
    deterministic end. The state width is pinned by
    ``stream_shuffle_pinned``, and the checkpoint lives in a temporary
    directory deleted afterwards. A drain that has not finished after
    ``timeout_s`` is stopped and raises ``RuntimeError``, never a partial
    result."""
    # cleanup errors are ignored: a state-store maintenance thread may still
    # write into the checkpoint after the query stops, and a leftover
    # directory must not turn a finished drain into a failure
    with (
        tempfile.TemporaryDirectory(prefix=f"ckpt_{what}_", ignore_cleanup_errors=True) as ckpt,
        stream_shuffle_pinned(df.sparkSession),
    ):
        q = writer.trigger(availableNow=True).option("checkpointLocation", ckpt).start()
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise RuntimeError(f"{what}: drain did not finish in {timeout_s} s")


def run_stream_to_memory(
    df: DataFrame, name: str, output_mode: str = "complete", timeout_s: int = 120
) -> DataFrame:
    """Drain a streaming frame into a memory sink named ``name`` and return
    the materialized result table."""
    writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    _drain(df, writer, name, timeout_s)
    return df.sparkSession.table(name)


def _fold_stream(df: DataFrame, reduce, what: str, timeout_s: int) -> DataFrame:
    """Drain ``df`` through ``foreachBatch``, folding its micro-batches into
    one state frame: the first batch gives ``reduce(batch)``, each later one
    ``reduce(state ∪ reduce(batch))``. With a ``reduce`` whose merge is
    associative and commutative, the final state is independent of the
    micro-batch boundaries.

    Each round snapshots the state with an eager ``localCheckpoint``, so it
    never re-reads source lineage; reassigning the state drops the only
    reference to the previous snapshot, so CPython refcounting + Spark's
    ContextCleaner free its blocks promptly — at most two snapshots are
    ever live (the repo-wide lineage-cut idiom, see operators/graph.py).
    Raises ``RuntimeError`` when no micro-batch arrives."""
    state: Optional[DataFrame] = None

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal state
        part = reduce(batch_df)
        merged = part if state is None else reduce(state.unionByName(part))
        state = merged.localCheckpoint(eager=True)

    _drain(df, df.writeStream.foreachBatch(merge), what, timeout_s)
    if state is None:
        raise RuntimeError(f"{what}: no micro-batches arrived")
    return state


def run_stream_upsert(
    df: DataFrame,
    key_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    timeout_s: int = 120,
) -> DataFrame:
    """Streaming CDC upsert: each micro-batch is reduced to its winning row
    per key (max over ``order_cols``, descending) and merged into a keyed
    state snapshot — the 'stream into a mutable store' pattern. The merge
    is associative and commutative on the order key. Returns the final
    state DataFrame."""
    from pyspark.sql.window import Window

    def winners(frame: DataFrame) -> DataFrame:
        # order by order_cols, then every remaining payload column as a
        # deterministic tiebreak: rows tying on all order columns would
        # otherwise make the kept row micro-batch-boundary-dependent,
        # breaking the associativity the merge relies on
        tiebreak = [
            c
            for c in frame.columns
            if c not in key_cols and c not in order_cols
        ]
        w = Window.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc() for c in order_cols],
            *[F.col(c).desc_nulls_last() for c in tiebreak],
        )
        return (
            frame.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    return _fold_stream(df, winners, "run_stream_upsert", timeout_s)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "2 hours",
    upper: str = "10 minutes",
) -> DataFrame:
    """Stream-stream INNER join with an event-time interval bound: match
    rows sharing ``key`` where ``left_ts < right_ts <= left_ts + upper``.

    Both sides carry watermarks and the join condition bounds event time in
    both directions — exactly what Structured Streaming requires to expire
    join state (each side buffers only ``watermark + upper`` of history).
    Inner matches emit as soon as both rows arrive; the batch twin is the
    identical expression on batch frames, so stream≡batch is certifiable.
    ``left_ts``/``right_ts`` must be distinct names (rename before calling)
    so the joined output is unambiguous."""
    from pyspark.sql import functions as F

    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[key] == r[key])
        & (r[right_ts] > l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, "inner").drop(r[key])


def stream_stream_outer_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "2 hours",
    upper: str = "10 minutes",
    how: str = "leftOuter",
) -> DataFrame:
    """Stream-stream OUTER join with an event-time interval bound — the
    interval join plus null-padded rows for unmatched input.

    The state-eviction trap this encodes: an unmatched left row emits its
    null-padded result only when the watermark passes ``left_ts + upper``
    (until then a matching right row could still arrive), so the emission
    is *watermark-driven*, not arrival-driven. On a finite replay the
    watermark stops at ``max(event time) - watermark``: rows near the end
    of input are never finalized unless something later pushes the
    watermark past them (see :func:`events_stream_flushed`). Spark runs a
    final no-data micro-batch after an availableNow drain, so state whose
    expiry the final watermark HAS passed does flush.

    The right side's key is renamed internally before the join: when both
    sides derive from the SAME stream (a self-join), ``l[key]``/``r[key]``
    resolve to the same attribute lineage and column-object disambiguation
    is unreliable — an outer null row can surface the RIGHT side's NULL
    key instead of the left's value. Renaming makes the left key the only
    column with that name, so the output key is unambiguous by name."""
    l = left.withWatermark(left_ts, watermark)
    r = right.withColumnRenamed(key, "__rkey").withWatermark(right_ts, watermark)
    cond = (
        (F.col(key) == F.col("__rkey"))
        & (F.col(right_ts) > F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {upper}"))
    )
    joined = l.join(r, cond, how)
    # surface ONE key column: the left's where present, the right's on
    # right-outer/full-outer null-padded rows (coalesce is a no-op for
    # inner/leftOuter, where the left key is always populated)
    return joined.withColumn(key, F.coalesce(F.col(key), F.col("__rkey"))).drop(
        "__rkey"
    )


def events_stream_flushed(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    sentinel_specs: tuple[tuple[int, str], ...] = ((-1, "click"), (-2, "error")),
) -> DataFrame:
    """The events fixture as a stream PLUS a far-future sentinel file that
    drives the watermark past every real row once the replay drains.

    Outer joins and other watermark-finalized operators need this on finite
    input: without a late flush row, everything within ``watermark + upper``
    of the end of input stays buffered forever and the availableNow result
    silently misses its null-padded tail. The sentinel rows carry negative
    ``user_id``/``event_id`` (one per (user_id, event_type) spec, pairwise
    non-joinable) and a timestamp 30 days past the real maximum; callers
    filter ``user_id >= 0`` from results. The work dir holds a symlink to
    the fixture plus the sentinel parquet, built once per process."""
    # absolute target: a relative sf_dir would make the link resolve
    # against the scratch dir and dangle (0-row stream, no error)
    ev_src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    link = os.path.join(work_dir, "events.parquet")
    if os.path.lexists(link) and not os.path.exists(link):
        os.unlink(link)  # repair a dangling link from an older relative run
    if not os.path.lexists(link):
        os.symlink(ev_src, link)
    schema = raw_schema(spark, ev_src, "events")
    sent = os.path.join(work_dir, "sentinel")
    if not os.path.exists(os.path.join(sent, "_SUCCESS")):
        from pyspark.sql import types as T

        # every stream query builds its sentinel in its OWN scratch dir, so
        # without this memo each one re-scans the whole events table for
        # the same max(ts) (deterministic per fixture file — keyed on
        # mtime like sources._SCHEMA_CACHE, ~2 s/query at bench scale)
        mkey = (ev_src, os.path.getmtime(ev_src))
        mx = _MAX_TS_CACHE.get(mkey)
        if mx is None:
            raw = spark.read.schema(schema).parquet(ev_src)
            mx = raw.agg(F.max("ts").alias("m")).collect()[0]["m"]
            _MAX_TS_CACHE[mkey] = mx
        if isinstance(schema["ts"].dataType, T.LongType):
            future = int(mx) + 30 * 86400 * 1_000_000_000  # ns
        else:
            import datetime

            future = mx + datetime.timedelta(days=30)
        rows = []
        for i, (uid, etype) in enumerate(sentinel_specs):
            vals = {
                "event_id": -1_000_000 - i,
                "ts": future,
                "user_id": uid,
                "event_type": etype,
                "value": 0.0,
                "props": None,
            }
            rows.append(tuple(vals[f.name] for f in schema.fields))
        # two literal rows: a LocalRelation, written by at most two JVM tasks
        small_df(spark, rows, schema).write.mode("overwrite").parquet(sent)
    _note_stream_source(spark, ev_src)
    df = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(work_dir)
    )
    return normalize_ts(df, "events")


def run_stream_accumulate(
    df: DataFrame,
    key_cols: tuple[str, ...],
    sum_cols: tuple[str, ...],
    timeout_s: int = 120,
) -> DataFrame:
    """Streaming ADDITIVE state: each micro-batch is pre-aggregated to
    per-key partial sums, then merged into the running state by
    re-aggregating the union of state and partials (sum-merge is
    associative and commutative) — the incremental form of any
    groupBy(key).sum() readout (experiment arm totals, per-source token
    counts) over an unbounded stream, with state bounded by |keys|, not
    rows."""
    from pyspark.sql import types as T

    keys = list(key_cols)
    sums = list(sum_cols)

    def _acc_type(dt: T.DataType) -> str:
        # pin every merge round to ONE accumulated type so unionByName
        # between the running state and a fresh partial never widens
        if isinstance(dt, T.DecimalType):
            return f"decimal(38,{dt.scale})"
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return "bigint"
        return "double"

    acc_types = {f.name: _acc_type(f.dataType) for f in df.schema if f.name in sums}

    def partials(frame: DataFrame) -> DataFrame:
        return frame.groupBy(*keys).agg(
            *[F.sum(F.col(c)).cast(acc_types[c]).alias(c) for c in sums]
        )

    return _fold_stream(df, partials, "run_stream_accumulate", timeout_s)
