"""Structured Streaming upgrades: file-replay extract, watermarked windows,
foreachBatch StreamingLoad — verified by comparing the streaming result
(availableNow drain) against the identical batch plan."""

from __future__ import annotations

import pytest

from arc_cassandra_pipeline_plugin_spark.context import PipelineContext
from arc_cassandra_pipeline_plugin_spark.sources import load_table
from arc_cassandra_pipeline_plugin_spark.stages import ParquetLoad
from arc_cassandra_pipeline_plugin_spark.streaming import (
    FileStreamExtract,
    StreamingLoad,
    session_window_agg,
    tumbling_window_counts,
)
from arc_cassandra_pipeline_plugin_spark.testing import dataset_equality
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Fixture events re-written as a clean µs-timestamp parquet directory
    (the raw fixture is ns-precision, unsupported by streaming reads)."""
    path = str(tmp_path_factory.mktemp("events_stream") / "events")
    load_table(spark, SF_SMALL, "events").write.mode("overwrite").parquet(path)
    return path


def test_file_stream_tumbling_window_matches_batch(spark, events_dir, tmp_path, ctx):
    stream = FileStreamExtract(
        name="se", input_uri=events_dir, output_view="events_stream"
    ).execute(spark, ctx)
    assert stream.isStreaming

    windowed = tumbling_window_counts(stream)
    query = (
        windowed.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()

    batch = tumbling_window_counts(spark.read.parquet(events_dir))
    assert dataset_equality(batch, spark.table("win_counts"))


def test_streaming_load_foreachbatch_writes_parquet(spark, events_dir, tmp_path, ctx):
    FileStreamExtract(
        name="se2", input_uri=events_dir, output_view="events_stream2"
    ).execute(spark, ctx)

    out = str(tmp_path / "loaded")
    st = StreamingLoad(
        name="sl",
        input_view="events_stream2",
        wrapped=ParquetLoad(
            name="inner", input_view="stream_batch_v", output_uri=out, save_mode="Overwrite"
        ),
        checkpoint_uri=str(tmp_path / "ckpt2"),
    )
    assert st.execute(spark, ctx) is None

    written = spark.read.parquet(out)
    assert written.count() == spark.read.parquet(events_dir).count()
    # the wrapped stage must come out untouched: a re-execution of the same
    # pipeline object still sees the original Overwrite for batch 0
    assert st.wrapped.save_mode == "Overwrite"


def test_streaming_session_windows_match_batch(spark, events_dir, tmp_path, ctx):
    stream = FileStreamExtract(
        name="se3", input_uri=events_dir, output_view="events_stream3"
    ).execute(spark, ctx)
    sessions = session_window_agg(stream)
    query = (
        sessions.writeStream.format("memory")
        .queryName("sess_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    batch = session_window_agg(spark.read.parquet(events_dir))
    assert dataset_equality(batch, spark.table("sess_counts"))


def test_parity_guard_still_default(spark, ctx):
    """The reference-parity streaming guards remain the batch-stage default
    (CassandraExtract.scala:92-94 / CassandraLoad.scala:108-109) — the
    streaming module is an explicit opt-in, not a behavior change."""
    from arc_cassandra_pipeline_plugin_spark.stages import ParquetExtract

    sctx = PipelineContext(is_streaming=True)
    df = ParquetExtract(name="g", input_uri="/nope.parquet", output_view="g_v").execute(
        spark, sctx
    )
    assert df.count() == 0


def test_stateful_running_stats_matches_batch(spark, events_dir, tmp_path, ctx):
    """applyInPandasWithState: after draining all input, per-user state
    equals the batch aggregate (the last update per user wins)."""
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.streaming.stateful import running_stats_per_user

    stream = FileStreamExtract(
        name="se4", input_uri=events_dir, output_view="events_stream4"
    ).execute(spark, ctx)
    out = running_stats_per_user(stream.select("user_id", "value"))
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # last emitted row per user == final state
    import pandas as pd

    emitted = spark.table("stateful_out").toPandas()
    final = emitted.groupby("user_id").tail(1).set_index("user_id").sort_index()
    batch = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    pd.testing.assert_frame_equal(final[["n_events", "sum_value"]], batch, check_dtype=False)


def test_sliding_windows_match_batch(spark, events_dir, tmp_path, ctx):
    from arc_cassandra_pipeline_plugin_spark.streaming import sliding_window_counts

    stream = FileStreamExtract(
        name="se5", input_uri=events_dir, output_view="events_stream5"
    ).execute(spark, ctx)
    q = (
        sliding_window_counts(stream).writeStream.format("memory")
        .queryName("slide_counts").outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt5"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    batch = sliding_window_counts(spark.read.parquet(events_dir))
    assert dataset_equality(batch, spark.table("slide_counts"))


def test_streaming_dedup_within_watermark(spark, tmp_path, ctx):
    """Duplicate event_ids in the replay are emitted exactly once."""
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.streaming import dedup_stream

    src = str(tmp_path / "dup_events")
    base = load_table(spark, SF_SMALL, "events").limit(200)
    base.union(base).write.mode("overwrite").parquet(src)  # every event twice

    stream = FileStreamExtract(name="sd", input_uri=src, output_view="dup_stream").execute(
        spark, ctx
    )
    q = (
        dedup_stream(stream).writeStream.format("memory")
        .queryName("dedup_out").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = spark.table("dedup_out")
    assert out.count() == 200
    assert out.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0


def test_stream_static_enrichment_matches_batch(spark, events_dir, tmp_path, ctx):
    from arc_cassandra_pipeline_plugin_spark.streaming import enrich_stream

    dim = (
        load_table(spark, SF_SMALL, "customer")
        .selectExpr("CAST(c_custkey AS BIGINT) AS user_id", "c_mktsegment")
    )
    stream = FileStreamExtract(name="en", input_uri=events_dir, output_view="enrich_in").execute(
        spark, ctx
    )
    q = (
        enrich_stream(stream.select("event_id", "user_id"), dim, on="user_id")
        .writeStream.format("memory").queryName("enriched")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "ckpt_en"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    batch = enrich_stream(
        spark.read.parquet(events_dir).select("event_id", "user_id"), dim, on="user_id"
    )
    assert dataset_equality(batch, spark.table("enriched"))


def test_transform_with_state_matches_batch(spark, events_dir, tmp_path, ctx):
    """transformWithStateInPandas (Spark 4 API): final per-user state equals
    the batch aggregate, same contract as the applyInPandasWithState twin."""
    import pandas as pd
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.streaming.stateful import running_stats_tws

    if running_stats_tws is None:
        import pytest as _pytest
        _pytest.skip("transformWithState API not available")

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = FileStreamExtract(
            name="se_tws", input_uri=events_dir, output_view="events_stream_tws"
        ).execute(spark, ctx)
        out = running_stats_tws(stream.select("user_id", "value"))
        q = (
            out.writeStream.format("memory")
            .queryName("tws_out")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        emitted = spark.table("tws_out").toPandas()
        final = emitted.groupby("user_id").tail(1).set_index("user_id").sort_index()
        batch = (
            spark.read.parquet(events_dir)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .toPandas()
            .set_index("user_id")
            .sort_index()
        )
        pd.testing.assert_frame_equal(
            final[["n_events", "sum_value"]], batch, check_dtype=False
        )
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_append_mode_emits_only_watermark_closed_windows(spark, tmp_path, ctx):
    """Append mode + watermark: after an availableNow drain (including the
    final no-data flush batch that advances the watermark), exactly the
    windows whose end <= max_event_time - delay have emitted; the newest
    window stays open. This is the production output mode — complete mode
    (used by the certified streaming queries for full-result determinism)
    trades bounded state for emit-everything."""
    import datetime as dt

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (i * 10 + j, base + dt.timedelta(hours=i, minutes=30 * j), float(j))
        for i in range(3)  # three hours...
        for j in range(2)  # ...two events each, at :00 and :30
    ]
    spark.createDataFrame(rows, "event_id INT, ts TIMESTAMP, value DOUBLE").write.parquet(src)

    stream = spark.readStream.schema("event_id INT, ts TIMESTAMP, value DOUBLE").parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("append_wm_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_append"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    emitted = {(r["window_start"], r["n"]) for r in spark.table("append_wm_out").collect()}
    # max event time 02:30, delay 10 min → watermark 02:20: hours 0 and 1
    # closed (ends 01:00/02:00 <= 02:20); hour 2 (end 03:00) still open
    assert emitted == {(base, 2), (base + dt.timedelta(hours=1), 2)}


def test_stream_upsert_merges_across_micro_batches(spark, tmp_path):
    """run_stream_upsert with maxFilesPerTrigger=1 over a multi-file source:
    several micro-batches MUST occur, and the merged state must equal the
    batch latest-row-per-key answer (batch-boundary independence)."""
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.sources import load_table
    from arc_cassandra_pipeline_plugin_spark.streaming import run_stream_upsert

    src = str(tmp_path / "events_multi")
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "ts", "event_id", "value"
    )
    ev.repartition(4).write.mode("overwrite").parquet(src)
    n_files = len([f for f in __import__("os").listdir(src) if f.endswith(".parquet")])
    assert n_files >= 4

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    final = run_stream_upsert(
        stream, key_cols=("user_id",), order_cols=("ts", "event_id")
    )

    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    expected = (
        ev.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    )
    got = {tuple(r) for r in final.collect()}
    want = {tuple(r) for r in expected.collect()}
    assert got == want


def test_apply_in_pandas_with_state_across_micro_batches(spark, tmp_path):
    """applyInPandasWithState over a multi-file source with
    maxFilesPerTrigger=1: per-key state must SURVIVE micro-batch
    boundaries (the counts accumulate across batches), and the final
    emitted state must equal the batch GROUP BY."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.window import Window

    from arc_cassandra_pipeline_plugin_spark.sources import load_table

    src = str(tmp_path / "events_state")
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_id"
    )
    ev.repartition(4).write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )

    def track(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    out = stream.groupBy("user_id").applyInPandasWithState(
        track, "user_id bigint, n bigint", "n bigint", "update",
        GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("aipws_multibatch")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.table("aipws_multibatch")
    # several emissions per key (one per batch touching it) proves >1 batch
    assert res.count() > res.select("user_id").distinct().count()
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    final = {
        (r["user_id"], r["n"])
        for r in res.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1").drop("rn").collect()
    }
    want = {
        (r["user_id"], r["n"])
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert final == want


def test_stream_stream_outer_emission_timing(spark, tmp_path):
    """Left-outer stream-stream join: null-padded rows emit on WATERMARK
    passage, not row arrival. With one file per trigger: the matched pair
    emits in the data batch where both rows have arrived; the unmatched
    row's null result emits only in a LATER batch, after the sentinel file
    has pushed the watermark past its eviction point."""
    import time

    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark import streaming as ST

    d = str(tmp_path / "src")
    real = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "click"),
            (2, "2024-01-01 10:05:00", 7, "error"),  # matches click 1
            (3, "2024-01-01 12:00:00", 8, "click"),  # unmatched -> null row
        ],
        "event_id int, ts string, user_id int, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sent = spark.createDataFrame(
        [(-1, "2024-02-01 10:00:00", -1, "click"),
         (-2, "2024-02-01 10:00:00", -2, "error")],
        "event_id int, ts string, user_id int, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    real.coalesce(1).write.parquet(d + "/b1")
    time.sleep(1.1)  # file source orders by mtime: sentinel strictly later
    sent.coalesce(1).write.parquet(d + "/b2")

    ev = (
        spark.readStream.schema("event_id int, ts timestamp, user_id int, event_type string")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    clicks = ev.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    errors = ev.filter("event_type = 'error'").select(
        F.col("event_id").alias("err_id"), "user_id", F.col("ts").alias("err_ts")
    )
    joined = ST.stream_stream_outer_join(
        clicks, errors, key="user_id", left_ts="click_ts", right_ts="err_ts",
        watermark="1 minute", upper="10 minutes",
    ).select("click_id", "user_id", "err_id")

    batches: list[tuple[int, list[tuple]]] = []

    def rec(bdf, bid):
        batches.append((bid, sorted(tuple(r) for r in bdf.collect())))

    q = (
        joined.writeStream.foreachBatch(rec)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    assert q.awaitTermination(180), "drain timed out"

    emitted = {bid: rows for bid, rows in batches if rows}
    all_rows = [r for _, rows in batches for r in rows]
    # final result: the match, the null row, and NOTHING from the sentinels
    assert sorted(all_rows) == [(1, 7, 2), (3, 8, None)]
    match_batch = next(b for b, rows in emitted.items() if (1, 7, 2) in rows)
    null_batch = next(b for b, rows in emitted.items() if (3, 8, None) in rows)
    # the null row CANNOT emit in the batch its data arrived in (batch 0) —
    # it needs the sentinel batch to move the watermark, then the eviction
    # pass emits it; the matched row needs no watermark at all
    assert match_batch == 0
    assert null_batch >= 2, f"null emitted too early (batch {null_batch})"

    # the self-join key stays the LEFT side's value on null rows (the
    # ambiguous-drop variant used to surface the right side's NULL here)
    assert (3, 8, None) in all_rows


def test_outer_join_output_filter_pushdown_trap(spark, tmp_path):
    """The Catalyst trap and its structural defusal: an output filter on a
    single-side column gets constraint-propagated into that source scan,
    prunes the watermark-flush sentinels, and the unmatched tail silently
    never emits. The join's surfaced key is coalesce(left.key, right.key) —
    a both-sides expression Catalyst CANNOT push below the join — so a
    'defensive' filter on the KEY is safe by construction (second run).
    A filter on a genuinely left-only column still exhibits the trap
    (third run) — that is a Spark semantics fact this test documents."""
    import time

    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark import streaming as ST

    d = str(tmp_path / "src")
    real = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "click"),
            (2, "2024-01-01 10:05:00", 7, "error"),
            (3, "2024-01-01 12:00:00", 8, "click"),
        ],
        "event_id int, ts string, user_id int, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sent = spark.createDataFrame(
        [(-1, "2024-02-01 10:00:00", -1, "click"),
         (-2, "2024-02-01 10:00:00", -2, "error")],
        "event_id int, ts string, user_id int, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    real.coalesce(1).write.parquet(d + "/b1")
    time.sleep(1.1)
    sent.coalesce(1).write.parquet(d + "/b2")

    def run(out_filter, name: str):
        ev = (
            spark.readStream.schema(
                "event_id int, ts timestamp, user_id int, event_type string"
            )
            .option("recursiveFileLookup", "true")
            .parquet(d)
        )
        clicks = ev.filter("event_type = 'click'").select(
            F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
        )
        errors = ev.filter("event_type = 'error'").select(
            F.col("event_id").alias("err_id"), "user_id", F.col("ts").alias("err_ts")
        )
        j = ST.stream_stream_outer_join(
            clicks, errors, key="user_id", left_ts="click_ts", right_ts="err_ts",
            watermark="1 minute", upper="10 minutes",
        )
        if out_filter is not None:
            j = j.filter(out_filter)
        out = j.select("click_id", "user_id", "err_id")
        q = (
            out.writeStream.format("memory").queryName(name).outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .start()
        )
        assert q.awaitTermination(180)
        return sorted(tuple(r) for r in spark.table(name).collect())

    # without the filter: complete result, sentinels invisible by construction
    assert run(None, "oj_nofilter") == [(1, 7, 2), (3, 8, None)]
    # filter on the surfaced KEY (a coalesce over both sides): cannot push
    # below the join, sentinels reach the watermark operator, null row kept
    assert run(F.col("user_id") >= 0, "oj_keyfilter") == [(1, 7, 2), (3, 8, None)]
    # filter on a left-only column: pushed into the left scan, left sentinel
    # pruned, left watermark frozen short of click_ts+upper — null row lost
    assert run(F.col("click_id") >= 0, "oj_leftfilter") == [(1, 7, 2)]


def test_foreachbatch_checkpoint_resume_continues_offsets(spark, tmp_path):
    """Restarting a foreachBatch stream from its checkpoint must process
    ONLY files that arrived after the first drain, with batch ids
    continuing (not restarting at 0) — the offset-tracking contract that
    makes idempotent-by-batch-id sinks exactly-once in effect."""
    import time

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    seen: list[tuple[int, list[int]]] = []

    def sink(batch_df, batch_id):
        seen.append((batch_id, sorted(r["v"] for r in batch_df.collect())))

    def drain():
        q = (
            spark.readStream.schema("v int")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    spark.createDataFrame([(1,)], "v int").coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame([(2,)], "v int").coalesce(1).write.mode("append").parquet(src)
    drain()
    first_run = list(seen)
    assert sorted(v for _, vs in first_run for v in vs) == [1, 2]

    spark.createDataFrame([(3,)], "v int").coalesce(1).write.mode("append").parquet(src)
    drain()
    second_run = seen[len(first_run):]
    # only the NEW file is processed, nothing re-emitted
    assert sorted(v for _, vs in second_run for v in vs) == [3]
    # batch ids continue across the restart
    assert min(b for b, _ in second_run) > max(b for b, _ in first_run)


@pytest.mark.parametrize("seed", [11, 23, 37])
def test_stream_stream_outer_jittered_traces_match_batch(spark, tmp_path, seed):
    """Watermark-delay × out-of-orderness property (r4 verdict item 6):
    random event-time jitter BOUNDED BY the watermark delay must leave the
    streamed outer join exactly equal to the batch join, for any trace.

    The bound is provable, not tuned: arrival slot i carries event time
    base + 60·i + jitter, |jitter| ≤ 300 s, watermark delay W = 1800 s.
    A row is late iff its ts < max(previous ts) − W; worst case
    (60·i − 300) < (60·(i−1) + 300) − 1800 reduces to −300 < −1560, false —
    so NO row in any jittered trace can be dropped, and stream ≡ batch is
    the exact contract. (Beyond-watermark lateness is pinned separately by
    test_stream_stream_outer_beyond_watermark_row_is_dropped.)"""
    import random
    import time

    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark import streaming as ST

    rng = random.Random(seed)
    base = 1704103200  # 2024-01-01 10:00:00 UTC
    rows = []
    for i in range(24):
        side = rng.choice(["click", "error"])
        user = rng.randrange(5)
        ts = base + 60 * i + rng.randint(-300, 300)
        rows.append((i, ts, user, side))

    d = str(tmp_path / "src")
    schema = "event_id int, ts timestamp, user_id int, event_type string"

    def frame(batch):
        return spark.createDataFrame(
            [(e, t, u, s) for e, t, u, s in batch],
            "event_id int, ts long, user_id int, event_type string",
        ).select("event_id", F.col("ts").cast("timestamp").alias("ts"),
                 "user_id", "event_type")

    for b in range(6):  # 6 arrival batches of 4 events, mtime-ordered
        frame(rows[b * 4:(b + 1) * 4]).coalesce(1).write.parquet(f"{d}/b{b}")
        time.sleep(1.1)
    sentinel = [(-1, base + 86400 * 30, -1, "click"),
                (-2, base + 86400 * 30, -2, "error")]
    frame(sentinel).coalesce(1).write.parquet(f"{d}/sent")

    def split(df):
        clicks = df.filter("event_type = 'click'").select(
            F.col("event_id").alias("click_id"), "user_id",
            F.col("ts").alias("click_ts"))
        errors = df.filter("event_type = 'error'").select(
            F.col("event_id").alias("err_id"), "user_id",
            F.col("ts").alias("err_ts"))
        return clicks, errors

    hows = ["leftOuter"] if seed != 11 else ["leftOuter", "fullOuter"]
    for how in hows:
        ev = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        clicks, errors = split(ev)
        out = ST.stream_stream_outer_join(
            clicks, errors, key="user_id", left_ts="click_ts",
            right_ts="err_ts", watermark="30 minutes", upper="10 minutes",
            how=how,
        ).select("click_id", "user_id", "err_id")
        name = f"jitter_{seed}_{how}"
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .start()
        )
        assert q.awaitTermination(240), "drain timed out"

        def nkey(t):
            return tuple((v is None, v if v is not None else 0) for v in t)

        got = sorted(
            (tuple(r) for r in spark.table(name).filter("user_id >= 0").collect()),
            key=nkey,
        )

        bc, be = split(frame(rows))
        be = be.withColumnRenamed("user_id", "__rkey")
        cond = (
            (F.col("user_id") == F.col("__rkey"))
            & (F.col("err_ts") > F.col("click_ts"))
            & (F.col("err_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 minutes"))
        )
        want = sorted(
            (
                tuple(r)
                for r in bc.join(be, cond, how)
                .withColumn("user_id", F.coalesce(F.col("user_id"), F.col("__rkey")))
                .select("click_id", "user_id", "err_id")
                .collect()
            ),
            key=nkey,
        )
        assert got == want, f"stream≢batch for seed={seed} how={how}"
        assert len(want) >= 4  # the trace is non-trivial


def test_stream_stream_outer_beyond_watermark_row_semantics(spark, tmp_path):
    """The other half of the jitter property, pinning Spark's ACTUAL
    beyond-watermark behavior (it is weaker than naive expectation, and
    worth documenting like the pushdown trap above): a right row whose
    event time is far behind the watermark at arrival is NOT dropped on
    input — stream-stream joins bound lateness through STATE EVICTION, and
    within a batch the join runs before eviction, so the late row still
    matches any state the watermark has not yet removed. The guarantee
    the watermark gives is one-sided: results stop changing once the
    watermark passes, not that late input is discarded. (Docs: "late rows
    may or may not get processed"; the jitter test above pins the strong
    exact-equivalence contract INSIDE the watermark bound.) Also pinned:
    the interval lower bound is strict (err_ts > click_ts), so a
    same-timestamp pair does not match."""
    import time

    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark import streaming as ST

    base = 1704103200
    d = str(tmp_path / "src")

    def write(batch, name):
        spark.createDataFrame(
            batch, "event_id int, ts long, user_id int, event_type string"
        ).select("event_id", F.col("ts").cast("timestamp").alias("ts"),
                 "user_id", "event_type").coalesce(1).write.parquet(f"{d}/{name}")
        time.sleep(1.1)

    # batch 0: the click; batch 1: far-future rows push the watermark;
    # batch 2: an error matching the click in event time, arriving hours
    # behind the watermark — observed: it still matches (see docstring)
    write([(1, base, 7, "click")], "b0")
    write([(50, base + 7200, 9, "click"), (51, base + 7200, 9, "error")], "b1")
    write([(2, base + 60, 7, "error")], "b2")
    write([(-1, base + 86400 * 30, -1, "click"),
           (-2, base + 86400 * 30, -2, "error")], "sent")

    ev = (
        spark.readStream.schema("event_id int, ts timestamp, user_id int, event_type string")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    clicks = ev.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts"))
    errors = ev.filter("event_type = 'error'").select(
        F.col("event_id").alias("err_id"), "user_id", F.col("ts").alias("err_ts"))
    out = ST.stream_stream_outer_join(
        clicks, errors, key="user_id", left_ts="click_ts", right_ts="err_ts",
        watermark="30 minutes", upper="10 minutes",
    ).select("click_id", "user_id", "err_id")
    q = (
        out.writeStream.format("memory").queryName("late_drop")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .start()
    )
    assert q.awaitTermination(240)
    got = sorted(
        (tuple(r) for r in spark.table("late_drop").filter("user_id >= 0").collect()),
        key=lambda t: tuple((v is None, v if v is not None else 0) for v in t),
    )
    # (1, 7, 2): the late error matched state not yet evicted in its batch.
    # (50, 9, None): click 50 null-pads — error 51 shares its timestamp and
    # the interval lower bound is STRICT, so they cannot pair.
    assert got == [(1, 7, 2), (50, 9, None)]


def test_stream_accumulate_sums_across_micro_batches(spark, tmp_path):
    """run_stream_accumulate with maxFilesPerTrigger=1 over a multi-file
    source: several micro-batches MUST occur, and the additive state must
    equal the batch groupBy sum exactly (sum-merge associativity ==
    micro-batch-boundary independence), decimals included."""
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.sources import load_table
    from arc_cassandra_pipeline_plugin_spark.streaming import run_stream_accumulate

    src = str(tmp_path / "events_accum")
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", F.col("value").cast("decimal(18,2)").alias("v"),
        F.lit(1).alias("one"),
    )
    ev.repartition(5).write.mode("overwrite").parquet(src)
    n_files = len([f for f in __import__("os").listdir(src) if f.endswith(".parquet")])
    assert n_files >= 5

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    final = run_stream_accumulate(
        stream, key_cols=("user_id",), sum_cols=("v", "one")
    )
    expected = ev.groupBy("user_id").agg(
        F.sum("v").cast("decimal(38,2)").alias("v"),
        F.sum("one").cast("bigint").alias("one"),
    )
    got = {(r["user_id"], r["v"], r["one"]) for r in final.collect()}
    want = {(r["user_id"], r["v"], r["one"]) for r in expected.collect()}
    assert got == want


@pytest.fixture
def drain_src(spark, tmp_path):
    """A two-file parquet source of 40 (k, v) rows over 4 keys."""
    src = str(tmp_path / "drain_src")
    spark.range(0, 40, 1, 2).selectExpr("id % 4 AS k", "id AS v").write.parquet(src)
    return src


def _drains(spark, src):
    """The three bounded drains, each over a fresh stream of ``src``."""
    from arc_cassandra_pipeline_plugin_spark import streaming as ST

    def stream():
        return spark.readStream.schema("k BIGINT, v BIGINT").parquet(src)

    return {
        "run_stream_to_memory": lambda: ST.run_stream_to_memory(
            stream().groupBy("k").sum("v"), "drain_probe_result"
        ),
        "run_stream_upsert": lambda: ST.run_stream_upsert(
            stream(), key_cols=("k",), order_cols=("v",)
        ),
        "run_stream_accumulate": lambda: ST.run_stream_accumulate(
            stream(), key_cols=("k",), sum_cols=("v",)
        ),
    }


def test_drains_delete_their_checkpoints(spark, drain_src, tmp_path, monkeypatch):
    import tempfile

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    for name, drain in _drains(spark, drain_src).items():
        assert drain().count() == 4, name
        assert list(tmp.glob("ckpt_*")) == [], name


def test_timed_out_drain_stops_the_query_and_raises(spark, drain_src, monkeypatch):
    from pyspark.sql.streaming.query import StreamingQuery

    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda self, timeout=None: False)
    for name, drain in _drains(spark, drain_src).items():
        with pytest.raises(RuntimeError, match="did not finish"):
            drain()
        assert spark.streams.active == [], name


def test_fold_without_a_micro_batch_raises(spark, tmp_path):
    from arc_cassandra_pipeline_plugin_spark.streaming import run_stream_accumulate

    empty = tmp_path / "empty"
    empty.mkdir()
    stream = spark.readStream.schema("k BIGINT, v BIGINT").parquet(str(empty))
    with pytest.raises(RuntimeError, match="no micro-batches"):
        run_stream_accumulate(stream, key_cols=("k",), sum_cols=("v",))


def test_streaming_load_batches_keep_the_user_data(spark, drain_src, tmp_path):
    """Every micro-batch runs the wrapped stage under the pipeline's own
    context, with only the streaming and immutable-view flags switched off."""
    seen = []

    class RecordingLoad(ParquetLoad):
        def _run(self, spark, ctx):
            seen.append((ctx.user_data, ctx.is_streaming, ctx.immutable_views))
            return super()._run(spark, ctx)

    spark.readStream.schema("k BIGINT, v BIGINT").parquet(drain_src).createOrReplaceTempView(
        "drain_src_stream"
    )
    ctx = PipelineContext(immutable_views=True, user_data={"run": "r1"})
    out = str(tmp_path / "out")
    StreamingLoad(
        name="sl_ctx",
        input_view="drain_src_stream",
        wrapped=RecordingLoad(name="inner", input_view="drain_src_batch", output_uri=out),
        checkpoint_uri=str(tmp_path / "ckpt"),
    ).execute(spark, ctx)
    assert seen and all(s == ({"run": "r1"}, False, False) for s in seen), seen
    assert spark.read.parquet(out).count() == 40
