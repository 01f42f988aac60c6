"""Structured Streaming tests: batch-stream equivalence by file replay
(SURVEY.md §5.2) — the windowed aggregation computed over the static
events table must equal the same expression replayed through a file
stream after all data is processed."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from etl4s_spark.sources.tables import load_table
from etl4s_spark.streaming import (
    file_stream,
    foreach_batch_collect,
    session_window_agg,
    stateful_dedup,
    stateful_running_agg,
    tumbling_window_agg,
)


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    """Materialize events (µs timestamps) as a 4-file parquet dir so the
    file stream replays in several micro-batches."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    shutil.rmtree(out, ignore_errors=True)
    load_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(out)
    return out


def _stream_events(spark, events_stream_dir, paced=True):
    schema = load_table(spark, "/root/testdata/sf0.001", "events").schema
    return file_stream(
        spark, events_stream_dir, schema, max_files_per_trigger=1 if paced else None
    )


def AGGS():
    # built lazily — Columns can't be constructed before the SparkContext
    return [
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    ]


def _normalize(rows):
    return sorted((str(r[0]), r[1], r[2]) for r in rows)


def test_tumbling_window_batch_stream_equivalence(spark, sf_dir, events_stream_dir):
    batch = tumbling_window_agg(
        load_table(spark, sf_dir, "events"), "ts", "10 minutes", ["event_type"], AGGS()
    ).select(F.col("w.start").alias("ws"), "n_events", "total_value")

    stream = tumbling_window_agg(
        _stream_events(spark, events_stream_dir), "ts", "10 minutes", ["event_type"], AGGS()
    ).select(F.col("w.start").alias("ws"), "n_events", "total_value")

    q = (
        stream.writeStream.format("memory")
        .queryName("tumbling_eq")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM tumbling_eq").collect()
    finally:
        q.stop()
    assert _normalize(got) == _normalize(batch.collect())


def test_session_window_batch_stream_equivalence(spark, sf_dir, events_stream_dir):
    batch = session_window_agg(
        load_table(spark, sf_dir, "events"), "ts", "30 minutes", ["user_id"], AGGS()
    ).select(F.col("w.start").alias("ws"), "n_events", "total_value")

    # replay order across files is arbitrary, so a finite watermark would
    # drop "late" rows that batch mode sees — equivalence needs an
    # effectively-infinite watermark (state never evicted, nothing late)
    stream = session_window_agg(
        _stream_events(spark, events_stream_dir),
        "ts",
        "30 minutes",
        ["user_id"],
        AGGS(),
        watermark="3650 days",
    ).select(F.col("w.start").alias("ws"), "n_events", "total_value")

    q = (
        stream.writeStream.format("memory")
        .queryName("session_eq")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM session_eq").collect()
    finally:
        q.stop()
    assert _normalize(got) == _normalize(batch.collect())


def test_watermark_drops_late_data(spark, tmp_path):
    """Replay two files in order: fresh data first, then a file whose
    events are far older than the watermark — the late rows must NOT
    create new windows in append-mode output."""
    import time

    d = str(tmp_path / "late")
    fresh = spark.createDataFrame(
        [(i, f"2024-06-01 12:{m:02d}:00", 1.0) for i, m in enumerate([0, 1, 2, 30, 31])],
        "id long, ts_s string, value double",
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    late = spark.createDataFrame(
        [(100, "2024-06-01 10:00:00", 99.0)], "id long, ts_s string, value double"
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"), "value")

    fresh.coalesce(1).write.mode("overwrite").parquet(d)
    stream = file_stream(spark, d, fresh.schema, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.sum("value").alias("total"))
    )
    q = agg.writeStream.format("memory").queryName("late_test").outputMode("append").start()
    try:
        q.processAllAvailable()
        # now drop in the late file; its 10:00 window is far behind the
        # watermark (max ts 12:31 − 5 min)
        late.coalesce(1).write.mode("append").parquet(d)
        q.processAllAvailable()
        time.sleep(0.5)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM late_test").collect()
    finally:
        q.stop()
    windows = {str(r.w.start) for r in rows}
    assert "2024-06-01 10:00:00" not in windows, f"late window leaked: {windows}"


def test_stateful_dedup_within_watermark(spark, tmp_path):
    d = str(tmp_path / "dedup")
    df = spark.createDataFrame(
        [(1, "2024-06-01 12:00:00"), (1, "2024-06-01 12:00:30"), (2, "2024-06-01 12:01:00")],
        "k long, ts_s string",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
    df.coalesce(1).write.mode("overwrite").parquet(d)
    stream = file_stream(spark, d, df.schema)
    deduped = stateful_dedup(stream, ["k"], ts_col="ts", watermark="10 minutes")
    q = deduped.writeStream.format("memory").queryName("dedup_test").outputMode("append").start()
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT k FROM dedup_test").collect()
    finally:
        q.stop()
    assert sorted(r.k for r in rows) == [1, 2]


def test_stateful_running_agg_across_batches(spark, tmp_path):
    """applyInPandasWithState accumulates across micro-batches: replaying
    2 files must produce a FINAL state equal to the global aggregate."""
    d = str(tmp_path / "state")
    part1 = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 10.0)], "k string, v double")
    part2 = spark.createDataFrame([("a", 4.0), ("b", 5.0)], "k string, v double")
    part1.coalesce(1).write.mode("overwrite").parquet(d)

    stream = file_stream(spark, d, part1.schema, max_files_per_trigger=1)
    counted = stateful_running_agg(stream, ["k"], "v")
    collected: list = []
    q = (
        counted.writeStream.outputMode("update")
        .foreachBatch(foreach_batch_collect(collected))
        .start()
    )
    try:
        q.processAllAvailable()
        part2.coalesce(1).write.mode("append").parquet(d)
        q.processAllAvailable()
    finally:
        q.stop()
    final: dict = {}
    for _bid, rows in collected:
        for r in rows:
            final[r.k] = (r.n_events, r.total)
    assert final == {"a": (3, 7.0), "b": (2, 15.0)}


def test_foreach_batch_sink_sees_batches(spark, tmp_path):
    d = str(tmp_path / "fb")
    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    df.coalesce(2).write.mode("overwrite").parquet(d)
    stream = file_stream(spark, d, df.schema)
    collected: list = []
    q = stream.writeStream.foreachBatch(foreach_batch_collect(collected)).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    all_ids = sorted(r.id for _b, rows in collected for r in rows)
    assert all_ids == list(range(10))


def test_streaming_restart_resumes_from_checkpoint(spark, tmp_path):
    """Exactly-once across RESTARTS: a file-sink query with a
    checkpointLocation is stopped, new data arrives, and a fresh query
    object on the same checkpoint must process ONLY the new batch —
    rows appear once each, never reprocessed, never lost. This is the
    recovery contract every production stream relies on."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    t0 = time.time()

    def add_batch(name, ids, mtime):
        p = str(src / name)
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), p)
        os.utime(p, (mtime, mtime))

    schema = T.StructType([T.StructField("id", T.LongType())])

    def start_query():
        return (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    add_batch("b0.parquet", [1, 2, 3], t0)
    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    add_batch("b1.parquet", [4, 5], t0 + 60)
    q2 = start_query()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 4, 5]


def test_kafka_option_contract():
    """Construct-only Kafka coverage (no broker/connector here): options
    land under the exact Spark names with correct stringification."""
    from etl4s_spark.streaming.core import kafka_stream_options

    opts = kafka_stream_options(
        "broker1:9092,broker2:9092",
        "events,clicks",
        starting_offsets="earliest",
        max_offsets_per_trigger=100_000,
        fail_on_data_loss=False,
        kafkaConsumerPollTimeoutMs=2000,
    )
    assert opts["kafka.bootstrap.servers"] == "broker1:9092,broker2:9092"
    assert opts["subscribe"] == "events,clicks"
    assert opts["startingOffsets"] == "earliest"
    assert opts["maxOffsetsPerTrigger"] == "100000"
    assert opts["failOnDataLoss"] == "false"
    assert opts["kafkaConsumerPollTimeoutMs"] == "2000"


def _boom(col: str):
    """``col`` unchanged, except that the row where it equals 1 raises."""
    return F.when(F.col(col) == 1, F.raise_error(F.lit("boom"))).otherwise(F.col(col))


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_run_stream_to_memory_failure_drops_sink_view(spark, tmp_path):
    """A stream that fails inside processAllAvailable leaves neither an
    active query, nor the memory sink's temp view, nor its temporary
    checkpoint dir (``temporary-<uuid>`` under the driver's
    java.io.tmpdir) behind."""
    from pyspark.errors import StreamingQueryException

    from etl4s_spark.streaming import run_stream_to_memory

    tmpdir = spark._jvm.java.lang.System.getProperty("java.io.tmpdir")

    def temp_checkpoints() -> set[str]:
        return {n for n in os.listdir(tmpdir) if n.startswith("temporary-")}

    src = spark.range(3)
    d = str(tmp_path / "src")
    src.write.parquet(d)
    failing = file_stream(spark, d, src.schema).select(_boom("id").alias("id"))
    before = temp_checkpoints()
    with pytest.raises(StreamingQueryException, match="boom"):
        run_stream_to_memory(failing, "failq")
    assert "failq" not in _temp_views(spark)
    assert not spark.streams.active
    assert not temp_checkpoints() - before


def _assert_replay_left_session_clean(spark, parts, views, replay_root):
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert _temp_views(spark) == views
    assert not spark.streams.active
    assert not os.listdir(replay_root)


STREAM_REPLAYS = [
    "q_stream_bitmap_distinct_replay",
    "q_stream_dedup_replay",
    "q_stream_dedup_wm_replay",
    "q_stream_join_replay",
    "q_stream_pyds_replay",
    "q_stream_session_replay",
    "q_stream_sink_replay",
    "q_stream_sliding_replay",
    "q_stream_state_replay",
    "q_stream_static_join_replay",
    "q_stream_topk_replay",
    "q_stream_tumbling_replay",
    "q_stream_upsert_replay",
    "q_stream_watermark_replay",
]


def test_stream_replay_list_covers_registry():
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    declared = {n for n in QUERIES if n.startswith("q_stream_") and n.endswith("_replay")}
    assert declared == set(STREAM_REPLAYS)


@pytest.mark.parametrize("name", STREAM_REPLAYS)
def test_stream_replay_matches_oracle_and_cleans_up(
    spark, sf_dir, duck, monkeypatch, tmp_path, name
):
    """Each replay's final state equals its DuckDB oracle, and the replay
    restores the session's shuffle partitions and leaves no temp view,
    no active query and no staged or sink files."""
    from conftest import compare_to_oracle

    from etl4s_spark.queries import ORACLES, QUERIES, load_all

    load_all()
    monkeypatch.setenv("SPARK_GRAFT_REPLAY_TMP", str(tmp_path))
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    views = _temp_views(spark)
    compare_to_oracle(QUERIES[name](spark, sf_dir), duck, ORACLES[name])
    _assert_replay_left_session_clean(spark, parts, views, tmp_path)


def test_replay_helpers_clean_up_after_failed_stream(spark, monkeypatch, tmp_path):
    from pyspark.errors import StreamingQueryException

    from etl4s_spark.queries.streaming_batch import _drain_to_memory, _replay_stream

    monkeypatch.setenv("SPARK_GRAFT_REPLAY_TMP", str(tmp_path))
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    views = _temp_views(spark)
    src = spark.range(3)
    with pytest.raises(StreamingQueryException, match="boom"):
        with _replay_stream(spark, src.schema, [src.toArrow()]) as stream:
            _drain_to_memory(spark, stream.select(_boom("id").alias("id")), "append")
    _assert_replay_left_session_clean(spark, parts, views, tmp_path)
