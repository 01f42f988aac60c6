"""Structured Streaming layer (SURVEY.md §2.B Streaming-only).

Streams are unbounded tables: every factory here takes/returns ordinary
DataFrames, so the SAME window/session/dedup expressions run in batch
(queries/streaming_batch.py proves them against DuckDB) and in streaming
(tests/test_streaming.py proves batch-stream equivalence by file replay).

Watermarks bound state: with watermark W, window state older than
max_event_time − W is evicted and later rows are dropped — that bound is
what makes 100 TB/day streams possible with finite executor memory. Every
stateful factory below requires an explicit watermark for exactly that
reason.

Reference parity: etl4s has no streaming surface of its own; its Flink
examples delegate exactly like the Spark ones (docs/examples-flink.md).
This module is the native replacement.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream. ``max_files_per_trigger`` paces replay —
    essential for deterministic tests and for backfill throttling."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.format(fmt).load(path)


def kafka_stream_options(
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = True,
    **options,
) -> dict[str, str]:
    """Option map for a Kafka source stream (split out, like
    sources/batch.py _jdbc_options, so the contract is testable without
    the Kafka connector jar on the classpath).

    Scale notes — Kafka is the production stream source:
    - parallelism = topic partitions (one Spark task per partition);
      under-partitioned topics cap throughput no matter the cluster.
    - ``max_offsets_per_trigger`` bounds rows per micro-batch — THE
      backfill-safety knob: without it, a stream started at
      ``earliest`` pulls the whole retention window into batch 1.
    - ``fail_on_data_loss=False`` only for topics where aged-out
      offsets are acceptable (monitoring feeds, not ledgers).
    - exactly-once end-to-end needs an idempotent/transactional sink
      keyed on (topic, partition, offset) or batch_id (foreachBatch).
    """
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topics,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    opts.update({k: str(v) for k, v in options.items()})
    return opts


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    **kwargs,
) -> DataFrame:
    """Kafka source stream (requires the spark-sql-kafka connector on
    the classpath). Emits the standard columns (key/value binary,
    topic, partition, offset, timestamp); decode ``value`` with
    from_json/from_avro downstream and route parse failures through the
    quarantine pattern (queries/scalars.py q_json_quarantine)."""
    return (
        spark.readStream.format("kafka")
        .options(**kafka_stream_options(bootstrap_servers, topics, **kwargs))
        .load()
    )


def with_watermark(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    return df.withWatermark(ts_col, delay)


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    window: str,
    keys: list[str],
    aggs: list,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling windows. In streaming mode state per (window, keys) lives
    until the watermark passes the window end."""
    d = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    return d.groupBy(F.window(ts_col, window).alias("w"), *keys).agg(*aggs)


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    window: str,
    slide: str,
    keys: list[str],
    aggs: list,
    watermark: str = "10 minutes",
) -> DataFrame:
    d = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    return d.groupBy(F.window(ts_col, window, slide).alias("w"), *keys).agg(*aggs)


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    aggs: list,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Session windows (dynamic gap-merged state — streaming merges
    adjacent sessions as events arrive)."""
    d = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    return d.groupBy(F.session_window(ts_col, gap).alias("w"), *keys).agg(*aggs)


def stateful_dedup(
    df: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming dedup. With a ts_col + watermark, uses
    dropDuplicatesWithinWatermark: state for a key is held only one
    watermark interval — bounded memory, the at-scale variant. Plain
    dropDuplicates keeps ALL keys forever (only for bounded key spaces).
    """
    if ts_col is not None and df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    join_expr,
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join. Both sides get event-time watermarks and the
    join condition must include a time-range constraint between
    ``left_ts`` and ``right_ts`` — that pair is what lets Spark bound the
    join STATE (a side's rows are held only until the watermark proves no
    future match can arrive). Without the range constraint, state grows
    without bound; outer variants additionally need the watermark to know
    when to emit unmatched rows. Works unchanged on batch frames (no-op
    watermark), preserving the batch≡stream equivalence contract."""
    l = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    r = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    return l.join(r, join_expr, how)


def stateful_running_agg(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    state_timeout_ms: int = 0,
) -> DataFrame:
    """Arbitrary stateful processing via applyInPandasWithState: emits the
    running (count, sum) per key group on every trigger — the canonical
    custom-operator shape (enrichment caches, CEP, counters).

    State is one (count, sum) pair per key — O(|keys|) memory; with
    ``state_timeout_ms`` idle keys are evicted (ProcessingTimeTimeout).
    """
    out_schema = T.StructType(
        [
            *[df.schema[k] for k in keys],
            T.StructField("n_events", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("s", T.DoubleType())]
    )

    def update(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        if state_timeout_ms:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame([[*key, n, s]], columns=[*keys, "n_events", "total"])

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if state_timeout_ms else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(*keys).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def foreach_batch_collect(collector: list) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink that appends (batch_id, rows) — the test harness
    for asserting streaming output; production variants write to
    tables/JDBC with the same signature."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        collector.append((batch_id, batch_df.collect()))

    return sink


def versioned_upsert_batch(
    spark: SparkSession,
    target_base: str,
    batch_df: DataFrame,
    batch_id: int,
    merge_fn: Callable[[DataFrame | None, DataFrame], DataFrame],
) -> str:
    """Copy-on-write MERGE of one micro-batch into a versioned parquet
    target, idempotent under foreachBatch RETRIES: version N is keyed on
    the engine's ``batch_id`` (not a call counter) and computed purely
    from version N-1 plus batch N's content, so a batch re-delivered
    after a failure OVERWRITES ``v{N}`` with identical content instead
    of stacking a new version on top — the exactly-once contract
    Structured Streaming's foreachBatch docs require the sink to supply
    (the engine guarantees at-least-once delivery with stable batch
    ids; the sink must be idempotent per id). A lakehouse MERGE does the
    same thing with commit metadata instead of directories.

    ``merge_fn(prev, batch_df)`` folds the raw batch into the previous
    state (``prev`` is None for batch 0). Raises on a version-chain gap:
    applying batch N without ``v{N-1}`` present means a batch was lost,
    and silently treating it as batch 0 would corrupt the target.
    Returns the written version path."""
    import posixpath

    def _dir_exists(path: str) -> bool:
        # go through Hadoop's FS layer, not os.path: target_base may be
        # hdfs:// or s3a:// — driver-local isdir would report every
        # remote chain as broken
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jpath)) and bool(fs.getFileStatus(jpath).isDirectory())

    prev_path = posixpath.join(target_base, f"v{batch_id - 1}")
    if batch_id > 0:
        if not _dir_exists(prev_path):
            raise RuntimeError(
                f"versioned upsert chain gap: batch {batch_id} arrived but "
                f"{prev_path} does not exist"
            )
        prev: DataFrame | None = spark.read.parquet(prev_path)
    else:
        prev = None
    merged = merge_fn(prev, batch_df)
    dst = posixpath.join(target_base, f"v{batch_id}")
    merged.write.mode("overwrite").parquet(dst)
    return dst


def run_stream_to_memory(
    df: DataFrame,
    query_name: str,
    output_mode: str = "append",
) -> str:
    """Start a memory-sink query, process everything available, stop.
    Returns the SparkSession-queryable in-memory table name (the sink's
    temp view; the caller owns it and drops it when done).

    Failure contract: if the stream fails, the query is stopped and the
    sink's temp view is dropped before the StreamingQueryException
    propagates, so a failed run leaves no active query and no view."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    except BaseException:
        q.stop()
        df.sparkSession.catalog.dropTempView(query_name)
        raise
    q.stop()
    return query_name


class TwsProfileProcessor:
    """Typed-composite-state processor for transformWithStateInPandas
    (Spark 4.0's successor to applyInPandasWithState): a ValueState
    carries the running (count, sum) and a MapState carries per-category
    counts — each independently readable and point-updatable, the access
    pattern RocksDB-backed state stores index for (the old API forces
    the whole state through one opaque row blob). Emits the running
    per-key profile on every trigger: (key, n_events, total_micros,
    n_types, top_type), top_type = modal category with lexicographic
    tie-break (deterministic → batch-oracle-checkable).

    ENVIRONMENT NOTE: running this through
    ``df.groupBy(k).transformWithStateInPandas(...)`` requires the
    ``protobuf`` package (the state-server protocol,
    pyspark/sql/streaming/proto) which this container does not ship —
    the same class of gap as the Kafka/JDBC connectors (SURVEY
    engine-API-only list). The processor's STATE ALGEBRA is the custom
    logic and is pytest-proven against stub states
    (tests/test_scale_ops.py): cross-batch accumulation over any batch
    split equals the one-shot aggregate. ``tws_profile_agg`` wires it to
    the real API and raises a clear error when protobuf is absent.

    Subclasses pyspark's StatefulProcessor lazily (at wiring time) so
    the module imports without streaming extras."""

    def __init__(self, key: str, type_col: str, value_col: str) -> None:
        self._key = key
        self._type_col = type_col
        self._value_col = value_col

    # --- StatefulProcessor contract -------------------------------
    def init(self, handle) -> None:
        self._totals = handle.getValueState("totals", "n BIGINT, s BIGINT")
        self._per_type = handle.getMapState("per_type", "t STRING", "c BIGINT")

    def handleInputRows(self, key_, rows, timerValues=None):
        n, s = self._totals.get() if self._totals.exists() else (0, 0)
        type_counts: dict[str, int] = {}
        for pdf in rows:
            n += len(pdf)
            s += int(pdf[self._value_col].sum())
            for t_, c_ in pdf[self._type_col].value_counts().items():
                type_counts[t_] = type_counts.get(t_, 0) + int(c_)
        for t_, c_ in type_counts.items():
            prev = (
                self._per_type.getValue((t_,))[0]
                if self._per_type.containsKey((t_,))
                else 0
            )
            self._per_type.updateValue((t_,), (prev + c_,))
        self._totals.update((n, s))
        counts = {k_[0]: v_[0] for k_, v_ in self._per_type.iterator()}
        top = min(counts, key=lambda t_: (-counts[t_], t_))
        yield pd.DataFrame(
            {
                self._key: [key_[0]],
                "n_events": [n],
                "total_micros": [s],
                "n_types": [len(counts)],
                "top_type": [top],
            }
        )

    def close(self) -> None:
        pass


def tws_profile_agg(
    df: DataFrame,
    key: str,
    type_col: str,
    value_col: str,
) -> DataFrame:
    """Wire TwsProfileProcessor to transformWithStateInPandas. Raises a
    clear RuntimeError when the container lacks ``protobuf`` (required
    by the API's state-server protocol) — see TwsProfileProcessor."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as e:
        raise RuntimeError(
            "transformWithStateInPandas needs the 'protobuf' package for "
            "its state-server protocol; this environment does not ship it "
            "(engine-API-only surface — the processor algebra is "
            "pytest-proven; see TwsProfileProcessor docstring)"
        ) from e
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    out_schema = T.StructType(
        [
            df.schema[key],
            T.StructField("n_events", T.LongType()),
            T.StructField("total_micros", T.LongType()),
            T.StructField("n_types", T.LongType()),
            T.StructField("top_type", T.StringType()),
        ]
    )

    class _Bound(TwsProfileProcessor, StatefulProcessor):
        pass

    return df.groupBy(key).transformWithStateInPandas(
        statefulProcessor=_Bound(key, type_col, value_col),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
