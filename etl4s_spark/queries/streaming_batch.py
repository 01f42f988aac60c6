"""Batch equivalents of the streaming window operators (SURVEY.md §2.B
Streaming): tumbling / sliding / session windows computed on the static
``events`` table with full SQL oracles.

The SAME ``F.window`` / ``F.session_window`` expressions run unchanged
on a ``readStream`` DataFrame — streaming/test coverage replays these
against files and asserts batch equivalence (tests/test_streaming.py).
That equivalence is the correctness argument Structured Streaming is
built on (stream = unbounded table).

The ``q_stream_*_replay`` queries put that argument under the oracle
gate: each one streams a bounded input and returns the final state,
which must equal the one-shot SQL. A replay is built from four helpers
over the streaming layer (streaming/core.py):

- ``_replay_stream(spark, schema, batches)`` stages Arrow tables as
  ordered single-file micro-batches, yields a ``file_stream`` paced at
  one file per trigger, and removes the staged dir on exit;
- ``_drain_to_memory(spark, df, mode)`` runs the stream to completion
  into a memory sink (``run_stream_to_memory``) under
  ``_REPLAY_PARTITIONS`` shuffle partitions, restores the session's
  count, and returns the sink's rows with its temp view dropped;
- ``_slices(tbl, k)`` cuts a table into k micro-batches;
- ``_sentinel(tbl)`` builds the far-future row that flushes
  watermark-bound state in append mode.

The three ``foreachBatch`` replays (sink, upsert, bitmap) stage through
``_replay_stream`` but own their sink and read-back.
``_REPLAY_PARTITIONS`` is a fixed constant, not a knob: every replay's
input is bounded by construction, so the count depends on nothing that
varies (see its comment).
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl4s_spark.queries import query
from etl4s_spark.sources.tables import load_table
from etl4s_spark.streaming.core import file_stream, run_stream_to_memory

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_DUCK_FMT = "%Y-%m-%d %H:%M:%S.%f"

# Shuffle/state partitions of every replay stream. State-store commit
# cost is per (micro-batch × partition), and every replay's input is
# bounded by construction (event_id < 20000, or 1000 synthdocs rows, at
# any sf), so a SMALL fixed count wins: r13 probes read 8 partitions
# ≈ 1.85 s vs 2 partitions ≈ 1.6-1.8 s per replay, with identical
# results (complete-mode final state is partition-count independent).
# The session's own count is the core count, which only adds commits
# per batch. This bounds per-batch fixed cost; it is not a throughput
# setting.
_REPLAY_PARTITIONS = 2


def _sink_table(spark: SparkSession, sink: str) -> DataFrame:
    """The rows of the memory sink ``sink``, with its temp view dropped.
    The returned DataFrame's analyzed plan holds the sink itself, so it
    keeps the rows; the catalog entry would otherwise outlive the query
    and pin one result per replay run in a long session."""
    df = spark.table(sink)
    spark.catalog.dropTempView(sink)
    return df


def _replay_tmpdir(prefix: str) -> str:
    """Scratch dir for staged replay micro-batch files (and upsert/bitmap
    sink targets). Prefer the tmpfs over disk-backed /tmp: the files are
    bounded by construction (every replay slices event_id < 20000), live
    only for the duration of one query, and the file-stream source
    re-reads them once per micro-batch. SPARK_GRAFT_REPLAY_TMP overrides
    (e.g. a cluster's fast scratch mount)."""
    import tempfile

    root = os.environ.get("SPARK_GRAFT_REPLAY_TMP") or (
        "/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def _stage_replay_files(tables, replay_dir: str) -> None:
    """Write arrow tables as ordered single-file micro-batches: the file
    stream source orders by modification time, so mtimes are pinned 60 s
    apart to force the batch sequence."""
    import time as _time

    import pyarrow.parquet as pq

    t0 = _time.time()
    for i, b in enumerate(tables):
        dst = os.path.join(replay_dir, f"batch-{i}.parquet")
        pq.write_table(b, dst)
        os.utime(dst, (t0 + 60 * i, t0 + 60 * i))


@contextmanager
def _replay_stream(spark: SparkSession, schema, batches):
    """A file stream replaying ``batches`` (Arrow tables) as one
    micro-batch each, in order. The staged files live in a
    ``_replay_tmpdir`` that is removed on exit: the memory sink or the
    foreachBatch target holds the rows by then."""
    replay_dir = _replay_tmpdir("etl4s_replay_")
    try:
        _stage_replay_files(batches, replay_dir)
        yield file_stream(spark, replay_dir, schema, max_files_per_trigger=1)
    finally:
        shutil.rmtree(replay_dir, ignore_errors=True)


def _drain_to_memory(spark: SparkSession, df: DataFrame, mode: str) -> DataFrame:
    """Run the streaming ``df`` to completion into a memory sink in
    output ``mode`` under ``_REPLAY_PARTITIONS`` shuffle partitions, and
    return the sink's rows (``_sink_table``). The session's partition
    count is restored even when the stream fails."""
    sink = f"replay_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_REPLAY_PARTITIONS))
    try:
        run_stream_to_memory(df, sink, mode)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return _sink_table(spark, sink)


def _slices(tbl, k: int) -> list:
    """``tbl`` cut into ``k`` consecutive slices of ⌈n/k⌉ rows (the last
    ones shorter, or empty)."""
    step = (tbl.num_rows + k - 1) // k
    return [tbl.slice(i * step, step) for i in range(k)]


def _sentinel(tbl):
    """The watermark-flush row for an events slice, and the slice's max
    ts: a '__sentinel' event 2 h past max(ts) pushes the watermark past
    every real window or session, and the trailing no-data micro-batch
    lets append mode emit them all. On an empty slice max(ts) is NULL;
    any fixed base works, since the sentinel then only advances the
    watermark past nonexistent data."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc

    mx_ts = pc.max(tbl["ts"]).as_py() or datetime.datetime(2024, 1, 1)
    values = {
        "event_id": -1,
        "ts": mx_ts + datetime.timedelta(hours=2),
        "user_id": -1,
        "event_type": "__sentinel",
        "value": 0.0,
        "props": "{}",
    }
    row = pa.table({f.name: pa.array([values[f.name]], f.type) for f in tbl.schema})
    return row, mx_ts


@query(
    "q_window_tumbling_batch",
    oracle=f"""
    SELECT strftime(to_timestamp(floor(epoch(ts) / 600) * 600), '{_DUCK_FMT}') AS window_start,
           event_type,
           count(*)             AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_window_tumbling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling windows per event_type. In streaming this is
    exactly `readStream → withWatermark → groupBy(window(...))`."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "q_window_sliding_batch",
    oracle=f"""
    WITH offs(off) AS (VALUES (0), (300))
    SELECT strftime(to_timestamp(floor((epoch(ts) - off) / 600) * 600 + off),
                    '{_DUCK_FMT}')  AS window_start,
           count(*)                 AS n_events,
           CAST((2 * CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
                 + count(*) * 100)
                // (2 * count(*) * 100) AS BIGINT) / 10000.0 AS avg_value
    FROM events CROSS JOIN offs
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_window_sliding_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in exactly 2
    windows (the oracle reproduces that with the two start offsets).

    avg is an exact decimal sum pushed through INTEGER half-up division
    to 4 dp (micro-units / (n·100)): the earlier decimal-sum-as-double /
    count formulation was already order-independent, but round(double, 4)
    still split on a 4-dp half boundary at sf0.1 — Spark rounds the
    shortest decimal repr, DuckDB the binary value (FIXTURES.md §C).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "CAST((2 * CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)"
                " + count(1) * 100) div (2 * count(1) * 100) AS BIGINT) / 10000.0D"
            ).alias("avg_value"),
        )
        .select(
            F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
            "n_events",
            "avg_value",
        )
        .orderBy("window_start")
    )


@query(
    "q_stream_tumbling_replay",
    oracle=f"""
    SELECT strftime(to_timestamp(floor(epoch(ts) / 600) * 600), '{_DUCK_FMT}') AS window_start,
           event_type,
           count(*)                                              AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
    FROM events
    WHERE event_id < 20000
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_stream_tumbling_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUALLY-STREAMED tumbling windows: events are re-materialized as
    a multi-file directory, replayed through a file-source stream in
    paced micro-batches into an in-memory complete-mode sink, and the
    final state is proven equal to the one-shot SQL aggregation — the
    stream-is-an-unbounded-table guarantee, checked by the oracle gate
    itself rather than only by pytest.

    Sums are carried as decimals so the micro-batch accumulation order
    cannot move the rounded result. The replayed slice is BOUNDED
    (event_id < 20000, like every other replay): the stream-equals-batch
    proof needs micro-batch structure, not corpus volume — an unbounded
    driver-side staging would grow linearly with sf."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
    # one Spark scan; 4 ordered micro-batch files staged driver-side
    with _replay_stream(spark, ev.schema, _slices(ev.toArrow(), 4)) as stream:
        agg = stream.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("total_value"),
        )
        out = _drain_to_memory(spark, agg, "complete")
    return out.select(
        F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    ).orderBy("window_start", "event_type")


@query(
    "q_stream_watermark_replay",
    oracle=f"""
    WITH wm AS (
      SELECT max(ts) - INTERVAL 30 MINUTE AS w1
      FROM events WHERE event_id < 20000 AND event_id % 2 = 0
    ),
    kept AS (
      SELECT ts, value FROM events
      WHERE event_id < 20000
        AND (event_id % 2 = 0
             OR to_timestamp(floor(epoch(ts) / 600) * 600 + 600) > (SELECT w1 FROM wm))
    )
    SELECT strftime(to_timestamp(floor(epoch(ts) / 600) * 600), '{_DUCK_FMT}') AS window_start,
           count(*)                                                    AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
    FROM kept
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_stream_watermark_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUALLY-STREAMED watermark semantics, oracle-gated: events replay
    through a file stream in three controlled micro-batches —

      batch 1: even-event_id rows (sets watermark W1 = max(even ts) − 30m),
      batch 2: an EMPTY settling file — the stateful operator picks a new
               watermark up one batch after it is computed (measured on
               pyspark 4.1.2: a late row in the very next batch is still
               accepted), so this batch locks W1 in before the late data,
      batch 3: odd-event_id rows — those in windows already closed under
               W1 (window end <= W1) are DROPPED as late data,
      batch 4: a '__sentinel' row 2 h past max(ts), pushing the watermark
               past every real window; the trailing no-data micro-batch
               applies it and append mode emits them all.

    The oracle re-derives exactly which odd rows survive (window end >
    W1) with plain SQL — proving Spark's late-data drop rule equals the
    batch filter. File processing order is forced with explicit mtimes +
    maxFilesPerTrigger=1; decimal-carried sums make the result
    independent of accumulation order.

    Covers the reference's streaming watermark/late-data bullet
    (SURVEY.md §2.B) with a hard driver-gate check rather than only
    pytest equivalence."""
    import pyarrow.compute as pc

    # bounded slice: replay cost is micro-batch/state-store overhead, not
    # data volume — 20k events exercise identical semantics at any sf
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
    # ONE Spark scan; the replay files are tiny and written driver-side
    # (this is test-harness staging, not a data path)
    tbl = ev.toArrow()
    sentinel, mx_ts = _sentinel(tbl)
    even_mask = pc.equal(pc.bit_wise_and(tbl["event_id"], 1), 0)
    batches = [
        tbl.filter(even_mask),
        tbl.slice(0, 0),  # settling batch: applies W1 to the operator
        tbl.filter(pc.invert(even_mask)),
        sentinel,
    ]
    with _replay_stream(spark, ev.schema, batches) as stream:
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
                ).alias("total_value"),
            )
        )
        out = _drain_to_memory(spark, agg, "append")
    return (
        # the sentinel's own window never finalizes, but filter defensively
        # in case emission semantics ever include it (real windows all
        # start at or before the max real event time)
        out.filter(F.col("w.start") <= F.lit(mx_ts))
        .select(
            F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
            "n_events",
            "total_value",
        )
        .orderBy("window_start")
    )


# 4-dp half-up rounding of a 6-dp-exact decimal, done as INTEGER division
# of micro-units — round(CAST(dec AS DOUBLE), 4) hits the Spark
# shortest-repr vs DuckDB binary-value divergence whenever the decimal
# lands on a 4-dp half boundary (positive domain)
def _duck_r4(expr: str) -> str:
    return f"CAST((2 * CAST({expr} * 1000000 AS BIGINT) + 100) // 200 AS BIGINT) / 10000.0"


_DUCK_AVG4 = (
    "CAST((2 * CAST(sum(dv) * 1000000 AS BIGINT) + count(*) * 100)"
    " // (2 * count(*) * 100) AS BIGINT) / 10000.0"
)


def _rollup_level_sql(res: str, trunc: str) -> str:
    return f"""
    SELECT '{res}' AS resolution,
           strftime(date_trunc('{trunc}', ts), '{_DUCK_FMT}') AS bucket_start,
           event_type, count(*) AS n_events,
           {_duck_r4("sum(dv)")} AS total_value,
           {_duck_r4("min(dv)")} AS min_value,
           {_duck_r4("max(dv)")} AS max_value,
           {_DUCK_AVG4} AS avg_value
    FROM v GROUP BY 2, 3"""


@query(
    "q_rollup_hierarchy",
    oracle=f"""
    WITH v AS (
      SELECT ts, event_type, CAST(value AS DECIMAL(18,6)) AS dv FROM events
    )
    {_rollup_level_sql("minute", "minute")}
    UNION ALL
    {_rollup_level_sql("hour", "hour")}
    UNION ALL
    {_rollup_level_sql("day", "day")}
    ORDER BY 1, 2, 3
    """,
)
def q_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate hierarchy: minute → hour →
    day rollups per event_type, each coarser level re-aggregated from the
    finer one (raw scanned once; see operators/rollup.py). The oracle
    aggregates each level straight from raw — results match exactly
    because sums are carried as decimals (order-independent) and the avg
    is rounded by exact INTEGER half-up division of micro-unit sums:
    round(double_sum/n, 4) diverged at sf0.001, where a bucket landed on
    a 4-dp half boundary (38.37875) — Spark half-ups the shortest
    decimal repr while DuckDB rounds the binary double (the
    q_ts_interpolate divergence, caught here by the sf0.001 sweep)."""
    from etl4s_spark.operators.rollup import rollup_hierarchy

    ev = load_table(spark, sf_dir, "events").withColumn(
        "dv", F.col("value").cast("decimal(18,6)")
    )
    r = rollup_hierarchy(ev, "ts", "dv", keys=["event_type"])

    # exact integer half-up to 4 dp from 6-dp decimals (see oracle note)
    def r4(col: str):
        return F.expr(
            f"(2 * CAST({col} * 1000000 AS BIGINT) + 100) div 200"
        ) / F.lit(10000.0)

    return r.select(
        "resolution",
        F.date_format("bucket_start", _TS_FMT).alias("bucket_start"),
        "event_type",
        "n_events",
        r4("total_value").alias("total_value"),
        r4("min_value").alias("min_value"),
        r4("max_value").alias("max_value"),
        (
            F.expr(
                "(2 * CAST(total_value * 1000000 AS BIGINT) + n_events * 100) "
                "div (2 * n_events * 100)"
            )
            / F.lit(10000.0)
        ).alias("avg_value"),
    ).orderBy("resolution", "bucket_start", "event_type")


@query(
    "q_stream_session_replay",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, ts, value FROM events WHERE event_id < 20000
    ), marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '{_DUCK_FMT}')                            AS session_start,
           count(*)                                                    AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def q_stream_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUALLY-STREAMED session windows (30-min gap) per user, append
    mode + watermark, proven equal to the batch gaps-and-islands SQL:
    events replay as one micro-batch, then a far-future '__sentinel' row
    advances the watermark past every session end so append emits the
    final merged sessions (Spark merges session state as data arrives;
    the trailing no-data micro-batch flushes once the watermark passes).
    Same staging as q_stream_watermark_replay; decimal-carried sums keep
    the result independent of accumulation order."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
    tbl = ev.toArrow()
    with _replay_stream(spark, ev.schema, [tbl, _sentinel(tbl)[0]]) as stream:
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
                ).alias("total_value"),
            )
        )
        out = _drain_to_memory(spark, agg, "append")
    return (
        out.filter(F.col("user_id") >= 0)  # the sentinel's session never emits
        .select(
            "user_id",
            F.date_format(F.col("w.start"), _TS_FMT).alias("session_start"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "q_stream_sliding_replay",
    oracle=f"""
    WITH offs(off) AS (VALUES (0), (300))
    SELECT strftime(to_timestamp(floor((epoch(ts) - off) / 600) * 600 + off),
                    '{_DUCK_FMT}')  AS window_start,
           count(*)                 AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
    FROM events CROSS JOIN offs
    WHERE event_id < 20000
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_stream_sliding_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUALLY-STREAMED sliding windows (10 min window / 5 min slide —
    every event lands in exactly TWO overlapping windows), replayed in
    two micro-batches into a complete-mode sink and proven equal to the
    two-offset batch SQL. Completes the streamed-replay family: every
    window type in the streaming table (tumbling/sliding/session/
    watermark/join/dedup/arbitrary state) now has an oracle-gated
    replay. Decimal-carried sums keep micro-batch accumulation order out
    of the result."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
    with _replay_stream(spark, ev.schema, _slices(ev.toArrow(), 2)) as stream:
        agg = stream.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w")).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias(
                "total_value"
            ),
        )
        out = _drain_to_memory(spark, agg, "complete")
    return out.select(
        F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
        "n_events",
        "total_value",
    ).orderBy("window_start")


@query(
    "q_stream_join_replay",
    oracle="""
    WITH ev AS (
      SELECT event_id, ts, user_id, event_type
      FROM events WHERE event_id < 20000
    )
    SELECT v.user_id AS user_id,
           v.event_id AS view_id,
           c.event_id AS click_id
    FROM ev v JOIN ev c
      ON v.event_type = 'view' AND c.event_type = 'click'
     AND v.user_id = c.user_id
     AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    ORDER BY v.user_id, view_id, click_id
    """,
)
def q_stream_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUALLY-STREAMED stream-stream join: view→click attribution
    within 30 minutes per user, both sides derived from one replayed
    file stream with event-time watermarks (streaming/core.py
    stream_stream_join). The time-range constraint is what bounds join
    state at scale; the oracle is the plain batch join — inner
    stream-stream joins emit exactly the batch result once the replay
    drains."""
    from etl4s_spark.streaming.core import stream_stream_join

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
    with _replay_stream(spark, ev.schema, [ev.toArrow()]) as stream:
        views = stream.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        clicks = stream.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        joined = stream_stream_join(
            views,
            clicks,
            "v_ts",
            "c_ts",
            (F.col("user_id") == F.col("c_user_id"))
            & (F.col("c_ts") > F.col("v_ts"))
            & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        ).select("user_id", "view_id", "click_id")
        out = _drain_to_memory(spark, joined, "append")
    return out.orderBy("user_id", "view_id", "click_id")


@query(
    "q_stream_dedup_replay",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events WHERE event_id < 20000
    ORDER BY event_id
    """,
)
def q_stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUALLY-STREAMED exact dedup: the same events replay TWICE in two
    micro-batches through streaming dropDuplicates state — every row must
    be emitted exactly once (the second arrival hits existing state, even
    across batches), proven against plain DISTINCT. This is the streaming
    half of the exact-dedup tier; dropDuplicatesWithinWatermark
    (streaming/core.py stateful_dedup) is the bounded-state variant when
    keys don't repeat outside a time horizon."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
    tbl = ev.toArrow()
    # duplicates across batches
    with _replay_stream(spark, ev.schema, [tbl, tbl]) as stream:
        deduped = stream.select("event_id", "user_id", "event_type").dropDuplicates(
            ["event_id"]
        )
        out = _drain_to_memory(spark, deduped, "append")
    return out.orderBy("event_id")


@query(
    "q_stream_state_replay",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
                AS BIGINT) AS total_micros
    FROM events WHERE event_id < 8000
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_stream_state_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUALLY-STREAMED arbitrary stateful processing, oracle-gated: the
    events slice replays in TWO micro-batches through
    ``stateful_running_agg`` (streaming/core.py — applyInPandasWithState,
    one (count, sum) state pair per user), the update-mode sink records
    every per-trigger emission, and the LAST emission per key (max
    n_events — the running count strictly increases whenever a key
    appears) must equal the one-shot batch groupBy. That is the
    arbitrary-state contract: state accumulated across micro-batches
    converges to the batch aggregate.

    Values are pre-scaled to exact integer micros (decimal→long→double,
    exact under 2^53) so the Python-side float accumulation is
    order-independent and the final total compares as a BIGINT with no
    rounding anywhere. Covers SURVEY §2.B streaming 'arbitrary state'
    (VERDICT r2 item 2)."""
    from etl4s_spark.streaming.core import stateful_running_agg

    # bounded slice: the replay cost is per (micro-batch x key-group)
    # Python invocation, not data volume — 2 batches over a few thousand
    # keys prove cross-batch state at any sf
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 8000)
        .select(
            "user_id",
            (F.col("value").cast("decimal(18,6)") * 1000000)
            .cast("long")
            .cast("double")
            .alias("value_micros"),
        )
    )
    with _replay_stream(spark, ev.schema, _slices(ev.toArrow(), 2)) as stream:
        running = stateful_running_agg(stream, ["user_id"], "value_micros")
        out = _drain_to_memory(spark, running, "update")
    return (
        out.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total")).alias("last"))
        .select(
            "user_id",
            F.col("last.n_events").alias("n_events"),
            F.col("last.total").cast("long").alias("total_micros"),
        )
        .orderBy("user_id")
    )


@query(
    "q_stream_sink_replay",
    oracle="""
    SELECT event_id, user_id, round(value, 4) AS value
    FROM events WHERE event_id < 20000
    ORDER BY event_id
    """,
)
def q_stream_sink_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUALLY-STREAMED foreachBatch FILE SINK: the events slice
    replays in two micro-batches; each batch lands in a parquet
    directory via foreachBatch append (the production sink shape for
    tables/JDBC/upserts — streaming/core.py foreach_batch_collect is
    the test twin). Reading the directory back must yield every source
    row exactly once — the sink side of the streaming contract, under
    the oracle gate rather than pytest only. In production foreachBatch
    writes are made idempotent by keying on batch_id (overwrite-by-
    partition or MERGE); append is exact here because the replay runs
    failure-free start-to-finish."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 20000)
        .select("event_id", "user_id", F.round("value", 4).alias("value"))
    )
    with _replay_stream(spark, ev.schema, _slices(ev.toArrow(), 2)) as stream:
        out_root = _replay_tmpdir("etl4s_sink_replay_out_")
        out_dir = out_root + "/out"

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("append").parquet(out_dir)

        q = stream.writeStream.foreachBatch(sink).start()
        try:
            q.processAllAvailable()
            # materialize BEFORE cleanup: the returned frame must not lazily
            # reference the temp sink (the q_stream_upsert_replay rule —
            # otherwise one versioned temp dir leaks per invocation)
            out_tbl = spark.read.parquet(out_dir).orderBy("event_id").toArrow()
        finally:
            q.stop()
            shutil.rmtree(out_root, ignore_errors=True)
    # hand the Arrow table to createDataFrame directly (Spark 4 accepts
    # pyarrow tables): the old .to_pandas() hop could alter nullability/
    # dtypes and raises on an empty result (ADVICE r5)
    return spark.createDataFrame(out_tbl)


@query(
    "q_window_session_batch",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '{_DUCK_FMT}') AS session_start,
           count(*)                         AS n_events,
           round(sum(value), 4)             AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def q_window_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user via
    F.session_window — the oracle reproduces them with the classic
    gaps-and-islands SQL. Spark's session_window is half-open
    [start, start+gap): an event exactly 30 minutes after the previous
    one starts a NEW session, so the oracle's new-session predicate is
    ``>=`` (ADVICE r1). Streaming form: identical expression +
    watermark."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), _TS_FMT).alias("session_start"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


def _upsert_merge_fn(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """Fold one raw micro-batch into per-user upsert state: (n_events
    running count, arg-max-by-(ts,event_id) last-value struct) — both
    associative, so merging per-batch partials equals the one-shot batch
    aggregate. Module-level so the retry-idempotency pytest exercises
    the EXACT function the declared query streams through."""
    agg = batch_df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.struct("ts", "event_id", "value")).alias("cand"),
    )
    if prev is None:
        return agg
    return (
        prev.alias("t")
        .join(agg.alias("b"), "user_id", "full_outer")
        .select(
            "user_id",
            (
                F.coalesce(F.col("t.n_events"), F.lit(0))
                + F.coalesce(F.col("b.n_events"), F.lit(0))
            ).alias("n_events"),
            # greatest() skips nulls: unmatched rows keep their side
            F.greatest(F.col("t.cand"), F.col("b.cand")).alias("cand"),
        )
    )


@query(
    "q_stream_static_join_replay",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, ts, user_id, value
      FROM events WHERE event_id < 20000
    )
    SELECT c.c_nationkey                                      AS nationkey,
           n.n_name                                           AS nation,
           CAST(count(*) AS BIGINT)                           AS n_events,
           round(CAST(sum(CAST(ev.value AS DECIMAL(18,6))) AS DOUBLE), 4)
                                                              AS total_value
    FROM ev
    JOIN customer c ON c.c_custkey = ev.user_id + 1
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    GROUP BY 1, 2
    ORDER BY 1
    """,
)
def q_stream_static_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUALLY-STREAMED stream-static enrichment — the most common
    production streaming shape (fact stream ⨝ dimension table): replayed
    events join a STATIC customer→nation dim inside the micro-batch
    plan, aggregated per nation in complete mode. The static side needs
    no watermark and holds no state — Spark broadcasts it into every
    micro-batch (at scale the dim is re-read per batch, which is exactly
    how slowly-changing enrichment stays fresh without restarting the
    stream). Decimal-carried sums make micro-batch accumulation order
    irrelevant; the oracle is the one-shot batch join+aggregate."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 20000)
        .select("event_id", "ts", "user_id", "value")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = cust.join(nat, cust.c_nationkey == nat.n_nationkey).select(
        "c_custkey",
        F.col("c_nationkey").alias("nationkey"),
        F.col("n_name").alias("nation"),
    )
    with _replay_stream(spark, ev.schema, _slices(ev.toArrow(), 2)) as stream:
        enriched = stream.join(F.broadcast(dim), stream.user_id + 1 == dim.c_custkey)
        agg = enriched.groupBy("nationkey", "nation").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("total_value"),
        )
        out = _drain_to_memory(spark, agg, "complete")
    return out.orderBy("nationkey")


@query(
    "q_stream_upsert_replay",
    oracle=f"""
    WITH ev AS (
      SELECT * FROM events WHERE event_id < 20000
    ), counts AS (
      SELECT user_id, count(*) AS n_events FROM ev GROUP BY user_id
    ), last AS (
      SELECT user_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM ev
    )
    SELECT c.user_id, c.n_events,
           round(l.value, 4)            AS last_value,
           strftime(l.ts, '{_DUCK_FMT}') AS last_ts
    FROM counts c JOIN last l ON c.user_id = l.user_id AND l.rn = 1
    ORDER BY c.user_id
    """,
)
def q_stream_upsert_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUALLY-STREAMED foreachBatch UPSERT (MERGE) sink: each
    micro-batch merges its per-user aggregate into a keyed parquet
    target — the streaming→warehouse pattern q_stream_sink_replay's
    append cannot express. The merge is read-target → full-outer-join
    batch-aggregate → write version ``v{{batch_id}}`` (copy-on-write:
    the poor-engine's MERGE, via streaming/core.py
    versioned_upsert_batch; a lakehouse format does the same thing with
    metadata instead of directories). Versions are keyed on the
    ENGINE'S batch_id, so a batch retried after a failure rewrites
    v{{N}} from v{{N-1}} — a pure function of batch content, never
    double-applied (tests/test_round5_ops.py proves the retry path).

    The per-user state is (n_events SUM, arg-max-by-(ts,event_id)
    struct) — both associative, so merging per-batch partials MUST
    equal the one-shot batch aggregate the oracle computes. Replays in
    two micro-batches split mid-stream to prove it."""
    from etl4s_spark.streaming.core import versioned_upsert_batch

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 20000)
        .select("event_id", "ts", "user_id", "value")
    )
    with _replay_stream(spark, ev.schema, _slices(ev.toArrow(), 2)) as stream:
        target_base = _replay_tmpdir("etl4s_upsert_target_")
        versions: list[str] = []

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            dst = versioned_upsert_batch(
                spark, target_base, batch_df, batch_id, _upsert_merge_fn
            )
            versions.append(dst)

        q = stream.writeStream.foreachBatch(merge_batch).start()
        try:
            q.processAllAvailable()
            # materialize the final version eagerly so the target can be
            # removed before returning (the result is a bounded per-user
            # aggregate; a lazy reader over versions[-1] would leak it)
            final_tbl = (
                spark.read.parquet(versions[-1])
                .select(
                    "user_id",
                    "n_events",
                    F.round(F.col("cand.value"), 4).alias("last_value"),
                    F.date_format(F.col("cand.ts"), _TS_FMT).alias("last_ts"),
                )
                .orderBy("user_id")
                .toArrow()
            )
        finally:
            q.stop()
            shutil.rmtree(target_base, ignore_errors=True)
    return (
        spark.createDataFrame(final_tbl)
        .select(
            F.col("user_id").cast("long"),
            F.col("n_events").cast("long"),
            "last_value",
            "last_ts",
        )
        .orderBy("user_id")
    )


@query(
    "q_stream_dedup_wm_replay",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events WHERE event_id < 20000
    ORDER BY event_id
    """,
)
def q_stream_dedup_wm_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUALLY-STREAMED bounded-state dedup: the same events replay
    twice through ``dropDuplicatesWithinWatermark`` (streaming/core.py
    stateful_dedup — the 100 TB variant of q_stream_dedup_replay's
    plain dropDuplicates, whose per-key state never expires). State for
    a key lives ONE watermark interval past its event time; the horizon
    here (30 days) exceeds the slice's 6-day span so the second arrival
    is guaranteed to hit live state and the output is exactly-once —
    production sizes the horizon to the source's re-delivery window
    (e.g. Kafka retention), which is the entire point: state is bounded
    by horizon × arrival rate, not by corpus cardinality."""
    from etl4s_spark.streaming.core import stateful_dedup

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 20000)
        .select("event_id", "ts", "user_id", "event_type")
    )
    tbl = ev.toArrow()
    # duplicates across batches
    with _replay_stream(spark, ev.schema, [tbl, tbl]) as stream:
        deduped = stateful_dedup(
            stream, ["event_id"], ts_col="ts", watermark="30 days"
        ).select("event_id", "user_id", "event_type")
        out = _drain_to_memory(spark, deduped, "append")
    return out.orderBy("event_id")


@query(
    "q_funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.v_ts
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.c_ts
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT step, n_users FROM (
      SELECT 1 AS ord, 'view' AS step,    (SELECT count(*) FROM v) AS n_users
      UNION ALL
      SELECT 2, 'view>click',             (SELECT count(*) FROM c)
      UNION ALL
      SELECT 3, 'view>click>purchase',    (SELECT count(*) FROM p)
    ) ORDER BY ord
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel analysis: users who viewed, then clicked AT OR
    AFTER their first view, then purchased at or after that click —
    order matters, which is what separates a funnel from three filters.
    Three conditional-min aggregations chained by equi-joins on user_id.
    Every stage keys on the SAME column: locally the per-stage firsts
    are small and Catalyst broadcasts them (the audited plan); at scale
    they exceed the threshold and the chain becomes sort-merge joins
    whose exchanges all share the user_id partitioning. No window over
    the full stream, no per-user collect. The oracle chains the same
    min-joins as CTEs."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    rows = [
        v.agg(F.lit(1).alias("ord"), F.lit("view").alias("step"), F.count(F.lit(1)).alias("n_users")),
        c.agg(F.lit(2).alias("ord"), F.lit("view>click").alias("step"), F.count(F.lit(1)).alias("n_users")),
        p.agg(F.lit(3).alias("ord"), F.lit("view>click>purchase").alias("step"), F.count(F.lit(1)).alias("n_users")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("ord").select("step", "n_users")


@query(
    "q_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS d0 FROM events GROUP BY user_id
    ), cohorted AS (
      SELECT f.user_id,
             CAST(date_trunc('week', f.d0) AS DATE)                       AS cohort_week,
             CAST(floor(date_diff('day', f.d0, CAST(e.ts AS DATE)) / 7.0) AS INT)
                                                                          AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_offset,
           count(DISTINCT user_id) AS n_active
    FROM cohorted
    WHERE week_offset <= 4
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the classic product-analytics shape: users
    cohort by the week of their FIRST event, and each later event
    lands in a week offset from that personal day-0; the cell value is
    distinct active users. The first-event aggregate and the join back
    both key on user_id — broadcast locally (the audited plan: firsts
    is small), a partitioning-aligned sort-merge join at scale — plus
    one shuffle on the cohort cell; the distinct-count
    partial-aggregates map-side. Dates are compared as DATE on both
    sides to dodge tz/precision."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(F.min("ts").cast("date").alias("d0"))
    cohorted = ev.join(firsts, "user_id").select(
        "user_id",
        F.date_trunc("week", "d0").cast("date").alias("cohort_week"),
        F.floor(F.datediff(F.col("ts").cast("date"), F.col("d0")) / 7.0)
        .cast("int")
        .alias("week_offset"),
    )
    return (
        cohorted.filter(F.col("week_offset") <= 4)
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


_ZQ_RAMP8 = (
    "[-1.5275252316519468, -1.091089451179962, -0.6546536707079772, "
    "-0.2182178902359924, 0.2182178902359924, 0.6546536707079772, "
    "1.091089451179962, 1.5275252316519468]"
)


@query(
    "q_ts_pattern_topk",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, ts, event_id, value FROM events WHERE event_id < 20000
    ), win AS (
      SELECT user_id,
             row_number() OVER w AS start_pos,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS vals
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), full8 AS (
      SELECT * FROM win WHERE len(vals) = 8
    ), m1 AS (
      SELECT user_id, start_pos, vals, list_sum(vals) / 8 AS m FROM full8
    ), m2 AS (
      SELECT user_id, start_pos, vals, m,
             sqrt(list_sum(list_transform(vals, x -> (x - m) * (x - m))) / 8) AS s
      FROM m1
    ), scored AS (
      SELECT user_id, start_pos,
             round(sqrt(list_sum(list_transform(generate_series(1, 8),
                   i -> ((vals[i] - m) / s - q.z[i]) * ((vals[i] - m) / s - q.z[i])))),
                   6) AS dist
      FROM m2, (SELECT {_ZQ_RAMP8} AS z) q
      WHERE s > 0
    )
    SELECT user_id AS key, CAST(start_pos AS INT) AS start_pos, dist
    FROM scored
    ORDER BY dist, key, start_pos
    LIMIT 20
    """,
)
def q_ts_pattern_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series pattern search (operators/timeseries.py
    ts_pattern_topk — the UCR/matrix-profile query-pattern primitive,
    PAPERS.md EDBT'19/ICDE'21 re-expressed Spark-first): the 20
    subsequences of any user's value stream closest to a rising ramp
    under z-normalized Euclidean distance (matches SHAPE, not level or
    amplitude). Sliding windows via collect_list over an ordered frame
    (one shuffle on user_id), z-norm + distance as higher-order array
    expressions, TakeOrdered top-k with a total-order tie-break. The
    oracle mirrors every stage — frames, stats, distance — in SQL with
    the identical z-normalized pattern literals."""
    from etl4s_spark.operators.timeseries import ts_pattern_topk

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
    return ts_pattern_topk(
        ev,
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        pattern=[float(i) for i in range(1, 9)],
        k=20,
        tiebreak_col="event_id",
    )


@query(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events WHERE event_id < 50000
    )
    SELECT event_type, next_type,
           count(*) AS n,
           round(count(*) / CAST(sum(count(*)) OVER (PARTITION BY event_type)
                                 AS DOUBLE), 6) AS p
    FROM seq
    WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    ORDER BY event_type, next_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition matrix (Markov counts): for each
    user's time-ordered stream, count (current → next) event-type pairs
    and normalize rows to probabilities — the behavioral-analytics
    building block under next-action prediction and anomaly scoring.
    One shuffle on user_id for the lead() window, one low-cardinality
    shuffle for the pair counts, and the row-normalizing window runs on
    the tiny aggregated matrix — cost is the sequence window, same
    profile as a groupBy over users."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 50000)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy("event_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy("event_type")
    return (
        counts.select(
            "event_type",
            "next_type",
            "n",
            F.round(F.col("n") / F.sum("n").over(total), 6).alias("p"),
        )
        .orderBy("event_type", "next_type")
    )


@query(
    "q_session_paths",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE user_id < 40
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '{_DUCK_FMT}')                          AS session_start,
           CAST(count(*) AS INT)                                     AS n_events,
           array_to_string(list(event_type ORDER BY ts, event_id), '>') AS path
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session user journeys: sessionize (30-min inactivity gap,
    the gaps-and-islands rule), then render each session's time-ordered
    event-type PATH as a string — the path-analysis input behind 'what
    do users do before purchasing'. Ordering inside groups comes from
    array_sort over (ts, event_id, type) structs, not collect_list
    order (which is partition-dependent); one window + one groupBy,
    both on user_id."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
                >= 1800 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = marked.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.date_format(F.min("ts"), _TS_FMT).alias("session_start"),
            F.count(F.lit(1)).cast("int").alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path"),
        )
        .select("user_id", "session_start", "n_events", "path")
        .orderBy("user_id", "session_start")
    )


@query(
    "q_stream_topk_replay",
    oracle=f"""
    WITH counts AS (
      SELECT strftime(to_timestamp(floor(epoch(ts) / 600) * 600),
                      '{_DUCK_FMT}') AS window_start,
             event_type, count(*) AS n_events
      FROM events WHERE event_id < 20000
      GROUP BY 1, 2
    ), ranked AS (
      SELECT window_start, event_type, n_events,
             row_number() OVER (PARTITION BY window_start
                                ORDER BY n_events DESC, event_type) AS rnk
      FROM counts
    )
    SELECT window_start, CAST(rnk AS INT) AS rnk, event_type,
           CAST(n_events AS BIGINT) AS n_events
    FROM ranked WHERE rnk <= 2
    ORDER BY window_start, rnk
    """,
)
def q_stream_topk_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: tumbling 10-minute counts per event type are
    ACTUALLY STREAMED (file-source micro-batches → complete-mode memory
    sink — the same replay machinery as q_stream_tumbling_replay), then
    the top-2 types per window are ranked BATCH-side over the sink
    table. This split is deliberate and is the production shape: ranking
    inside the stream would need a per-window sort on every trigger,
    while ranking the final state costs one WindowGroupLimit over
    O(windows × types) rows. Counts are integers — no accumulation-order
    sensitivity; rank ties break on event_type."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
    with _replay_stream(spark, ev.schema, _slices(ev.toArrow(), 4)) as stream:
        agg = stream.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type").agg(
            F.count(F.lit(1)).alias("n_events")
        )
        out = _drain_to_memory(spark, agg, "complete")
    counts = out.select(
        F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
        "event_type",
        "n_events",
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select(
            "window_start",
            F.col("rnk").cast("int"),
            "event_type",
            F.col("n_events").cast("long"),
        )
        .orderBy("window_start", "rnk")
    )


def _bitmap_merge_fn(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """Fold one raw micro-batch into per-(event_type, bucket) bitmap
    word state via bit_or. OR is associative, commutative AND IDEMPOTENT
    — merging the same user twice cannot double-count, the property
    SUM/COUNT states lack and the reason exact distinct survives
    at-least-once delivery. Module-level so the retry/idempotency pytest
    exercises the EXACT function the declared query streams through."""
    from etl4s_spark.operators.sketches import bitmap_words

    agg = bitmap_words(batch_df, ["event_type"], "user_id", width=62)
    if prev is None:
        return agg
    return (
        prev.alias("t")
        .join(agg.alias("b"), ["event_type", "bucket"], "full_outer")
        .select(
            "event_type",
            "bucket",
            # bitwiseOR, not `|` (PySpark overloads `|` as logical OR)
            F.coalesce(F.col("t.word"), F.lit(0).cast("long"))
            .bitwiseOR(F.coalesce(F.col("b.word"), F.lit(0).cast("long")))
            .alias("word"),
        )
    )


@query(
    "q_stream_bitmap_distinct_replay",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT user_id // 62) AS BIGINT) AS n_buckets
    FROM events WHERE event_id < 20000
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_stream_bitmap_distinct_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUALLY-STREAMED exact distinct users per event type: each
    micro-batch's bitmap word state (operators/sketches.py bitmap_words)
    OR-merges into a versioned parquet target via foreachBatch — the
    streaming rendition of q_agg_bitmap_distinct, proving the
    mergeability claim end-to-end: three replayed micro-batches of
    OR-folded state equal the one-shot batch count_distinct the oracle
    computes. OR's idempotence means even a duplicate-delivered row
    cannot drift the count — the exactly-once-ness lives in the STATE
    ALGEBRA, not just the versioned-sink protocol (which still guards
    retries via batch_id keying, streaming/core.py
    versioned_upsert_batch). State is O(users/62) words per event type,
    never a raw-id set."""
    from etl4s_spark.operators.sketches import bitmap_counts
    from etl4s_spark.streaming.core import versioned_upsert_batch

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 20000)
        .select("event_id", "event_type", "user_id")
    )
    with _replay_stream(spark, ev.schema, _slices(ev.toArrow(), 3)) as stream:
        target_base = _replay_tmpdir("etl4s_bitmap_target_")
        versions: list[str] = []

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            dst = versioned_upsert_batch(
                spark, target_base, batch_df, batch_id, _bitmap_merge_fn
            )
            versions.append(dst)

        q = stream.writeStream.foreachBatch(merge_batch).start()
        try:
            q.processAllAvailable()
            final_tbl = (
                bitmap_counts(spark.read.parquet(versions[-1]), ["event_type"])
                .select(
                    "event_type",
                    F.col("n_distinct").alias("n_users"),
                    "n_buckets",
                )
                .orderBy("event_type")
                .toArrow()
            )
        finally:
            q.stop()
            shutil.rmtree(target_base, ignore_errors=True)
    return (
        spark.createDataFrame(final_tbl)
        .select(
            "event_type",
            F.col("n_users").cast("long"),
            F.col("n_buckets").cast("long"),
        )
        .orderBy("event_type")
    )


@query(
    "q_stream_pyds_replay",
    oracle="""
    WITH ids AS (SELECT unnest(generate_series(0, 999)) AS i),
    hs AS (
      SELECT i, (22695477 * i + 1) % 2147483647 AS h FROM ids
    ), rows_ AS (
      SELECT i AS doc_id,
             ['en','de','fr','es','pt'][CAST(h % 5 AS INT) + 1] AS lang,
             CAST(3 + h % 6 AS BIGINT) AS n_words
      FROM hs
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)     AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(min(doc_id) AS BIGINT)  AS min_doc,
           CAST(max(doc_id) AS BIGINT)  AS max_doc
    FROM rows_ GROUP BY lang ORDER BY lang
    """,
)
def q_stream_pyds_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUALLY-STREAMED custom Python Data Source (Spark 4
    ``simpleStreamReader``, sources/pyds.py SynthDocsStreamReader) — the
    native stream-source connector seam, the streaming sibling of
    driver-green q_scan_python_datasource, standing in for the Kafka
    connector this container cannot run. The synthdocs source replays
    1000 closed-form rows as four 250-row micro-batches through
    ``readStream.format("synthdocs")`` into a complete-mode memory
    sink; the final state must equal the one-shot aggregation of the
    same closed form, which DuckDB recomputes from the LCG arithmetic —
    so offset planning, micro-batch scheduling, the Python↔JVM stream
    handoff, AND the stream-equals-batch contract are all inside the
    oracle gate. Counts and bigint sums are batch-order-invariant by
    construction, so micro-batch boundaries cannot move the result."""
    from etl4s_spark.sources.pyds import register_synthdocs

    register_synthdocs(spark)
    stream = (
        spark.readStream.format("synthdocs")
        .option("n", 1000)
        .option("batch", 250)
        .load()
    )
    agg = stream.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )
    return (
        _drain_to_memory(spark, agg, "complete")
        .select("lang", "n_docs", "total_words", "min_doc", "max_doc")
        .orderBy("lang")
    )
