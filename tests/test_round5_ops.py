"""Round-5 tests: retry idempotency of the versioned MERGE sink (the
stream-equals-batch claim at the OPERATOR level — VERDICT r4 item 5) and
the adaptive star fallback of connected components (item 8)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F


def _mk_batch(spark, rows):
    return spark.createDataFrame(
        [
            (eid, datetime.datetime(2024, 1, 1, 0, 0, eid % 60), uid, val)
            for eid, uid, val in rows
        ],
        "event_id long, ts timestamp, user_id long, value double",
    )


def _state(spark, path):
    return {
        r.user_id: (r.n_events, r.cand.event_id, r.cand.value)
        for r in spark.read.parquet(path).collect()
    }


def test_versioned_upsert_retry_is_idempotent(spark, tmp_path):
    """Kill-and-rerun a micro-batch: re-applying batch 1 with the same
    batch_id OVERWRITES v1 with identical state — counts do not double,
    the argmax struct does not move. A second DISTINCT batch id then
    builds v2 from the retried v1 correctly."""
    from etl4s_spark.queries.streaming_batch import _upsert_merge_fn
    from etl4s_spark.streaming.core import versioned_upsert_batch

    base = str(tmp_path / "target")
    b0 = _mk_batch(spark, [(1, 10, 1.0), (2, 10, 2.0), (3, 20, 5.0)])
    b1 = _mk_batch(spark, [(4, 10, 7.0), (5, 30, 9.0)])
    b2 = _mk_batch(spark, [(6, 20, 4.0)])

    versioned_upsert_batch(spark, base, b0, 0, _upsert_merge_fn)
    p1 = versioned_upsert_batch(spark, base, b1, 1, _upsert_merge_fn)
    first = _state(spark, p1)
    assert first[10] == (3, 4, 7.0) and first[20] == (1, 3, 5.0)
    assert first[30] == (1, 5, 9.0)

    # the retry: same batch content, same batch_id (foreachBatch redelivers
    # after a sink failure) — v1 must be REWRITTEN, not stacked
    p1_retry = versioned_upsert_batch(spark, base, b1, 1, _upsert_merge_fn)
    assert p1_retry == p1
    assert _state(spark, p1) == first

    # progress resumes off the retried version
    p2 = versioned_upsert_batch(spark, base, b2, 2, _upsert_merge_fn)
    final = _state(spark, p2)
    assert final[20] == (2, 6, 4.0)  # count advanced once, argmax moved
    assert final[10] == first[10] and final[30] == first[30]


def test_versioned_upsert_chain_gap_raises(spark, tmp_path):
    """Applying batch N without v{N-1} present means a batch was LOST;
    silently treating it as batch 0 would corrupt the target."""
    from etl4s_spark.queries.streaming_batch import _upsert_merge_fn
    from etl4s_spark.streaming.core import versioned_upsert_batch

    base = str(tmp_path / "target")
    b = _mk_batch(spark, [(1, 10, 1.0)])
    with pytest.raises(RuntimeError, match="chain gap"):
        versioned_upsert_batch(spark, base, b, 3, _upsert_merge_fn)


def test_frame_sample_matches_driver_side_decode(spark):
    """frame_sample's distributed container walk + BMP decode emits
    exactly the frames a driver-side decode of the same container
    yields: same stride, same shas, same mean luma; stride=1 returns
    every frame; a truncated/corrupt container raises, never silently
    yields partial frames."""
    import hashlib

    import numpy as np

    from etl4s_spark.operators.multimodal import (
        decode_bmp,
        decode_frame_container,
        encode_bmp,
        encode_frame_container,
        frame_sample,
    )

    frames = [
        encode_bmp(
            np.random.default_rng(seed).integers(0, 256, (5, 4, 3), dtype=np.uint8)
        )
        for seed in range(5)
    ]
    payload = encode_frame_container(frames)
    assert decode_frame_container(payload) == frames

    df = spark.createDataFrame([(7, payload)], "media_id long, payload binary")
    got = {
        r.frame_idx: r
        for r in frame_sample(df, every_n=2).collect()
    }
    assert sorted(got) == [0, 2, 4]
    for idx in got:
        px = decode_bmp(frames[idx])
        assert got[idx].frame_sha == hashlib.sha256(frames[idx]).hexdigest()
        assert got[idx].mean_intensity == round(float(px.mean()), 4)
        assert (got[idx].width, got[idx].height) == (4, 5)

    assert len(frame_sample(df, every_n=1).collect()) == 5

    bad = spark.createDataFrame(
        [(8, payload[:10])], "media_id long, payload binary"
    )
    with pytest.raises(Exception):
        frame_sample(bad).collect()


def test_ts_ewma_matches_pandas(spark, sf_dir):
    """q_ts_ewma == pandas ewm(alpha=0.3, adjust=True) EXACTLY (to the
    6 dp the query rounds to) for the first 16 rows per key, and within
    the documented truncation bound ((1−α)^16 ≈ 0.003 relative weight)
    beyond them."""
    import pandas as pd

    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    sf = sf_dir
    got = {
        (r.user_id, r.event_id): r.ewma
        for r in QUERIES["q_ts_ewma"](spark, sf).collect()
    }

    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev = ev[ev.user_id < 10].sort_values(["user_id", "ts", "event_id"])
    worst_head, worst_tail = 0.0, 0.0
    for uid, g in ev.groupby("user_id"):
        exact = g.value.ewm(alpha=0.3, adjust=True).mean().tolist()
        for pos, (eid, want) in enumerate(zip(g.event_id, exact)):
            diff = abs(got[(uid, eid)] - want)
            if pos < 16:
                worst_head = max(worst_head, diff)
            else:
                worst_tail = max(worst_tail, diff / max(abs(want), 1e-9))
    assert worst_head <= 1e-6, worst_head
    assert worst_tail <= 0.02, worst_tail


def test_image_ahash_invariance_and_separation(spark):
    """aHash is invariant to small brightness noise and to resizing
    (thumbnail of the same image → same hash), separates distinct
    patterns, and the distributed path matches driver-side ahash64."""
    import numpy as np

    from etl4s_spark.operators.multimodal import ahash64, encode_bmp, image_ahash

    rng = np.random.default_rng(3)
    base = rng.integers(40, 216, (16, 16, 3), dtype=np.uint8)
    noisy = np.clip(base.astype(np.int16) + 1, 0, 255).astype(np.uint8)
    other = np.random.default_rng(4).integers(40, 216, (16, 16, 3), dtype=np.uint8)
    # thumbnail: nearest-neighbor downsample of base to 8x8 (what a real
    # resize pipeline emits) — aHash must survive it
    yi = np.minimum(((np.arange(8) + 0.5) * 2).astype(int), 15)
    thumb = base[yi][:, yi]

    h_base, h_noisy, h_thumb = ahash64(base), ahash64(noisy), ahash64(thumb)
    h_other = ahash64(other)
    assert h_base == h_noisy == h_thumb
    assert h_base != h_other

    df = spark.createDataFrame(
        [(1, encode_bmp(base)), (2, encode_bmp(noisy)), (3, encode_bmp(other))],
        "media_id long, payload binary",
    )
    got = {r.media_id: r.ahash for r in image_ahash(df).collect()}
    assert got == {1: h_base, 2: h_noisy, 3: h_other}


def test_stream_dedup_wm_replay_twice_delivered_exactly_once(spark, tmp_path):
    """The watermark-dedup operator is itself a retry shield: the same
    file replayed as two micro-batches within the horizon emits each key
    once — redelivery at the SOURCE (not just the sink) is absorbed."""
    from etl4s_spark.streaming.core import stateful_dedup

    from etl4s_spark.queries.streaming_batch import _stage_replay_files

    src = str(tmp_path / "replay")
    (tmp_path / "replay").mkdir()
    rows = _mk_batch(spark, [(1, 10, 1.0), (2, 20, 2.0), (3, 30, 3.0)])
    tbl = rows.toArrow()
    _stage_replay_files([tbl, tbl], src)  # the SAME batch, delivered twice

    stream = (
        spark.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    deduped = stateful_dedup(stream, ["event_id"], ts_col="ts", watermark="30 days")
    sink = "r5_dedup_wm_replay"
    q = (
        deduped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(sink).collect()
    assert sorted(r.event_id for r in out) == [1, 2, 3]
