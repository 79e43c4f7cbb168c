"""Structured Streaming ingest: stream/batch parity + exactly-once
incremental processing across restarts."""

from __future__ import annotations

import glob

import pytest

from ragflow_spark.datagen import write_corpus
from ragflow_spark.operators.extract import extract_chunks_fused
from ragflow_spark.streaming.extract_stream import stream_extract


def _chunkset(df):
    return {
        (r.doc_id, r.chunk_seq, r.text, r.token_count) for r in df.collect()
    }


def test_stream_span_metrics(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from ragflow_spark.streaming.extract_stream import stream_span_metrics

    base = tmp_path_factory.mktemp("smetrics")
    inp, out, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")
    write_corpus(spark, inp + "/w", count=25, seed=4, partitions=1)
    import os
    import shutil

    os.makedirs(inp, exist_ok=True)
    for i, f in enumerate(glob.glob(inp + "/w/*.parquet")):
        shutil.move(f, f"{inp}/f{i}.parquet")
    shutil.rmtree(inp + "/w")

    q = stream_span_metrics(spark, inp, ckpt, out)
    q.awaitTermination(240)
    m = spark.read.parquet(out)
    # per-kind span counts equal the batch ground truth
    batch = (
        spark.read.parquet(*glob.glob(inp + "/f*.parquet"))
        .select(F.explode("spans").alias("s"))
        .groupBy(F.col("s.kind").alias("kind"))
        .count()
    )
    got = {r["kind"]: r["span_count"] for r in m.collect()}
    want = {r["kind"]: r["count"] for r in batch.collect()}
    assert got == want


def test_stream_batch_parity_and_incremental(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    inp, out, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")

    # wave 1: 40 docs land
    write_corpus(spark, inp + "/w1", count=40, seed=3, partitions=2)
    # file source watches a flat dir: move the parquet files up
    import os
    import shutil

    os.makedirs(inp, exist_ok=True)
    for i, f in enumerate(glob.glob(inp + "/w1/*.parquet")):
        shutil.move(f, f"{inp}/w1_{i}.parquet")
    shutil.rmtree(inp + "/w1")

    q = stream_extract(spark, inp, out, ckpt)
    q.awaitTermination(240)

    got1 = _chunkset(spark.read.parquet(out).drop("batch_id"))
    want1 = _chunkset(
        extract_chunks_fused(
            spark.read.parquet(*glob.glob(inp + "/w1_*.parquet"))
        )
    )
    assert got1 == want1

    # wave 2: 20 new docs land; restart drains ONLY the new files
    write_corpus(spark, inp + "/w2", count=20, seed=9, partitions=1)
    for i, f in enumerate(glob.glob(inp + "/w2/*.parquet")):
        shutil.move(f, f"{inp}/w2_{i}.parquet")
    shutil.rmtree(inp + "/w2")

    q2 = stream_extract(spark, inp, out, ckpt)
    q2.awaitTermination(240)

    got2 = _chunkset(spark.read.parquet(out).drop("batch_id"))
    want2 = want1 | _chunkset(
        extract_chunks_fused(
            spark.read.parquet(*glob.glob(inp + "/w2_*.parquet"))
        )
    )
    # exactly-once: wave-1 chunks appear exactly once (set equality + count)
    assert got2 == want2
    total_rows = spark.read.parquet(out).count()
    assert total_rows == len(want2)

    # replay: lose the last offset commit (crash after sink write, before
    # checkpoint commit) — the replayed batch must overwrite its own
    # batch_id partition, not append duplicates
    commits = sorted(
        glob.glob(ckpt + "/commits/[0-9]*"),
        key=lambda p: int(os.path.basename(p)),
    )
    os.remove(commits[-1])
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{os.path.basename(commits[-1])}.crc"
    )
    if os.path.exists(crc):  # local checksum FS shadow file
        os.remove(crc)
    import time

    for q_old in (q, q2):
        q_old.stop()
    for _ in range(100):
        if not spark.streams.active:
            break
        time.sleep(0.2)
    q3 = stream_extract(spark, inp, out, ckpt)
    q3.awaitTermination(240)
    assert _chunkset(spark.read.parquet(out).drop("batch_id")) == want2
    assert spark.read.parquet(out).count() == len(want2)


def test_stream_sessionize_stateful(spark, tmp_path_factory):
    """applyInPandasWithState sessionization == the batch window fold:
    sessions closed by in-batch gaps and by event-time timeouts together
    reproduce the batch session structure for the original events."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from ragflow_spark.ops.relational import SESSION_GAP_US
    from ragflow_spark.streaming.sessionize_stream import stream_sessionize

    base = tmp_path_factory.mktemp("sess")
    inp, out, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")
    os.makedirs(inp, exist_ok=True)

    # synthetic per-user event times: 3 users, sessions separated by >30min
    gap_s = SESSION_GAP_US // 1_000_000
    rows = []
    eid = 0
    base_ts = pd.Timestamp("2024-01-01 00:00:00")
    for user in (1, 2, 3):
        t = base_ts + pd.Timedelta(minutes=user)
        for sess in range(user):  # user k has k sessions
            for j in range(3):  # 3 events per session, 5 min apart
                rows.append((eid, t, user, "click", 1.0))
                eid += 1
                t += pd.Timedelta(minutes=5)
            t += pd.Timedelta(seconds=gap_s + 600)  # close the session
    events = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    half = len(events) // 2
    events.iloc[:half].to_parquet(f"{inp}/w1.parquet", index=False, coerce_timestamps="us")
    events.iloc[half:].to_parquet(f"{inp}/w2.parquet", index=False, coerce_timestamps="us")

    q = stream_sessionize(spark, inp, out, ckpt)
    q.awaitTermination(240)

    # flush wave: one far-future event per user advances the watermark past
    # every open session's timeout
    flush = pd.DataFrame(
        [
            (10_000 + u, base_ts + pd.Timedelta(days=10), u, "flush", 0.0)
            for u in (1, 2, 3)
        ],
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    flush.to_parquet(f"{inp}/w3.parquet", index=False, coerce_timestamps="us")
    q2 = stream_sessionize(spark, inp, out, ckpt)
    q2.awaitTermination(240)

    got = (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(
            F.countDistinct("session_seq").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .collect()
    )
    by_user = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in got}
    # batch truth over the ORIGINAL events: user k has k sessions x 3 events
    assert by_user == {1: (1, 3), 2: (2, 6), 3: (3, 9)}
    # closed sessions carry exact integer start/end times
    sess = spark.read.parquet(out).collect()
    for r in sess:
        assert r["end_us"] - r["start_us"] == 2 * 5 * 60 * 1_000_000


def test_stream_windowed_counts_watermark(spark, tmp_path_factory):
    """Watermarked tumbling windows in append mode: after the watermark
    passes (flush wave), the finalized windows equal the batch windowed
    aggregation of the original events."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from ragflow_spark.streaming.sessionize_stream import (
        stream_windowed_counts,
    )

    base = tmp_path_factory.mktemp("winagg")
    inp, out, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")
    os.makedirs(inp, exist_ok=True)
    base_ts = pd.Timestamp("2024-02-01 00:00:00")
    rows = [
        (i, base_ts + pd.Timedelta(minutes=3 * i), i % 4, ("view", "click")[i % 2], 1.25 * i)
        for i in range(40)
    ]
    events = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    events.to_parquet(f"{inp}/w1.parquet", index=False, coerce_timestamps="us")
    q = stream_windowed_counts(spark, inp, out, ckpt)
    q.awaitTermination(240)
    # flush: a far-future event finalizes every original window
    pd.DataFrame(
        [(999, base_ts + pd.Timedelta(days=2), 0, "flush", 0.0)],
        columns=events.columns,
    ).to_parquet(f"{inp}/w2.parquet", index=False, coerce_timestamps="us")
    q2 = stream_windowed_counts(spark, inp, out, ckpt)
    q2.awaitTermination(240)

    got = {
        (r["win_start"], r["event_type"]): (r["n"], r["value_cents"])
        for r in spark.read.parquet(out).collect()
        if r["event_type"] != "flush"
    }
    batch = (
        spark.createDataFrame(events)
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("vc"),
        )
        .collect()
    )
    want = {
        (r["window"]["start"], r["event_type"]): (r["n"], r["vc"]) for r in batch
    }
    assert got == want and len(got) > 0


def test_extract_stream_driver_query_all_equal(spark):
    """The rows-only driver query must show stream ≡ batch on every chunk
    (and be stable across re-invocations — checkpoint no-op)."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["extract_stream"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert rows
    assert all(r["text_eq"] and r["tokens_eq"] and r["refs_eq"] for r in rows)
    again = entrymod.queries()["extract_stream"](
        spark, "/root/testdata/sf0.001"
    ).count()
    assert again == len(rows)


def test_extract_stream_driver_query_raises_on_timeout(spark, monkeypatch):
    """A stream that has not finished within the wait must be stopped and
    reported, never read as a half-written sink."""
    import __spark_entry__ as entrymod
    from ragflow_spark.streaming import extract_stream

    class StuckQuery:
        stopped = False

        def awaitTermination(self, timeout):
            return False

        def stop(self):
            StuckQuery.stopped = True

    monkeypatch.setattr(
        extract_stream, "stream_extract", lambda *a, **k: StuckQuery()
    )
    with pytest.raises(TimeoutError):
        entrymod.queries()["extract_stream"](spark, "/root/testdata/sf0.001")
    assert StuckQuery.stopped


def test_extract_stream_cache_dir_keyed_by_engine_digest(monkeypatch):
    """An engine change must get a fresh checkpoint and sink: the driver
    query's cache dir follows the package_zip() content digest."""
    import os

    import __spark_entry__ as entrymod
    from ragflow_spark import packaging

    real = packaging.package_digest()
    assert os.path.basename(packaging.package_zip()) == f"ragflow_spark-{real}.zip"
    assert real in os.path.basename(entrymod._stream_cache_dir())
    monkeypatch.setattr(packaging, "package_digest", lambda: "0123456789ab")
    other = entrymod._stream_cache_dir()
    assert "0123456789ab" in os.path.basename(other)
    monkeypatch.undo()
    assert entrymod._stream_cache_dir() != other
