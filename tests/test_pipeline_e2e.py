"""End-to-end hot path (SURVEY.md §3.2): file event source with its
per-path debounce (T1, one row per settled path — T3) → per-biz transform
(P4) → priority multi-sink (K6) → post-success state commit (K8), all
through run_event_pipeline."""

from __future__ import annotations

import datetime as dt
import os
import time

from pyspark.sql import functions as F

from log_agent_spark.schemas import EVENT_SCHEMA
from log_agent_spark.sinks.multi import MultiSink, Sink
from log_agent_spark.streaming.pipeline import run_event_pipeline


def _event(path, op, sec):
    t = dt.datetime(2024, 1, 1, 0, 0, sec)
    return (path, op, "BSI", "/root", t, t, False)


def test_pipeline_quarantine_branch(spark, tmp_path):
    """P4 CheckFile failure → dead-letter, not the sink chain."""
    src = str(tmp_path / "events_q")
    spark.createDataFrame(
        [_event("/ok", "CREATE", 1), _event("/bad", "CREATE", 1)], EVENT_SCHEMA
    ).write.parquet(src)

    delivered: list[str] = []
    quarantined: list[str] = []
    chain = MultiSink(
        [Sink(name="rec", write=lambda df: delivered.extend(r.path for r in df.collect()))]
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = run_event_pipeline(
        stream,
        chain,
        validate=lambda df: df.withColumn("_valid", ~F.col("path").startswith("/bad")),
        dead_letter=lambda df: quarantined.extend(r.path for r in df.collect()),
        checkpoint_dir=str(tmp_path / "ckpt_q"),
        trigger="1 second",
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline and not (delivered and quarantined):
            time.sleep(1)
        assert delivered == ["/ok"]
        assert quarantined == ["/bad"]
    finally:
        q.stop()


def test_config_driven_pipeline_from_file_events(spark, tmp_path):
    """AutoInit parity: ini-style BizConfig → custom file_events source →
    standing pipeline with the per-batch content enrichment, built the way
    the agent (``__main__._start``) builds it, end to end on a real
    directory."""
    from log_agent_spark.__main__ import _stream_enrich
    from log_agent_spark.config import BizConfig, read_file_events

    watch = tmp_path / "watched"
    watch.mkdir()
    (watch / "a.log").write_bytes(b"hello")
    (watch / "skip.tmp").write_bytes(b"nope")

    cfg = BizConfig(
        name="SPI.TEST", watch=str(watch), patterns=r"\.log$", debounce_ms=0
    )
    delivered: list[tuple] = []
    chain = MultiSink(
        [Sink(name="rec", write=lambda df: delivered.extend(
            (r.filepath, r.filename, bytes(r.content)) for r in df.collect()))]
    )
    q = run_event_pipeline(
        read_file_events(spark, cfg),
        chain,
        transform=_stream_enrich(cfg),
        checkpoint_dir=str(tmp_path / "ckpt_cfg"),
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not delivered:
            time.sleep(1)
        assert delivered == [(str(watch / "a.log"), "a.log", b"hello")]
    finally:
        q.stop()


def test_event_pipeline_end_to_end(spark, tmp_path):
    from log_agent_spark.config import BizConfig, read_file_events

    watch = tmp_path / "watched"
    watch.mkdir()
    cfg = BizConfig(name="BSI.TEST", watch=str(watch), plugin="bsi", debounce_ms=1500)

    seen: list[list] = []
    committed: list[int] = []
    order: list[str] = []

    def record_sink(df):
        rows = df.collect()
        if rows:
            order.append("sink")
            seen.append(rows)

    def commit(df):
        n = df.count()
        if n:
            order.append("commit")
            committed.append(n)

    chain = MultiSink(
        [Sink(name="rec", write=record_sink, priority=5)], on_success=commit
    )
    q = run_event_pipeline(
        read_file_events(spark, cfg),
        chain,
        transform=lambda df: df.withColumn("biz_u", F.upper("biz")),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger="200 milliseconds",
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and not q.recentProgress:
            time.sleep(0.2)
        # a storm on a.log (three versions inside the window), one write on b.log
        for sec in (1, 2, 3):
            (watch / "a.log").write_bytes(b"v" * sec)
            t = dt.datetime(2024, 1, 1, 0, 0, sec, tzinfo=dt.timezone.utc).timestamp()
            os.utime(watch / "a.log", (t, t))
            time.sleep(0.15)
        (watch / "b.log").write_bytes(b"b")
        # Poll on `committed` (the LAST step of the batch callback), not
        # `seen` — asserting between the sink write and the commit hook
        # races q.stop() against the in-flight count() job.
        while time.time() < deadline and sum(committed) < 2:
            time.sleep(0.5)
        time.sleep(2)  # a further window: no intermediate version follows
        rows = [r for batch in seen for r in batch]
        by_path = {os.path.basename(r.path): r for r in rows}
        # T1: the a.log storm collapsed to its last version; b.log passed
        assert len(rows) == 2 and set(by_path) == {"a.log", "b.log"}
        assert by_path["a.log"].op == "CREATE"  # the net change
        assert by_path["a.log"].ts == dt.datetime(2024, 1, 1, 0, 0, 3)
        # P4: transform applied inside the batch
        assert by_path["a.log"].biz_u == "BSI"
        # K8: commit ran after the sink, with the same row counts
        assert order and order[0] == "sink"
        assert sum(committed) == len(rows)
    finally:
        q.stop()


def test_file_deleted_inside_its_window_leaves_query_running(spark, tmp_path):
    """Handle404 parity through the agent's stream wiring: a file rotated
    away inside its debounce window is dropped by the source and never
    delivered; the query stays up and the other file is still copied."""
    from log_agent_spark.__main__ import _stream_enrich
    from log_agent_spark.config import BizConfig, read_file_events
    from log_agent_spark.sinks.filecopy import file_copy_sink

    watch = tmp_path / "watched"
    watch.mkdir()
    dest = tmp_path / "dest"
    cfg = BizConfig(name="SPI.TEST", watch=str(watch), debounce_ms=3000)
    q = run_event_pipeline(
        read_file_events(spark, cfg),
        MultiSink([file_copy_sink(str(dest))]),
        transform=_stream_enrich(cfg),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline and not q.recentProgress:
            time.sleep(0.1)
        (watch / "keep.log").write_bytes(b"kept")
        (watch / "rotated.log").write_bytes(b"gone")
        # the source polls every 200 ms while no batch runs: both paths are
        # pending well before this, and 2 s short of their 3 s window
        time.sleep(1.0)
        (watch / "rotated.log").unlink()
        while time.time() < deadline and q.isActive and not (dest / "keep.log").exists():
            time.sleep(0.5)
        # the sink writes inside the batch; its progress is reported after
        # the batch commits
        while (
            time.time() < deadline
            and q.isActive
            and not any(p["numInputRows"] for p in q.recentProgress)
        ):
            time.sleep(0.1)
        assert q.isActive, q.exception()
        assert (dest / "keep.log").read_bytes() == b"kept"
        assert not (dest / "rotated.log").exists()
        delivered = sum(p["numInputRows"] for p in q.recentProgress)
        assert delivered == 1
    finally:
        q.stop()
