"""Debounce (T1) streaming semantics, held by the file_events source: a
write storm on one path collapses to ONE emitted row — the last version —
after a quiet window, and a stopped query replays what it had not
committed.

Driving pattern per .claude/skills/verify/SKILL.md: real files landed into
a tmp tree → file_events source with a short debounce → sink with an
explicit processing-time trigger, polled with a deadline
(processAllAvailable() can return while paths are still pending)."""

from __future__ import annotations

import os
import time
import uuid

from log_agent_spark.sources.file_events_stream import FileEventsDataSource


def _events(spark, root, debounce_ms):
    spark.dataSource.register(FileEventsDataSource)
    return (
        spark.readStream.format("file_events")
        .option("path", str(root))
        .option("debounce_ms", str(debounce_ms))
        .load()
    )


def _poll(pred, timeout=120):
    deadline = time.time() + timeout
    while time.time() < deadline and not pred():
        time.sleep(0.5)
    return pred()


def test_debounce_collapses_storm_to_last_event(spark, tmp_path):
    root = tmp_path / "watched"
    root.mkdir()
    table = f"debounced_{uuid.uuid4().hex[:8]}"
    q = (
        _events(spark, root, 1500)
        .writeStream.format("memory")
        .queryName(table)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .outputMode("append")
        .start()
    )
    try:
        assert _poll(lambda: q.recentProgress), "query never ran a batch"
        # one storm on a.log (4 writes, 150 ms apart), one lone write on b.log
        for i in range(4):
            (root / "a.log").write_bytes(b"v" * (i + 1))
            time.sleep(0.15)
        (root / "b.log").write_bytes(b"b")

        def rows():
            return spark.sql(f"SELECT path, op, size FROM {table}").collect()

        assert _poll(lambda: len(rows()) >= 2)
        time.sleep(2)  # a further window: no intermediate version follows
        got = sorted((os.path.basename(r.path), r.op, r.size) for r in rows())
        # the storm collapsed to its last version (watchdog.go:193-251); the
        # op is the net change since the previous offset
        assert got == [("a.log", "CREATE", 4), ("b.log", "CREATE", 1)]
        assert not (tmp_path / "ckpt" / "state").exists()  # no operator state
        assert all(p["stateOperators"] == [] for p in q.recentProgress)
    finally:
        q.stop()


def test_uncommitted_batch_replays_the_same_paths(spark, tmp_path):
    """Stop, drop the last commit, restart: the batch between the offset
    WAL and the commit log is replayed from the two offsets alone
    (``readBetweenOffsets``) and re-emits exactly the same paths."""
    root = tmp_path / "watched"
    root.mkdir()
    (root / "a.log").write_bytes(b"a")
    (root / "b.log").write_bytes(b"bb")
    ckpt = tmp_path / "ckpt"
    seen: list[tuple[int, list]] = []

    def record(df, epoch_id):
        rows = sorted((os.path.basename(r.path), r.op, r.size) for r in df.collect())
        if rows:
            seen.append((epoch_id, rows))

    def start():
        return (
            _events(spark, root, 500)
            .writeStream.foreachBatch(record)
            .option("checkpointLocation", str(ckpt))
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    q = start()
    try:
        assert _poll(lambda: seen and (ckpt / "commits" / str(seen[0][0])).exists())
    finally:
        q.stop()
    first = seen[0]
    assert first[1] == [("a.log", "CREATE", 1), ("b.log", "CREATE", 2)]
    last = max(int(n) for n in os.listdir(ckpt / "commits") if n.isdigit())
    assert last == first[0]  # nothing committed after the emitting batch
    (ckpt / "commits" / str(last)).unlink()
    crc = ckpt / "commits" / f".{last}.crc"
    if crc.exists():
        crc.unlink()

    seen.clear()
    q = start()
    try:
        assert _poll(lambda: seen)
        time.sleep(2)  # a replay that repeated would show up here
    finally:
        q.stop()
    assert seen == [first]
