"""Upsert semantics (K2), multi-sink priority/fail-fast (K6-K8), and the
incremental (path, mtime) state source (S2/T4)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from log_agent_spark.sinks.multi import MultiSink, Sink
from log_agent_spark.sinks.upsert import upsert_parquet
from log_agent_spark.sources.incremental import commit_state, delta_since, read_state


# ---------------------------------------------------------------------------
# K2: keyed upsert
# ---------------------------------------------------------------------------
def test_upsert_insert_then_update(spark, tmp_path):
    table = str(tmp_path / "logfile")
    cols = ["file_date", "file_time", "folder", "pack", "name", "size"]
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    d0 = dt.date(2024, 1, 1)
    first = spark.createDataFrame(
        [(d0, t0, "f", "", "a.log", 1), (d0, t0, "f", "", "b.log", 2)], cols
    )
    upsert_parquet(spark, first, table)
    assert spark.read.parquet(table).count() == 2

    # same key, new size → overwrite; new key → insert (cassandra.go:212)
    second = spark.createDataFrame(
        [(d0, t0, "f", "", "a.log", 99), (d0, t0, "f", "", "c.log", 3)], cols
    )
    upsert_parquet(spark, second, table)
    rows = {r.name: r.size for r in spark.read.parquet(table).collect()}
    assert rows == {"a.log": 99, "b.log": 2, "c.log": 3}


def test_upsert_empty_batch_is_a_noop(spark, tmp_path):
    """Round-9 soak finding: a debounced stream's FIRST micro-batch is
    routinely empty; bootstrapping the table from it wrote a schema-less
    parquet dir that poisoned every later batch (UNABLE_TO_INFER_SCHEMA),
    which a supervisor restart replays forever. Empty in → no write, both
    before the table exists and after."""
    table = str(tmp_path / "logfile_empty")
    cols = ["file_date", "file_time", "folder", "pack", "name", "size"]
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    d0 = dt.date(2024, 1, 1)
    full = spark.createDataFrame([(d0, t0, "f", "", "a.log", 1)], cols)
    empty = full.limit(0)

    upsert_parquet(spark, empty, table)  # bootstrap from an empty batch
    assert not os.path.isdir(table)  # nothing written — next batch is clean
    upsert_parquet(spark, full, table)
    upsert_parquet(spark, empty, table)  # empty against an existing table
    assert spark.read.parquet(table).count() == 1


def test_upsert_rewrites_only_batch_partitions(spark, tmp_path):
    """The bounded-I/O contract behind the 100 TB claim: an incoming
    batch must rewrite ONLY the file_date partitions it touches — the
    date-pruned merge + partitionOverwriteMode=dynamic leave every other
    partition's files physically untouched (same inode list + mtimes)."""
    table = str(tmp_path / "logfile")
    cols = ["file_date", "file_time", "folder", "pack", "name", "size"]
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    d0, d1 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    first = spark.createDataFrame(
        [(d0, t0, "f", "", "a.log", 1), (d1, t0, "f", "", "b.log", 2)], cols
    )
    upsert_parquet(spark, first, table)

    def snap(day):
        pdir = os.path.join(table, f"file_date={day.isoformat()}")
        return {
            f: os.stat(os.path.join(pdir, f)).st_mtime_ns
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        }

    before = snap(d1)
    upsert_parquet(
        spark,
        spark.createDataFrame([(d0, t0, "f", "", "a.log", 99)], cols),
        table,
    )
    assert snap(d1) == before, "untouched partition was rewritten"
    rows = {r.name: r.size for r in spark.read.parquet(table).collect()}
    assert rows == {"a.log": 99, "b.log": 2}


def test_upsert_replay_idempotent(spark, tmp_path):
    table = str(tmp_path / "logfile")
    cols = ["file_date", "file_time", "folder", "pack", "name", "size"]
    batch = spark.createDataFrame(
        [(dt.date(2024, 1, 1), dt.datetime(2024, 1, 1), "f", "", "a.log", 1)], cols
    )
    upsert_parquet(spark, batch, table)
    upsert_parquet(spark, batch, table)  # replay after simulated failure
    assert spark.read.parquet(table).count() == 1


# ---------------------------------------------------------------------------
# K6-K8: multi-sink chain
# ---------------------------------------------------------------------------
def test_multisink_priority_order_and_commit(spark):
    df = spark.range(3)
    calls: list[str] = []
    chain = MultiSink(
        [
            Sink(name="low", write=lambda d: calls.append("low"), priority=1),
            Sink(name="high", write=lambda d: calls.append("high"), priority=9),
        ],
        on_success=lambda d: calls.append("commit"),
    )
    chain(df)
    assert calls == ["high", "low", "commit"]  # watchdog.go:98 desc order, K8 last


def test_multisink_fail_fast_no_commit(spark):
    df = spark.range(3)
    calls: list[str] = []

    def boom(d):
        raise RuntimeError("sink down")

    chain = MultiSink(
        [
            Sink(name="first", write=boom, priority=9),
            Sink(name="second", write=lambda d: calls.append("second"), priority=1),
        ],
        on_success=lambda d: calls.append("commit"),
    )
    with pytest.raises(RuntimeError):
        chain(df)
    assert calls == []  # remaining sinks aborted, state NOT committed


# ---------------------------------------------------------------------------
# K3: file-copy sink
# ---------------------------------------------------------------------------
def test_file_copy_sink_writes_and_preserves_mtime(spark, tmp_path):
    import os

    from log_agent_spark.sinks.filecopy import file_copy_sink

    dest = str(tmp_path / "dest")
    mtime = dt.datetime(2017, 6, 7, 16, 15, 42)
    df = spark.createDataFrame(
        [
            ("sub/a", "a.log", bytearray(b"alpha"), mtime),
            ("", "top.log", bytearray(b"top"), mtime),
        ],
        ["sub_dir", "filename", "content", "modify_time"],
    )
    file_copy_sink(dest).write(df)
    with open(os.path.join(dest, "sub/a/a.log"), "rb") as f:
        assert f.read() == b"alpha"
    with open(os.path.join(dest, "top.log"), "rb") as f:
        assert f.read() == b"top"
    # Chtimes parity (file.go:79-88): mtime restored on the copy
    assert os.path.getmtime(os.path.join(dest, "sub/a/a.log")) == mtime.timestamp()


def test_file_copy_sink_custom_path_skip(spark, tmp_path):
    import os

    from log_agent_spark.sinks.filecopy import file_copy_sink

    dest = str(tmp_path / "dest2")
    df = spark.createDataFrame(
        [("s", "keep.log", bytearray(b"k"), None), ("s", "skip.log", bytearray(b"s"), None)],
        "sub_dir string, filename string, content binary, modify_time timestamp",
    )
    sink = file_copy_sink(
        dest, path_func=lambda r: "" if r["filename"] == "skip.log" else r["filename"]
    )
    sink.write(df)
    assert os.path.exists(os.path.join(dest, "keep.log"))
    assert not os.path.exists(os.path.join(dest, "skip.log"))  # '' ⇒ skip (file.go:49-54)


# ---------------------------------------------------------------------------
# S2/T4: incremental state
# ---------------------------------------------------------------------------
def test_delta_since_and_commit_roundtrip(spark, tmp_path):
    state_dir = str(tmp_path / "state")
    t1 = dt.datetime(2024, 1, 1, 10)
    t2 = dt.datetime(2024, 1, 2, 10)

    listing = spark.createDataFrame(
        [("/a", t1), ("/b", t1)], ["path", "mtime"]
    )
    state = read_state(spark, state_dir)
    assert state.count() == 0
    # first run: everything is new
    assert delta_since(listing, state).count() == 2
    commit_state(listing, state_dir)

    # second run: /a unchanged, /b touched, /c new  (fspolling.go:44-59)
    listing2 = spark.createDataFrame(
        [("/a", t1), ("/b", t2), ("/c", t1)], ["path", "mtime"]
    )
    delta = delta_since(listing2, read_state(spark, state_dir))
    assert sorted(r.path for r in delta.collect()) == ["/b", "/c"]
