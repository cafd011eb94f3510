"""The custom file_events streaming DataSource: CREATE on new files, WRITE
on modification, unchanged files silent, filters applied at the source,
and the per-path debounce (T1) held by the reader."""

from __future__ import annotations

import os
import re
import time
import uuid
from collections import Counter

import pytest

from log_agent_spark.plans.ingest import ingest_tree
from log_agent_spark.sources import file_events_stream as fes
from log_agent_spark.sources.binary_files import read_binary_files, read_binary_tree, walk_tree
from log_agent_spark.sources.file_events_stream import (
    FileEventsDataSource,
    FileEventsStreamReader,
    _diff,
)


# ---------------------------------------------------------------------------
# pure snapshot/diff logic
# ---------------------------------------------------------------------------
def test_walk_filters(tmp_path):
    root = tmp_path / "tree"
    (root / "deep/deeper").mkdir(parents=True)
    (root / "a.log").write_bytes(b"x")
    (root / "b.tmp").write_bytes(b"x")
    (root / "deep" / "c.log").write_bytes(b"x")
    (root / "deep/deeper" / "d.log").write_bytes(b"x")

    snap = walk_tree(str(root), pattern=r"\.log$")
    assert {os.path.basename(p) for p in snap} == {"a.log", "c.log", "d.log"}
    snap = walk_tree(str(root), pattern=r"\.log$", ignore=r"deeper")
    assert {os.path.basename(p) for p in snap} == {"a.log", "c.log"}
    snap = walk_tree(str(root), max_nesting_level=1)
    assert {os.path.basename(p) for p in snap} == {"a.log", "b.tmp"}


def test_diff_ops():
    start = {"/a": (100, 1), "/b": (200, 2)}
    end = {"/a": (100, 1), "/b": (300, 5), "/c": (50, 3)}
    rows = _diff(start, end)
    by_path = {r[0]: r for r in rows}
    assert set(by_path) == {"/b", "/c"}  # /a unchanged → silent
    assert by_path["/b"][1] == "WRITE"
    assert by_path["/c"][1] == "CREATE"


def test_diff_size_change_with_same_mtime_is_a_write():
    assert [r[:2] for r in _diff({"/a": (100, 1)}, {"/a": (100, 7)})] == [("/a", "WRITE")]


def test_backfill_and_live_ship_the_same_files(spark, tmp_path):
    """One tree, every filter: the backfill read, the live source's walk
    and the live read of what the walk emits give each path once, so no
    emitted path is lost or repeated by the read (a glob character or a
    `:` in a name, too)."""
    root = tmp_path / "tree"
    for rel in (
        "a.log", "b.txt", "c[1].log", "e:f.log", ".hidden.log", "_under.log", "x.log._COPYING_",
        "_tmp/in_tmp.log", ".cache/in_cache.log", "_day=1/p.log", "skip/s.log",
        "sub/deep.log", "sub/empty.log", "sub/skip/s.log", "sub/deeper/d.log",
    ):
        path = root / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(b"" if rel == "sub/empty.log" else rel.encode())
    anchored = f"^{re.escape(str(root))}/.*\\.log$"
    logs = {"a.log", "c[1].log", "e:f.log", "_day=1/p.log", "skip/s.log", "sub/deep.log", "sub/empty.log"}
    cases = [
        ({}, logs | {"b.txt", "sub/skip/s.log", "sub/deeper/d.log"}),
        ({"ignore": "/skip$"}, logs - {"skip/s.log"} | {"b.txt", "sub/deeper/d.log"}),
        ({"max_nesting_level": 1}, {"a.log", "b.txt", "c[1].log", "e:f.log"}),
        ({"max_nesting_level": 2}, logs | {"b.txt"}),
        ({"pattern": anchored}, logs | {"sub/skip/s.log", "sub/deeper/d.log"}),
        ({"pattern": anchored, "ignore": "/skip$", "max_nesting_level": 2}, logs - {"skip/s.log"}),
    ]

    def rel(paths):
        return Counter(p.removeprefix("file:").removeprefix(f"{root}/") for p in paths)

    for case, expected in cases:
        backfill = rel(r.path for r in read_binary_tree(spark, str(root), **case).collect())
        options = {"path": str(root), **{k: str(v) for k, v in case.items()}}
        rows, _ = FileEventsStreamReader(options).read({"files": {}})
        emitted = sorted(r[0] for r in rows)
        live = rel(r.path for r in read_binary_files(spark, emitted).collect())
        assert backfill == rel(emitted) == live == Counter(expected), case


def test_glob_character_names_give_one_row_each(spark, tmp_path):
    """A name holding a glob character is read as itself, once: the load
    neither expands it nor lists the other paths again."""
    names = ["a.log", "b[1].log", "c\\d.log", "{x}.log"]
    for name in names:
        (tmp_path / name).write_bytes(name.encode())  # a row's content names its file
    backfill = Counter(bytes(r.content).decode() for r in ingest_tree(spark, str(tmp_path)).collect())
    paths = sorted(walk_tree(str(tmp_path)))
    live = Counter(bytes(r.content).decode() for r in read_binary_files(spark, paths).collect())
    assert backfill == live == Counter(names)


# ---------------------------------------------------------------------------
# the reader's debounce, driven with a fake monotonic clock (no Spark)
# ---------------------------------------------------------------------------
class Clock:
    def __init__(self):
        self.t = 1000.0

    def __call__(self):
        return self.t


@pytest.fixture
def clock(monkeypatch):
    c = Clock()
    monkeypatch.setattr(fes.time, "monotonic", c)
    return c


def _reader(root, debounce_ms=1000):
    return FileEventsStreamReader({"path": str(root), "debounce_ms": str(debounce_ms)})


def _write(path, data, mtime_s):
    path.write_bytes(data)
    os.utime(path, (mtime_s, mtime_s))


def _read(reader, start):
    rows, end = reader.read(start)
    return [(os.path.basename(r[0]), r[1], r[2]) for r in rows], end


def test_storm_collapses_to_one_row(tmp_path, clock):
    f = tmp_path / "a.log"
    r = _reader(tmp_path)
    off = r.initialOffset()
    for i in range(5):  # a write every 300 ms, each inside the 1 s window
        _write(f, b"x" * (i + 1), 100 + i)
        rows, off = _read(r, off)
        assert rows == []
        clock.t += 0.3
    clock.t += 1.0
    rows, off = _read(r, off)
    assert rows == [("a.log", "CREATE", 5)]  # the net change, last version
    assert off["files"] == {str(f): [104 * 10**9, 5]}
    clock.t += 5
    assert _read(r, off) == ([], off)  # settled and unchanged: silent


def test_rewrite_inside_the_window_rearms_the_timer(tmp_path, clock):
    f = tmp_path / "a.log"
    _write(f, b"v1", 100)
    r = _reader(tmp_path)
    rows, off = _read(r, r.initialOffset())
    assert rows == []
    clock.t += 0.8
    _write(f, b"v2!", 101)
    assert _read(r, off)[0] == []  # timer reset at 0.8 s
    clock.t += 0.8  # 1.6 s after the first write, 0.8 s after the rewrite
    assert _read(r, off)[0] == []
    clock.t += 0.2
    rows, off = _read(r, off)
    assert rows == [("a.log", "CREATE", 3)]
    # a change after settling is a WRITE, debounced again
    _write(f, b"v3-longer", 102)
    assert _read(r, off)[0] == []
    clock.t += 1.0
    assert _read(r, off)[0] == [("a.log", "WRITE", 9)]


def test_zero_debounce_emits_on_detection(tmp_path, clock):
    (tmp_path / "a.log").write_bytes(b"a")
    r = FileEventsStreamReader({"path": str(tmp_path)})  # option-less default
    rows, off = _read(r, r.initialOffset())
    assert rows == [("a.log", "CREATE", 1)]
    _write(tmp_path / "a.log", b"ab", 200)
    assert _read(r, off)[0] == [("a.log", "WRITE", 2)]


def test_pending_path_unlinked_is_dropped(tmp_path, clock):
    (tmp_path / "keep.log").write_bytes(b"k")
    (tmp_path / "gone.log").write_bytes(b"g")
    r = _reader(tmp_path)
    rows, off = _read(r, r.initialOffset())
    assert rows == []
    (tmp_path / "gone.log").unlink()
    clock.t += 1.0
    rows, off = _read(r, off)
    assert rows == [("keep.log", "CREATE", 1)]
    assert list(off["files"]) == [str(tmp_path / "keep.log")]
    assert r.pending == {}


def test_read_returns_start_while_nothing_settles(tmp_path, clock):
    (tmp_path / "a.log").write_bytes(b"a")
    r = _reader(tmp_path)
    start = r.initialOffset()
    for _ in range(3):
        rows, end = r.read(start)
        assert end is start and list(rows) == []
        clock.t += 0.3
    # a settled path that vanishes advances the offset, with no row
    clock.t += 1.0
    _, settled = r.read(start)
    (tmp_path / "a.log").unlink()
    rows, end = r.read(settled)
    assert list(rows) == [] and end == {"files": {}}


def test_replay_between_offsets_matches_read(tmp_path, clock):
    (tmp_path / "old.log").write_bytes(b"o")
    r = _reader(tmp_path, debounce_ms=0)
    _, start = r.read(r.initialOffset())
    _write(tmp_path / "old.log", b"o2", 300)
    (tmp_path / "new.log").write_bytes(b"n")
    rows, end = r.read(start)
    rows = list(rows)
    assert sorted(x[1] for x in rows) == ["CREATE", "WRITE"]
    fresh = _reader(tmp_path, debounce_ms=0)  # a restarted query replays
    assert list(fresh.readBetweenOffsets(start, end)) == rows


def test_restart_refinds_pending_paths(tmp_path, clock):
    (tmp_path / "a.log").write_bytes(b"a")
    old = _reader(tmp_path)
    rows, off = _read(old, old.initialOffset())
    clock.t += 1.0
    rows, off = _read(old, off)
    assert rows == [("a.log", "CREATE", 1)]
    (tmp_path / "b.log").write_bytes(b"bb")
    clock.t += 0.1
    assert _read(old, off) == ([], off)  # b pending when the query stops
    new = _reader(tmp_path)  # a restart resumes from the settled offset
    clock.t += 0.5
    assert _read(new, off) == ([], off)  # the timer restarts on the first walk
    clock.t += 1.0
    rows, off2 = _read(new, off)
    assert rows == [("b.log", "CREATE", 2)]
    clock.t += 5
    assert _read(new, off2) == ([], off2)  # emitted exactly once


# ---------------------------------------------------------------------------
# end-to-end through Structured Streaming
# ---------------------------------------------------------------------------
def test_stream_emits_create_then_write(spark, tmp_path):
    root = tmp_path / "watched"
    root.mkdir()
    (root / "first.log").write_bytes(b"v1")

    spark.dataSource.register(FileEventsDataSource)
    table = f"fev_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("file_events")
        .option("path", str(root))
        .option("pattern", r"\.log$")
        .load()
        .writeStream.format("memory")
        .queryName(table)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .outputMode("append")
        .start()
    )
    try:
        def rows():
            return [
                (r.path, r.op, r.size)
                for r in spark.sql(f"SELECT * FROM {table} ORDER BY mod_time").collect()
            ]

        deadline = time.time() + 120
        while time.time() < deadline and len(rows()) < 1:
            time.sleep(1)
        assert rows() == [(str(root / "first.log"), "CREATE", 2)]

        # modify the file (bump mtime) + add a new one and a non-matching one
        time.sleep(0.05)
        (root / "first.log").write_bytes(b"v2-longer")
        (root / "second.log").write_bytes(b"x")
        (root / "noise.tmp").write_bytes(b"x")

        deadline = time.time() + 120
        while time.time() < deadline and len(rows()) < 3:
            time.sleep(1)
        got = rows()
        assert (str(root / "first.log"), "WRITE", 9) in got
        assert (str(root / "second.log"), "CREATE", 1) in got
        assert all("noise.tmp" not in p for p, _, _ in got)  # F1 at the source
        assert len(got) == 3  # no duplicate emissions for unchanged files
    finally:
        q.stop()
