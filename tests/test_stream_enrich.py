"""The live path's per-batch read (``__main__._stream_enrich`` over
``plans/ingest.file_meta``): vanished files are skipped, empty files are
shipped, no Spark job lists a batch, the sink chain runs one job per
driver-side sink for a small batch and none for an empty one, and a live
batch's logfile rows are the backfill's."""

from __future__ import annotations

import datetime as dt
import itertools
import os

import py4j.clientserver
import py4j.java_gateway
import py4j.protocol
import pytest

from log_agent_spark.__main__ import _stream_enrich
from log_agent_spark.config import BizConfig, build_batch_ingest
from log_agent_spark.plans.agentdemo import build_fixture_tree
from log_agent_spark.plans.ingest import MAX_FILE_SIZE, file_meta, logfile_rows
from log_agent_spark.sinks.filecopy import file_copy_sink
from log_agent_spark.sinks.multi import MultiSink, Sink, console_sink
from log_agent_spark.sources import binary_files

_groups = itertools.count()


def _batch(spark, paths):
    return spark.createDataFrame([(str(p), "CREATE") for p in paths], "path string, op string")


def _enrich(watch):
    return _stream_enrich(BizConfig(name="SPI.T", watch=str(watch)))


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return the group's job count."""
    sc = spark.sparkContext
    group = f"stream_enrich_{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_vanished_path_is_skipped_not_fatal(spark, tmp_path):
    """Handle404 parity: a file unlinked between its event and the read
    drops out of the batch instead of failing it (binaryFile's listing
    raises PATH_NOT_FOUND for it even with ignoreMissingFiles)."""
    present = tmp_path / "a.log"
    present.write_bytes(b"alpha")
    missing = tmp_path / "gone.log"
    enrich = _enrich(tmp_path)

    rows = enrich(_batch(spark, [present, missing])).collect()
    assert [(r.filepath, bytes(r.content)) for r in rows] == [(str(present), b"alpha")]

    empty = enrich(_batch(spark, [missing, tmp_path / "nodir" / "x.log"]))
    assert empty.collect() == []
    assert empty.schema == enrich(_batch(spark, [present])).schema


def test_path_vanishing_after_the_stat_is_skipped(spark, tmp_path, monkeypatch):
    """A path that passes the stat but is gone by the listing is stat-ed
    again and skipped (a glob-escaped name too)."""
    present = tmp_path / "a.log"
    present.write_bytes(b"alpha")
    real = binary_files._stat_files
    for name in ("gone.log", "gone[1].log"):
        gone = str(tmp_path / name)
        calls = []

        def stale_first(paths):
            calls.append(list(paths))
            stats = real(paths)
            return {**stats, gone: (0, 3)} if len(calls) == 1 else stats

        monkeypatch.setattr(binary_files, "_stat_files", stale_first)
        rows = binary_files.read_binary_files(spark, [str(present), gone]).collect()
        assert [r.path.removeprefix("file:") for r in rows] == [str(present)], name
        assert len(calls) == 2, name


def test_zero_byte_file_is_shipped(spark, tmp_path):
    """Spark's file index drops 0-byte files; the live read ships them as
    the reference does (content "0x" on the wire, kafka.go:323-325): one
    row with length 0 and the stat's mtime, copied as an empty file."""
    watch = tmp_path / "watch"
    watch.mkdir()
    empty = watch / "empty.log"
    empty.write_bytes(b"")
    mtime_ns = 1_700_000_000_123_456_789
    os.utime(empty, ns=(mtime_ns, mtime_ns))
    (watch / "full.log").write_bytes(b"x")

    raw = binary_files.read_binary_files(spark, [str(empty)]).collect()
    assert [(r.path, r.length, bytes(r.content)) for r in raw] == [(f"file:{empty}", 0, b"")]
    assert round(raw[0].modificationTime.timestamp() * 1000) == mtime_ns // 1_000_000

    frame = _enrich(watch)(_batch(spark, [empty, watch / "full.log"]))
    assert sorted((r.filename, r.size) for r in frame.collect()) == [("empty.log", 0), ("full.log", 1)]
    dest = tmp_path / "dest"
    file_copy_sink(str(dest)).write(frame)
    assert (dest / "empty.log").read_bytes() == b""
    assert round((dest / "empty.log").stat().st_mtime_ns / 1e6) == mtime_ns // 1_000_000


def test_zero_byte_rows_run_no_python_worker(spark, tmp_path):
    """The zero-byte rows are literals in the plan: reading them starts no
    Python worker (an RDD of driver data runs one per slice)."""
    (tmp_path / "empty.log").write_bytes(b"")
    (tmp_path / "full.log").write_bytes(b"x")
    paths = [str(tmp_path / "empty.log"), str(tmp_path / "full.log")]
    df = binary_files.read_binary_files(spark, paths)
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
    assert sorted((r.length, bytes(r.content)) for r in df.collect()) == [(0, b""), (1, b"x")]


def test_plan_construction_calls_are_flat_in_file_count(spark, tmp_path, monkeypatch):
    """Building the read and the logfile rows crosses py4j as often for 50
    files as for 5: the path list goes to the JVM in one call. Reference
    releases, sent whenever Python collects a JVM object's proxy, are not
    counted."""
    calls = []

    def count(n):
        tree = tmp_path / str(n)
        tree.mkdir()
        (tree / "empty.log").write_bytes(b"")
        paths = [str(tree / "empty.log")]
        for i in range(n):
            (tree / f"f{i}.log").write_bytes(b"x" * (i + 1))
            paths.append(str(tree / f"f{i}.log"))
        logfile_rows(file_meta(spark, paths, str(tree)))  # warm the column caches
        calls.clear()
        logfile_rows(file_meta(spark, paths, str(tree)))
        return len(calls)

    for conn in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
        def send(self, command, *args, _send=conn.send_command, **kwargs):
            if not command.startswith(py4j.protocol.MEMORY_COMMAND_NAME):
                calls.append(command)
            return _send(self, command, *args, **kwargs)

        monkeypatch.setattr(conn, "send_command", send)
    assert count(5) == count(50) > 0


def test_large_batch_is_listed_without_a_job(spark, tmp_path):
    """Past Spark's parallel-listing threshold (32 paths) a batch's files
    are still listed on the driver: building the read runs no job."""
    paths = []
    for i in range(40):
        f = tmp_path / f"f{i:02d}.log"
        f.write_bytes(b"x" * (i + 1))
        paths.append(str(f))
    frames = []
    assert _jobs(spark, lambda: frames.append(binary_files.read_binary_files(spark, paths))) == 0
    assert frames[0].count() == 40


def test_sink_chain_job_shape(spark, tmp_path):
    """One job per driver-side sink for a small batch, none for an empty
    batch, and more than one partition only past maxPartitionBytes."""
    watch = tmp_path / "watch"
    watch.mkdir()
    files = []
    for i in range(7):
        f = watch / f"f{i}.log"
        f.write_bytes(bytes([65 + i]) * 1000 if i < 6 else b"")  # f6 is empty
        files.append(f)
    enrich = _enrich(watch)
    jobs: dict[str, int] = {}

    def counted(sink):
        def _write(df):
            jobs[sink.name] = _jobs(spark, lambda: sink.write(df))

        return Sink(name=sink.name, write=_write, priority=sink.priority)

    chain = MultiSink(
        [counted(file_copy_sink(str(tmp_path / "dest"), priority=5)), counted(console_sink())]
    )

    full = enrich(_batch(spark, files))
    assert full.rdd.getNumPartitions() == 1
    chain(full)
    assert jobs == {"file": 1, "console": 1}
    assert sorted(p.name for p in (tmp_path / "dest").iterdir()) == [f.name for f in files]

    empty = enrich(_batch(spark, [watch / "missing.log"]))
    assert empty.schema == full.schema
    chain(empty)
    assert jobs == {"file": 0, "console": 0}

    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2048")
    try:
        assert enrich(_batch(spark, files)).rdd.getNumPartitions() > 1
    finally:
        spark.conf.set(key, prev)



@pytest.mark.parametrize("biz", ["BSI.T", "SPI.T"])
def test_backfill_and_live_build_the_same_logfile_rows(spark, tmp_path, biz):
    """One tree through ``build_batch_ingest`` and through a live batch
    (``logfile_rows`` over ``_stream_enrich``) gives the same rows apart
    from ``upload_time``, with the section's transform in both: BSI takes
    file_time from the test-id folder, SPI keeps the file's mtime. The tree
    holds BSI directories, a zip with a GBK-named member, empty files, a
    gzipped 2 KB log, a jpg and a file one byte over the F6 gate."""
    tree = tmp_path / "tree"
    build_fixture_tree(str(tree))
    (tree / "flat" / "oversize.log").write_bytes(b"o" * (MAX_FILE_SIZE + 1))
    cfg = BizConfig(name=biz, watch=str(tree))
    paths = sorted(binary_files.walk_tree(str(tree)))

    def rows(df):
        return sorted(
            (r.asDict() for r in df.drop("upload_time").collect()),
            key=lambda r: (r["folder"], r["pack"], r["name"]),
        )

    backfill = rows(build_batch_ingest(spark, cfg))
    live = rows(logfile_rows(_stream_enrich(cfg)(_batch(spark, paths))))
    assert backfill == live

    names = {(r["pack"], r["name"]) for r in live}
    assert ("", "oversize.log") not in names
    assert {("FLOWLOG.zip", "中文名.txt"), ("", "empty.dat"), ("", "photo.jpg")} <= names
    big = next(r for r in live if r["name"] == "big.log")
    assert big["compress"] and big["size"] == 2400
    assert not next(r for r in live if r["name"] == "photo.jpg")["compress"]
    folder_time = dt.datetime(2017, 6, 7, 16, 15, 42, 797000)
    file_times = {r["file_time"] for r in live if r["folder"].startswith("LOUP")}
    if biz == "BSI.T":
        assert file_times == {folder_time}
    else:
        assert folder_time not in file_times
        assert {r["folder_time"] for r in live} == {None}
