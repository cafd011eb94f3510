"""The live path's per-batch read (``__main__._stream_enrich`` over
``sources/binary_files.read_binary_files``): vanished files are skipped,
and the sink chain runs one job per driver-side sink for a small batch and
none for an empty one."""

from __future__ import annotations

import itertools

from log_agent_spark.__main__ import _stream_enrich
from log_agent_spark.config import BizConfig
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
    again and skipped."""
    present = tmp_path / "a.log"
    present.write_bytes(b"alpha")
    gone = str(tmp_path / "gone.log")
    real = binary_files._file_sizes
    calls = []

    def stale_first(paths):
        calls.append(list(paths))
        sizes = real(paths)
        return {**sizes, gone: 3} if len(calls) == 1 else sizes

    monkeypatch.setattr(binary_files, "_file_sizes", stale_first)
    rows = binary_files.read_binary_files(spark, [str(present), gone]).collect()
    assert [r.path.removeprefix("file:") for r in rows] == [str(present)]
    assert len(calls) == 2


def test_sink_chain_job_shape(spark, tmp_path):
    """One job per driver-side sink for a small batch, none for an empty
    batch, and more than one partition only past maxPartitionBytes."""
    watch = tmp_path / "watch"
    watch.mkdir()
    files = []
    for i in range(6):
        f = watch / f"f{i}.log"
        f.write_bytes(bytes([65 + i]) * 1000)
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

