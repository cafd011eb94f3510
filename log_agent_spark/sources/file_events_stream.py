"""Custom streaming source for filesystem events — S1/S2 as a Spark 4
Python DataSource (SURVEY.md §7 "whole-file binary streaming source").

The reference's watchers (inotify `watcher/fsnotify.go:27-65`, mtime-diff
polling `watcher/fspolling.go:33-87`) become a `SimpleDataSourceStreamReader`
whose OFFSET is the settled `(path → [mtime_ns, size])` snapshot — the state
the reference keeps in BadgerDB (`watchdog.go:429-436`), except checkpointed
by Spark, which also gives deterministic replay (`readBetweenOffsets`)
instead of the reference's hand-rolled commit.

The per-path debounce (T1, `watchdog.go:193-251`) lives here too, in front
of the batcher as in the reference. Each `read` walks the tree with the
backfill's walker (`binary_files.walk_tree`: Spark's listing rules, then
bounded depth and include/ignore regex — F1, F2, F5 — on the plain path),
so every path it emits is one the batch's read returns and one a backfill
of the same tree ships; a path whose stat differs from
its pending entry (or, if none, from its settled entry) (re)starts its
timer; a path quiet for `debounce_ms` settles into the offset and is
emitted once, CREATE if it was absent from the previous offset, else WRITE
(the op filter of `watcher/fsnotify.go:50-54`). A pending path that
vanishes is dropped unseen. While nothing settles or vanishes `read`
returns its start offset, so Spark runs no batch. `debounce_ms` = 0 (the
default) emits on detection (T7).

Timers are in memory only: a restart re-finds pending paths (they are not
in the settled offset) and emits each one window later — the same loss the
reference's in-memory timers take.

Scale note: the snapshot-in-offset design is right for the per-biz watch
trees this models (thousands of files); a 10^9-file deployment would keep
only a high-water mark in the offset.

Usage:
    spark.dataSource.register(FileEventsDataSource)
    events = (spark.readStream.format("file_events")
              .option("path", root).option("pattern", r"\\.log$")
              .option("debounce_ms", "3000").load())
"""

from __future__ import annotations

import datetime as dt
import time
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from log_agent_spark.sources.binary_files import walk_tree

FILE_EVENT_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("op", StringType(), False),  # CREATE | WRITE
        StructField("size", LongType(), True),
        StructField("mod_time", TimestampType(), True),
    ]
)


def _diff(start: dict, end: dict) -> list[tuple]:
    rows = []
    for p, (mtime_ns, size) in sorted(end.items()):
        prev = start.get(p)
        if prev == (mtime_ns, size):
            continue  # unchanged — fspolling.go:71-87 isSaved
        op = "CREATE" if prev is None else "WRITE"  # fsnotify op filter :50-54
        rows.append(
            (p, op, size, dt.datetime.fromtimestamp(mtime_ns / 1e9, dt.timezone.utc).replace(tzinfo=None))
        )
    return rows


def _files(offset: dict) -> dict[str, tuple[int, int]]:
    return {p: tuple(v) for p, v in offset.get("files", {}).items()}


class FileEventsStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.root = options["path"]
        self.pattern = options.get("pattern")
        self.ignore = options.get("ignore")
        self.max_depth = int(options.get("max_nesting_level", 0))
        self.debounce_s = int(options.get("debounce_ms", 0)) / 1000
        # path → (mtime_ns, size, seen_at): changed, not yet quiet for a window
        self.pending: dict[str, tuple[int, int, float]] = {}

    def initialOffset(self) -> dict:
        return {"files": {}}

    def _snapshot(self) -> dict[str, tuple[int, int]]:
        return walk_tree(self.root, self.pattern, self.ignore, self.max_depth)

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        settled = _files(start)
        snap = self._snapshot()
        now = time.monotonic()
        pending = {}
        for p, stat in snap.items():
            prev = self.pending.get(p)
            if prev is not None and prev[:2] == stat:
                pending[p] = prev
            elif prev is not None or settled.get(p) != stat:
                pending[p] = (*stat, now)  # every change re-arms the timer
        ready = {p for p, (_, _, seen_at) in pending.items() if now - seen_at >= self.debounce_s}
        self.pending = {p: v for p, v in pending.items() if p not in ready}
        # vanished paths leave the snapshot; pending ones were never emitted
        end = {p: v for p, v in settled.items() if p in snap}
        end.update((p, snap[p]) for p in ready)
        if end == settled:
            return iter(()), start
        return iter(_diff(settled, end)), {"files": {p: list(v) for p, v in end.items()}}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # deterministic replay after failure: same diff, from offsets alone
        return iter(_diff(_files(start), _files(end)))


class FileEventsDataSource(DataSource):
    """spark.readStream.format("file_events") — filesystem event source."""

    @classmethod
    def name(cls) -> str:
        return "file_events"

    def schema(self) -> StructType:
        return FILE_EVENT_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> FileEventsStreamReader:
        return FileEventsStreamReader(self.options)
