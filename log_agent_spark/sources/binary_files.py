"""Whole-file binary ingest source (SURVEY.md §2.1 S1-S3, §2.2 F1-F5, §2.4 M1).

The reference walks directory trees with one walker (WalkDir) behind
both its live watcher and its history import, and emits whole files as
records. Here too one driver-side walk (``walk_tree``: Spark's listing
rules, F1/F2/F5, pruning ignored directories during the walk) lists the
files of both modes, and one read (``read_binary_files``) turns a set of
local files into the built-in ``binaryFile`` source's
``path/length/modificationTime/content`` rows — no Python in the scan.
The backfill reads what the walk returns; the live source
(file_events_stream) diffs successive walks, and each batch reads the
paths it emits. The driver has stat-ed every file it reads, so it sizes
the scan by bytes and recovers the zero-byte files Spark's file index
drops.

Enrichment (M1, watchdog.go:328-385) is a pure projection over those
columns. Create-time has no portable Spark source (ctime vs birth time,
watchdog.go:349-357); per the reference's own precedent (BSI overrides it
with path-derived time, BSI.go:52-54) we default create_time = modify_time
and let business transforms override.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import math
import os
import re
import socket
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from log_agent_spark.functions.paths import extension, filename, folder, sub_dir

# the binaryFile source's row shape, as its reads report it (all nullable)
BINARY_FILE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("modificationTime", TimestampType()),
        StructField("length", LongType()),
        StructField("content", BinaryType()),
    ]
)


def walk_tree(
    root: str,
    pattern: str | None = None,
    ignore: str | None = None,
    max_nesting_level: int | None = None,
) -> dict[str, tuple[int, int]]:
    """path → (mtime_ns, size) for the files under ``root`` that the agent
    ships — the one tree walk of both modes (WalkDir, fsnotify.go:148-182):
    the backfill reads what it returns, the live source diffs it.

    - ``pattern`` → F1 include regex (fsnotify.go:184-190), on file paths;
    - ``ignore``  → F2 exclude regex (fsnotify.go:192-198), on file paths
      and on directory paths, so an ignored directory is pruned during the
      walk (fsnotify.go:163-165);
    - ``max_nesting_level`` → F5 depth bound (fsnotify.go:174-179): files
      directly under ``root`` are at level 1; 0/None = off.

    Both regexes search the plain absolute path. A name is kept only when
    Spark's listing keeps it (``_spark_lists``), at every level, so the
    binaryFile read returns every file the walk admits. A path that
    vanishes (or a dangling link) mid-walk, or a directory it cannot list,
    is skipped.
    """
    pat = re.compile(pattern) if pattern else None
    ign = re.compile(ignore) if ignore else None
    found: dict[str, tuple[int, int]] = {}
    pending = [(os.path.abspath(root), 1)]
    while pending:
        directory, level = pending.pop()
        try:
            entries = list(os.scandir(directory))
        except OSError:
            continue
        for entry in entries:
            try:
                is_dir = entry.is_dir()
                if not _spark_lists(entry.name, is_dir):
                    continue
                if ign and ign.search(entry.path):
                    continue
                if is_dir:
                    if not max_nesting_level or level < max_nesting_level:
                        pending.append((entry.path, level + 1))
                    continue
                if pat and not pat.search(entry.path):
                    continue
                st = entry.stat()
            except OSError:
                continue
            found[entry.path] = (st.st_mtime_ns, st.st_size)
    return found


def _spark_lists(name: str, is_dir: bool) -> bool:
    """Whether Spark's file listing keeps a path of this name.

    Every level drops '_'/'.' prefixes (except a '_' name holding '=', a
    partition directory) and the ``._COPYING_`` suffix of a file still
    being copied, unless the name starts _metadata/_common_metadata
    (HadoopFSUtils.shouldFilterOutPathName); the file index then drops
    '_'/'.' file names again (PartitioningAwareFileIndex.isDataPath), so
    that exception keeps directories only.
    """
    hidden = (name.startswith("_") and "=" not in name) or name.startswith(".")
    if (hidden or name.endswith("._COPYING_")) and not name.startswith(
        ("_common_metadata", "_metadata")
    ):
        return False
    return is_dir or not hidden


def read_binary_tree(
    spark: SparkSession,
    root: str,
    pattern: str | None = None,
    ignore: str | None = None,
    max_nesting_level: int | None = None,
) -> DataFrame:
    """Whole-file scan of a local tree with the reference's filter stack
    (F1/F2/F5, see ``walk_tree``) — the backfill's read: the files of one
    walk, read like a live batch."""
    return read_binary_files(spark, walk_tree(root, pattern, ignore, max_nesting_level))


def coalesce_by_bytes(df: DataFrame, n_bytes: int) -> DataFrame:
    """``df`` in ceil(n_bytes / spark.sql.files.maxPartitionBytes)
    partitions, at least one — the byte-sizing rule of the whole-file
    read.

    A scan's own split count is at least this bound (its splits hold at
    most maxPartitionBytes, counting openCostInBytes per file), and a
    coalesce never widens a scan: the rule only merges the padding of
    small files, and on a tree of large files the two counts meet. Each
    partition stays about as large as the scan's own splits, so a large
    read still reaches a driver-side consumer a bounded piece at a time.
    """
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    return df.coalesce(max(1, math.ceil(n_bytes / conf.filesMaxPartitionBytes())))


def read_binary_files(spark: SparkSession, paths: Iterable[str]) -> DataFrame:
    """binaryFile rows for local files, read as few partitions as their
    bytes need — the whole-file read of both modes: a live batch's paths
    (watchdog.go:314-326) and the backfill's walk.

    - A file that no longer exists is skipped: log rotation can unlink it
      between its event and this read (the Handle404 analog,
      watchdog.go:394-409). ``ignoreMissingFiles`` covers only files that
      vanish after the listing; a missing path fails the listing itself with
      PATH_NOT_FOUND, so the paths are stat-ed first and, when one vanishes
      between the stat and the listing, stat-ed again.
    - Spark's file index drops ZERO-byte files, but the reference ships them
      (content "0x" on the wire, kafka.go:323-325): only the non-empty files
      are read, and the empty ones are unioned as metadata-only rows
      (content = x'') built from the stat, only when there are any. They
      are literals in the plan, not an RDD of driver data, so reading them
      starts no Python worker.
    - The paths are literal: each glob character in a name is
      backslash-escaped, so the load's glob expansion matches that one
      file. The path list crosses py4j in one call, so building the read
      costs the same for 5 files as for 50.
    - The scan is coalesced by the files' bytes (``coalesce_by_bytes``):
      each driver-side consumer (toLocalIterator, show) runs one job per
      partition, and split by openCostInBytes a few small files would
      spread over one partition per core.
    - With no file left, the frame has the binaryFile schema and no
      partitions, so actions on it run no job.
    """
    from pyspark.errors import AnalysisException

    present = _stat_files(paths)
    while True:
        try:
            return _read_stated(spark, present)
        except AnalysisException as exc:
            still = _stat_files(present)
            if exc.getCondition() != "PATH_NOT_FOUND" or len(still) == len(present):
                raise
            present = still


def _read_stated(spark: SparkSession, stats: dict[str, tuple[int, int]]) -> DataFrame:
    """read_binary_files over ``path → (mtime_ns, size)`` stats."""
    if not stats:
        return spark.range(0).select(
            *(F.lit(None).cast(f.dataType).alias(f.name) for f in BINARY_FILE_SCHEMA)
        )
    full = [_glob_escape(p) for p, (_, size) in stats.items() if size]
    empties = [  # binaryFile's form: file: + absolute path, a millisecond mtime
        {
            "path": f"file:{p}",
            "modificationTime": (
                _EPOCH + dt.timedelta(milliseconds=mtime_ns // 10**6)
            ).isoformat(timespec="milliseconds"),
            "length": 0,
            "content": "",  # base64 of no bytes
        }
        for p, (mtime_ns, size) in stats.items()
        if not size
    ]
    df = None
    if full:
        reader = (
            spark.read.format("binaryFile")
            .option("ignoreMissingFiles", "true")
            # the checksum file system builds a `.name.crc` sibling path,
            # which fails on a `:` in the name (URISyntaxException); the raw
            # local file system reads the file itself, for this load only
            .option("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
            .option("fs.file.impl.disable.cache", "true")
        )
        # one py4j call for the whole path list (a Python list crosses one
        # call per element): NUL joins them, as no POSIX path holds it
        jpaths = spark._jvm.java.util.regex.Pattern.compile("\0").split("\0".join(full))
        df = DataFrame(reader._jreader.load(jpaths), spark)
    if empties:
        # one JSON literal in the plan, not an RDD of driver data: an RDD
        # starts a Python worker for each of its slices
        rows = spark.range(1, numPartitions=1).select(
            F.inline(F.from_json(F.lit(json.dumps(empties)), ArrayType(BINARY_FILE_SCHEMA)))
        )
        df = rows if df is None else df.unionByName(rows)
    return coalesce_by_bytes(df, sum(size for _, size in stats.values()))


_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _glob_escape(path: str) -> str:
    """``path`` with Hadoop's glob characters backslash-escaped, so that
    the load's glob expansion matches the file of that literal name (with
    expansion off, Spark 4.1.2 lists every path once more for each one
    that looks like a glob)."""
    return re.sub(r"([\\\[\]{}*?])", r"\\\1", path)


def _stat_files(paths: Iterable[str]) -> dict[str, tuple[int, int]]:
    """path → (mtime_ns, size) for the paths that still exist."""
    stats = {}
    for p in paths:
        try:
            st = os.stat(p)
        except (FileNotFoundError, NotADirectoryError):
            continue
        stats[p] = (st.st_mtime_ns, st.st_size)
    return stats


def enrich_file_meta(df: DataFrame, root: str, host: str | None = None) -> DataFrame:
    """M1 metadata enrichment: binaryFile columns → FileMeta columns."""
    return df.select(*_file_meta_columns(root, host or socket.gethostname()))


@functools.lru_cache(maxsize=16)
def _file_meta_columns(root: str, host: str) -> tuple[Column, ...]:
    """enrich_file_meta's projection, built once per (root, host): the
    expressions are unresolved and session-free, and rebuilding them over
    py4j on every live micro-batch cost more than the batch's read (each
    use still gets fresh expression ids)."""
    path_clean = F.regexp_replace(F.col("path"), "^file:", "")
    rel = sub_dir(path_clean, F.lit(root))
    return (
        path_clean.alias("filepath"),
        F.lit("").alias("pack"),
        rel.alias("sub_dir"),
        filename(path_clean).alias("filename"),
        F.col("length").alias("size"),
        extension(path_clean).alias("ext"),
        F.col("modificationTime").alias("create_time"),  # portable fallback
        F.col("modificationTime").alias("modify_time"),
        F.col("content"),
        F.lit(host).alias("host"),
        folder(rel).alias("folder"),
    )
