"""Whole-file binary ingest source (SURVEY.md §2.1 S1-S3, §2.2 F1-F5, §2.4 M1).

The reference watches directory trees with inotify + a polling walker and
emits whole files as records. The Spark-first batch form is the built-in
``binaryFile`` data source: recursive listing, glob pushdown at listing time
(the analog of the walker's prune-during-walk, fsnotify.go:163-165), and the
``path/length/modificationTime/content`` columns — no Python in the scan.
Both reads (the backfill's tree, the live path's batch of files) read
local files: the driver stats or walks them itself to size the scan by
bytes, and the tree walk also recovers the zero-byte files Spark's file
index drops.

Enrichment (M1, watchdog.go:328-385) is a pure projection over those
columns. Create-time has no portable Spark source (ctime vs birth time,
watchdog.go:349-357); per the reference's own precedent (BSI overrides it
with path-derived time, BSI.go:52-54) we default create_time = modify_time
and let business transforms override.
"""

from __future__ import annotations

import datetime as dt
import fnmatch
import functools
import math
import os
import socket

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
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


def read_binary_tree(
    spark: SparkSession,
    root: str,
    glob: str | None = None,
    pattern: str | None = None,
    ignore: str | None = None,
    max_nesting_level: int | None = None,
) -> DataFrame:
    """Recursive whole-file scan of a local tree with the reference's
    filter stack.

    - ``glob``    → pathGlobFilter, applied AT LISTING TIME (cheapest — the
                    analog of pruning during the walk).
    - ``pattern``/``ignore`` → F1/F2 regex include/exclude on the full path
                    (rlike predicates; the listing already shrank the input).
    - ``max_nesting_level`` → F5 depth bound relative to root (0/None = off).

    Spark's file index drops ZERO-byte files, but the reference ships them
    (content "0x" on the wire, kafka.go:323-325): one local walk of the
    tree (``_walk_tree``) finds them with Spark's own listing rules and
    unions them as metadata-only rows (content = x''), only when there are
    any. The same walk sums the bytes the scan reads, and the scan is
    coalesced by them (``coalesce_by_bytes``): split by openCostInBytes, a
    tree of small files would spread over one task per core.
    """
    reader = (
        spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(root)
    empties, n_bytes = _walk_tree(root, glob)
    if empties:
        df = df.unionByName(spark.createDataFrame(empties, BINARY_FILE_SCHEMA))
    df = coalesce_by_bytes(df, n_bytes)
    if pattern and pattern not in (".*", ""):
        df = df.filter(F.col("path").rlike(pattern))  # F1 fsnotify.go:184-190
    if ignore:
        df = df.filter(~F.col("path").rlike(ignore))  # F2 fsnotify.go:192-198
    if max_nesting_level:
        rel = sub_dir(F.col("path"), F.lit(f"file:{root}"))
        depth = F.size(F.split(rel, "/"))
        df = df.filter(depth <= max_nesting_level)  # F5 fsnotify.go:174-179
    return df


def _walk_tree(root: str, glob: str | None) -> tuple[list[tuple], int]:
    """One local walk of ``root``: the binaryFile rows of the zero-byte
    files the scan would list, and the total bytes of the files it reads.

    A name is kept exactly when Spark's listing keeps it
    (``_spark_lists``), and ``glob`` applies to file names like
    pathGlobFilter does. Paths and modification times take the binaryFile
    form: ``file:`` + absolute path, milliseconds.
    """
    empties = []
    n_bytes = 0
    pending = [os.path.abspath(root)]
    while pending:
        try:
            entries = list(os.scandir(pending.pop()))
        except (FileNotFoundError, NotADirectoryError):
            continue
        for entry in entries:
            try:
                is_dir = entry.is_dir()
                if not _spark_lists(entry.name, is_dir):
                    continue
                if is_dir:
                    pending.append(entry.path)
                    continue
                st = entry.stat()
            except FileNotFoundError:  # unlinked (or a dangling link) mid-walk
                continue
            if glob and not fnmatch.fnmatch(entry.name, glob):
                continue
            n_bytes += st.st_size
            if st.st_size == 0:
                ms = st.st_mtime_ns // 1_000_000
                mtime = dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc)
                empties.append((f"file:{entry.path}", mtime, 0, bytearray()))
    return empties, n_bytes


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


def coalesce_by_bytes(df: DataFrame, n_bytes: int) -> DataFrame:
    """``df`` in ceil(n_bytes / spark.sql.files.maxPartitionBytes)
    partitions, at least one — the byte-sizing rule of both whole-file
    reads.

    A scan's own split count is at least this bound (its splits hold at
    most maxPartitionBytes, counting openCostInBytes per file), and a
    coalesce never widens a scan: the rule only merges the padding of
    small files, and on a tree of large files the two counts meet. Each
    partition stays about as large as the scan's own splits, so a large
    read still reaches a driver-side consumer a bounded piece at a time.
    """
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    return df.coalesce(max(1, math.ceil(n_bytes / conf.filesMaxPartitionBytes())))


def read_binary_files(spark: SparkSession, paths: list[str]) -> DataFrame:
    """binaryFile rows for a list of local files, read as few partitions
    as their bytes need — the live path's per-batch read
    (watchdog.go:314-326).

    - A file that no longer exists is skipped: log rotation can unlink it
      between its event and this read (the Handle404 analog,
      watchdog.go:394-409). ``ignoreMissingFiles`` covers only files that
      vanish after the listing; a missing path fails the listing itself with
      PATH_NOT_FOUND, so the paths are stat-ed first and, when one vanishes
      between the stat and the listing, stat-ed again.
    - The scan is coalesced by the files' bytes (``coalesce_by_bytes``):
      each driver-side consumer (toLocalIterator, show) runs one job per
      partition, and split by openCostInBytes a few small files would
      spread over one partition per core.
    - With no file left, the frame has the binaryFile schema and no
      partitions, so actions on it run no job.
    """
    from pyspark.errors import AnalysisException

    present = _file_sizes(paths)
    while present:
        try:
            raw = (
                spark.read.format("binaryFile")
                .option("ignoreMissingFiles", "true")
                .load(list(present))
            )
        except AnalysisException as exc:
            still = _file_sizes(present)
            if exc.getCondition() != "PATH_NOT_FOUND" or len(still) == len(present):
                raise
            present = still
            continue
        return coalesce_by_bytes(raw, sum(present.values()))
    return spark.range(0).select(
        *(F.lit(None).cast(f.dataType).alias(f.name) for f in BINARY_FILE_SCHEMA)
    )


def _file_sizes(paths) -> dict[str, int]:
    """path → size in bytes for the paths that still exist."""
    sizes = {}
    for p in paths:
        try:
            sizes[p] = os.stat(p).st_size
        except (FileNotFoundError, NotADirectoryError):
            continue
    return sizes


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
