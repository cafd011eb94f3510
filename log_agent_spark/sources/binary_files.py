"""Whole-file binary ingest source (SURVEY.md §2.1 S1-S3, §2.2 F1-F5, §2.4 M1).

The reference watches directory trees with inotify + a polling walker and
emits whole files as records. The Spark-first batch form is the built-in
``binaryFile`` data source: recursive listing, glob pushdown at listing time
(the analog of the walker's prune-during-walk, fsnotify.go:163-165), and the
``path/length/modificationTime/content`` columns — no Python in the scan.

Enrichment (M1, watchdog.go:328-385) is a pure projection over those
columns. Create-time has no portable Spark source (ctime vs birth time,
watchdog.go:349-357); per the reference's own precedent (BSI overrides it
with path-derived time, BSI.go:52-54) we default create_time = modify_time
and let business transforms override.
"""

from __future__ import annotations

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
    """Recursive whole-file scan with the reference's filter stack.

    - ``glob``    → pathGlobFilter, applied AT LISTING TIME (cheapest — the
                    analog of pruning during the walk).
    - ``pattern``/``ignore`` → F1/F2 regex include/exclude on the full path
                    (rlike predicates; the listing already shrank the input).
    - ``max_nesting_level`` → F5 depth bound relative to root (0/None = off).
    """
    reader = (
        spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(root)
    # binaryFile plans one partition per byte range, so ZERO-byte files can
    # never surface from it. The reference ships empty files (content "0x"
    # on the wire, kafka.go:323-325), so recover them with a listing pass —
    # the same driver-side FS metadata walk Spark's own file index does —
    # and union metadata-only rows (content = x'').
    df = df.unionByName(_empty_file_rows(spark, root, glob))
    if pattern and pattern not in (".*", ""):
        df = df.filter(F.col("path").rlike(pattern))  # F1 fsnotify.go:184-190
    if ignore:
        df = df.filter(~F.col("path").rlike(ignore))  # F2 fsnotify.go:192-198
    if max_nesting_level:
        rel = sub_dir(F.col("path"), F.lit(f"file:{root}"))
        depth = F.size(F.split(rel, "/"))
        df = df.filter(depth <= max_nesting_level)  # F5 fsnotify.go:174-179
    return df


def _empty_file_rows(spark: SparkSession, root: str, glob: str | None) -> DataFrame:
    """Zero-byte files under ``root`` in the binaryFile row shape.

    Uses the Hadoop FileSystem API (any supported FS — local, HDFS, S3A);
    only METADATA of empty files reaches the driver, bounded by the count
    of empty files, not the tree size. Hidden files ('.'/'_' prefixes) are
    skipped to match Hadoop's listing filter; ``glob`` applies to the
    filename like pathGlobFilter does.
    """
    import datetime as dt
    import fnmatch

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(root)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    rows = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        if st.getLen() != 0:
            continue
        name = st.getPath().getName()
        if name.startswith(".") or name.startswith("_"):
            continue
        if glob and not fnmatch.fnmatch(name, glob):
            continue
        mtime = dt.datetime.fromtimestamp(
            st.getModificationTime() / 1000.0, tz=dt.timezone.utc
        ).replace(tzinfo=None)
        rows.append((st.getPath().toString(), mtime, 0, bytearray(b"")))
    return spark.createDataFrame(rows, BINARY_FILE_SCHEMA)


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
    - The scan is coalesced to ceil(bytes / spark.sql.files.maxPartitionBytes)
      partitions. Split by openCostInBytes, a few small files would spread
      over one partition per core, and each driver-side consumer
      (toLocalIterator, show) runs one job per partition; the bound keeps
      each partition about as large as the scan's own splits, so a large
      catch-up batch still reaches the driver a bounded piece at a time.
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
        max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        return raw.coalesce(max(1, math.ceil(sum(present.values()) / max_bytes)))
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
