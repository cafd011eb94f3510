"""The logfile row, for backfill and live alike (SURVEY.md §7 Phase 1).

whole-file read (S1-S3, F1-F5) → FileMeta enrichment (M1) → biz transform
(M2-M4) → F6 size gate → zip explode (M5-M6) → checksum (M7) → compression
gate (M8) → logfile projection (M10) — the reference's whole per-record
processing chain (watchdog.go:387-437) as ONE declarative plan. The
reference runs one handler chain over live and history (``LOAD``) events
(SURVEY §1.1); here too both modes build the row from the same two steps:

- ``file_meta``: read a set of files and enrich them (M1-M4). The live
  path's ``__main__._stream_enrich`` calls it on a batch's paths, the
  backfill (``ingest_tree``) on the tree walk's.
- ``logfile_rows``: FileMeta rows → the 15-column ``logfile`` row
  (cassandra.go:333-350), the only builder of that row. The backfill
  writer and the live row sinks call it; the file-copy sink takes the
  FileMeta rows, since it copies the raw bytes (file.go:44-88).

F6 is a gate of this projection: the reference skips an oversize file in
its Cassandra sink (cassandra.go:66-69; the Kafka check is commented out,
kafka.go:172-176), so a file-copy of the same file still ships it.

The backfill output is written partitioned by ``file_date`` — mirroring the
Cassandra partition key, and at 100 TB giving date-pruned scans for every
time-bounded query.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from log_agent_spark.functions.content import apply_compression, checksum
from log_agent_spark.functions.paths import bsi_parse
from log_agent_spark.functions.ziputil import with_zip_members
from log_agent_spark.sources.binary_files import (
    enrich_file_meta,
    read_binary_files,
    walk_tree,
)

MAX_FILE_SIZE = 16 * 1024 * 1024  # F6, cassandra.go:17-19


def file_meta(
    spark: SparkSession,
    paths: Iterable[str],
    root: str,
    transform: Callable[[DataFrame], DataFrame] = bsi_parse,
    host: str | None = None,
) -> DataFrame:
    """Local files → FileMeta rows with the biz transform applied (M1-M4)."""
    return transform(enrich_file_meta(read_binary_files(spark, paths), root, host))


def logfile_rows(meta: DataFrame) -> DataFrame:
    """FileMeta rows → logfile rows: the F6 gate, zip explode, checksum and
    compression gate, then the 15-column projection. A transform without
    a business time (the SPI identity) leaves ``folder_time`` NULL."""
    gate, projection = _logfile_columns("folder_time" in meta.columns)
    return with_zip_members(meta.filter(gate)).select(*projection)  # M5-M6


@functools.lru_cache(maxsize=2)
def _logfile_columns(has_folder_time: bool) -> tuple[Column, tuple[Column, ...]]:
    """logfile_rows' F6 gate and projection, built once per transform shape:
    the expressions are unresolved and session-free, and rebuilding them
    took about 420 py4j calls, two thirds of a backfill pass's plan (each
    use still gets fresh expression ids)."""
    comp = apply_compression(F.col("size"), F.col("ext"), F.col("content"))  # M8
    folder_time = F.col("folder_time") if has_folder_time else F.lit(None).cast("timestamp")
    return F.col("size") <= MAX_FILE_SIZE, (  # F6 cassandra.go:66-69
        F.to_date(F.col("create_time")).alias("file_date"),
        F.col("create_time").alias("file_time"),
        F.col("folder"),
        F.col("pack"),
        F.col("filename").alias("name"),
        F.col("size").cast("long").alias("size"),
        F.col("modify_time"),
        F.current_timestamp().alias("upload_time"),  # cassandra.go:240 now()
        comp["content"],
        comp["compress"],
        comp["compress_size"],
        checksum(F.col("content")).alias("checksum"),  # over RAW content, M7
        F.col("host"),
        F.lit("").alias("reference"),
        folder_time.alias("folder_time"),
    )


def ingest_tree(
    spark: SparkSession,
    root: str,
    pattern: str | None = None,
    ignore: str | None = None,
    max_nesting_level: int | None = None,
    host: str | None = None,
    transform: Callable[[DataFrame], DataFrame] = bsi_parse,
) -> DataFrame:
    """Directory tree → logfile rows (not yet written): the files of one
    walk (F1/F2/F5), read and enriched like a live batch."""
    paths = walk_tree(root, pattern, ignore, max_nesting_level)
    return logfile_rows(file_meta(spark, paths, root, transform, host))


def write_logfile(df: DataFrame, out_dir: str) -> None:
    """Persist the logfile table partitioned by file_date (the Cassandra
    partition key, cassandra.go:349) — date-pruned scans at any scale."""
    df.write.mode("overwrite").partitionBy("file_date").parquet(out_dir)
