"""End-to-end batch ingest pipeline (SURVEY.md §7 Phase 1).

directory tree → binaryFile scan (S1-S3, F1-F5) → FileMeta enrichment (M1)
→ BSI business transform (M2-M4) → zip explode (M5-M6) → checksum (M7)
→ compression gate (M8) → logfile projection (M10) — the reference's whole
per-record processing chain (watchdog.go:387-437) as ONE declarative plan.

Output is the 15-column ``logfile`` table (cassandra.go:333-350), written
partitioned by ``file_date`` — mirroring the Cassandra partition key, and at
100 TB giving date-pruned scans for every time-bounded query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_agent_spark.functions.content import apply_compression, checksum
from log_agent_spark.functions.paths import bsi_parse
from log_agent_spark.functions.ziputil import with_zip_members
from log_agent_spark.sources.binary_files import enrich_file_meta, read_binary_tree


def ingest_tree(
    spark: SparkSession,
    root: str,
    pattern: str | None = None,
    ignore: str | None = None,
    max_nesting_level: int | None = None,
    host: str | None = None,
    max_file_size: int = 16 * 1024 * 1024,  # F6, cassandra.go:17-19
    reference: str = "",
) -> DataFrame:
    """Directory tree → logfile rows (not yet written)."""
    raw = read_binary_tree(
        spark, root, pattern=pattern, ignore=ignore, max_nesting_level=max_nesting_level
    )
    meta = enrich_file_meta(raw, root, host=host)
    meta = meta.filter(F.col("size") <= max_file_size)  # F6 cassandra.go:66-69
    meta = bsi_parse(meta)  # M2-M4 (non-BSI paths pass through)
    exploded = with_zip_members(meta)  # M5-M6
    comp = apply_compression(F.col("size"), F.col("ext"), F.col("content"))  # M8
    return exploded.select(
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
        F.lit(reference).alias("reference"),
        F.col("folder_time"),
    )


def write_logfile(df: DataFrame, out_dir: str) -> None:
    """Persist the logfile table partitioned by file_date (the Cassandra
    partition key, cassandra.go:349) — date-pruned scans at any scale."""
    df.write.mode("overwrite").partitionBy("file_date").parquet(out_dir)
