"""Kafka records as a table (the north-star ingest path reads Kafka).

``from_kafka_records`` is the exact INVERSE of
``functions/envelope.to_kafka_records`` — Connect-envelope JSON value →
typed logfile columns. This is what makes the Kafka topic a first-class
TABLE: any consumer (this engine included) can round-trip the wire format
produced by the reference (watchdog/handler/kafka.go:329-343) back into the
15-column relational row. Pure built-ins (from_json, unhex,
timestamp_millis) — codegen'd, no Python in the hot path, works identically
on batch and streaming DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from log_agent_spark.schemas import KAFKA_CONNECT_FIELD_TYPES

_CONNECT_TO_SPARK = {"string": "string", "int64": "long", "boolean": "boolean"}

# payload struct DDL derived from the same constant the encoder uses — the
# two directions cannot drift apart.
PAYLOAD_DDL = ", ".join(
    f"{name} {_CONNECT_TO_SPARK[t]}" for name, t in KAFKA_CONNECT_FIELD_TYPES.items()
)
ENVELOPE_DDL = f"struct<payload: struct<{PAYLOAD_DDL}>>"


def from_kafka_records(records: DataFrame) -> DataFrame:
    """(key, value) rows → typed logfile columns (inverse of
    ``to_kafka_records``; wire projections inverted per kafka.go:329-343).

    - file_date 'yyyy-MM-dd' string            → DATE
    - file_time/modify_time/folder_time millis → TIMESTAMP
    - content '0x…' lowercase hex ('0x' = empty blob, kafka.go:323-325)
      → BINARY
    Rows whose value fails to parse yield NULL payload fields (from_json
    semantics) — the dead-letter filter is ``file_time IS NULL``.
    """
    env = F.from_json(F.col("value").cast("string"), ENVELOPE_DDL)
    p = env["payload"]
    return records.select(
        F.to_date(p["file_date"]).alias("file_date"),
        F.timestamp_millis(p["file_time"]).alias("file_time"),
        p["folder"].alias("folder"),
        p["pack"].alias("pack"),
        p["name"].alias("name"),
        p["size"].alias("size"),
        F.timestamp_millis(p["modify_time"]).alias("modify_time"),
        F.unhex(F.regexp_replace(p["content"], "^0x", "")).alias("content"),
        p["compress"].alias("compress"),
        p["compress_size"].alias("compress_size"),
        p["checksum"].alias("checksum"),
        p["host"].alias("host"),
        F.timestamp_millis(p["folder_time"]).alias("folder_time"),
    )
