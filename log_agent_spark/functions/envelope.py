"""Kafka wire format — Connect-style JSON envelope + message key
(SURVEY.md §2.4 M9-M12).

Byte-compatibility targets (watchdog/handler/kafka.go):
- envelope = {"schema": <static literal>, "payload": {...}}   kafka.go:418-421
- payload field set/order                                     kafka.go:424-438
- file_date  as 'yyyy-MM-dd'                                  kafka.go:331
- file_time / modify_time / folder_time as epoch millis       kafka.go:332-342
- content as '0x' + lowercase hex, empty → '0x'               kafka.go:323-325
- key = folder/[pack/]name (pack skipped when empty)          kafka.go:359-365

All built-in expressions (to_json over a struct) — JVM-side, codegen'd.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from log_agent_spark.functions.content import hex_blob
from log_agent_spark.schemas import KAFKA_CONNECT_FIELD_TYPES

# The static Connect schema half of the envelope (kafka.go:34-93): emitted
# verbatim on every message, so it is a constant string, not a computed column.
CONNECT_SCHEMA: dict = {
    "type": "struct",
    "fields": [
        {"type": t, "optional": False, "field": name}
        for name, t in KAFKA_CONNECT_FIELD_TYPES.items()
    ],
    "optional": False,
    "name": "logfile",
}

CONNECT_SCHEMA_JSON = json.dumps(CONNECT_SCHEMA, separators=(",", ":"))


def kafka_key(folder: Column, pack: Column, name: Column) -> Column:
    """folder/[pack/]name — concat_ws skips NULL, so empty pack is mapped to
    NULL first (kafka.go:360-365 uniqueness fix for archive members)."""
    return F.concat_ws("/", folder, F.nullif(pack, F.lit("")), name)


def payload_struct() -> Column:
    """The 13-field payload struct with the reference's wire projections,
    in the Connect schema's field order."""
    wire = {
        "file_date": F.date_format("file_date", "yyyy-MM-dd"),
        "file_time": F.unix_millis(F.col("file_time")),
        "modify_time": F.unix_millis(F.col("modify_time")),
        "content": hex_blob(F.col("content")),
        "folder_time": F.unix_millis(F.col("folder_time")),
    }
    return F.struct(
        *[wire.get(f, F.col(f)).alias(f) for f in KAFKA_CONNECT_FIELD_TYPES]
    )


def to_kafka_records(df: DataFrame) -> DataFrame:
    """(key, value) rows ready for the Kafka sink.

    value = '{"schema":<literal>,"payload":' + to_json(payload) + '}' —
    splicing the constant schema as a string keeps the whole row codegen'd
    and guarantees the schema half is byte-identical on every record.
    """
    payload_json = F.to_json(payload_struct())
    value = F.concat(
        F.lit('{"schema":' + CONNECT_SCHEMA_JSON + ',"payload":'),
        payload_json,
        F.lit("}"),
    )
    key = kafka_key(F.col("folder"), F.col("pack"), F.col("name"))
    return df.select(key.alias("key"), value.alias("value"))
