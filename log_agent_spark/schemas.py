"""Canonical schemas of the engine (SURVEY.md §1).

The reference fixes these at compile time as Go structs + hand-written DDL;
here they are StructType constants used by every source, operator and sink.

Reference citations (into /root/reference/):
- Event            → watchdog/lib/fsnotify/fsnotify.go:12-19
- logfile table    → watchdog/handler/cassandra.go:333-350 (DDL, 15 columns,
                     PRIMARY KEY (file_date, file_time, folder, pack, name));
                     its row is built by plans/ingest.logfile_rows
- Kafka envelope   → watchdog/handler/kafka.go:34-93 (schema literal),
                     kafka.go:424-438 (payload field names/order)
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# The stream element: one filesystem event (fsnotify.Event).
# ``ts`` (arrival time) is added for event-time processing; the reference is
# purely processing-time (debounce timers), which the file_events source
# keeps per path in front of the batcher — see sources/file_events_stream.py.
# ---------------------------------------------------------------------------
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("op", T.StringType(), False),  # CREATE|WRITE|REMOVE|RENAME|LOAD
        T.StructField("biz", T.StringType(), True),
        T.StructField("root_path", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("mod_time", T.TimestampType(), True),
        T.StructField("is_dir", T.BooleanType(), True),
    ]
)

# ---------------------------------------------------------------------------
# The durable sink table (the only relational artifact the reference emits).
# Upsert key — cassandra.go:349.
# ---------------------------------------------------------------------------
LOGFILE_KEY = ["file_date", "file_time", "folder", "pack", "name"]

# The static Connect schema literal (kafka.go:34-93): field name → connect
# type, in the payload's field order (kafka.go:424-438).
KAFKA_CONNECT_FIELD_TYPES = {
    "file_date": "string",
    "file_time": "int64",
    "folder": "string",
    "pack": "string",
    "name": "string",
    "size": "int64",
    "modify_time": "int64",
    "content": "string",
    "compress": "boolean",
    "compress_size": "int64",
    "checksum": "string",
    "host": "string",
    "folder_time": "int64",
}

# Incremental-processing state (BadgerDB path→mtime analog, SURVEY §2.3 T4).
STATE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("mtime", T.TimestampType(), False),
    ]
)

# Names of the driver fixture tables (TESTDATA.md).
FIXTURE_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
