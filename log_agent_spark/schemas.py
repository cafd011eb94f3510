"""Canonical schemas of the engine (SURVEY.md §1).

The reference fixes these at compile time as Go structs + hand-written DDL;
here they are StructType constants used by every source, operator and sink.

Reference citations (into /root/reference/):
- Event            → watchdog/lib/fsnotify/fsnotify.go:12-19
- FileMeta         → watchdog/handler/handler.go:13-30
- logfile table    → watchdog/handler/cassandra.go:333-350 (DDL, 15 columns,
                     PRIMARY KEY (file_date, file_time, folder, pack, name))
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
# The enriched record every sink receives (handler.FileMeta).
# ---------------------------------------------------------------------------
FILE_META_SCHEMA = T.StructType(
    [
        T.StructField("filepath", T.StringType(), False),
        T.StructField("pack", T.StringType(), True),  # '' unless zip member
        T.StructField("sub_dir", T.StringType(), True),
        T.StructField("filename", T.StringType(), False),
        T.StructField("size", T.LongType(), True),
        T.StructField("ext", T.StringType(), True),  # lowercased
        T.StructField("create_time", T.TimestampType(), True),
        T.StructField("modify_time", T.TimestampType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("checksum", T.StringType(), True),  # md5 hex of raw content
        T.StructField("compress", T.BooleanType(), True),
        T.StructField("compress_size", T.LongType(), True),
        T.StructField("reference", T.StringType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("folder_time", T.TimestampType(), True),
    ]
)

# ---------------------------------------------------------------------------
# The durable sink table (the only relational artifact the reference emits).
# Upsert key — cassandra.go:349.
# ---------------------------------------------------------------------------
LOGFILE_KEY = ["file_date", "file_time", "folder", "pack", "name"]

LOGFILE_SCHEMA = T.StructType(
    [
        T.StructField("file_date", T.DateType(), False),
        T.StructField("file_time", T.TimestampType(), False),  # business time
        T.StructField("folder", T.StringType(), False),
        T.StructField("pack", T.StringType(), False),  # '' for non-archives
        T.StructField("name", T.StringType(), False),
        T.StructField("size", T.LongType(), True),
        T.StructField("modify_time", T.TimestampType(), True),
        T.StructField("upload_time", T.TimestampType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("compress", T.BooleanType(), True),
        T.StructField("compress_size", T.LongType(), True),
        T.StructField("checksum", T.StringType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("reference", T.StringType(), True),
        T.StructField("folder_time", T.TimestampType(), True),
    ]
)

# Kafka-Connect-style JSON envelope payload field order (kafka.go:424-438).
# Serialization must keep this exact order and name set.
KAFKA_PAYLOAD_FIELDS = [
    "file_date",      # yyyy-MM-dd string            (kafka.go:331)
    "file_time",      # epoch millis int64           (kafka.go:332)
    "folder",
    "pack",
    "name",
    "size",
    "modify_time",    # epoch millis int64           (kafka.go:337)
    "content",        # '0x' + lowercase hex, empty → '0x' (kafka.go:323-325)
    "compress",
    "compress_size",
    "checksum",
    "host",
    "folder_time",    # epoch millis int64           (kafka.go:342)
]

# The static Connect schema literal (kafka.go:34-93): field name → connect type.
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

# Zip-explode output element (functions/ziputil.py): one archive member.
ZIP_ENTRY_SCHEMA = T.StructType(
    [
        T.StructField("entry_name", T.StringType(), False),
        T.StructField("entry_size", T.LongType(), False),
        T.StructField("entry_content", T.BinaryType(), True),
    ]
)

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
