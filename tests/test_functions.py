"""Golden tests for the agent-specific transforms the DuckDB oracle can't
check: zip explode + GBK names, gzip gate, hex-blob wire encoding, Kafka
envelope bytes, key construction (SURVEY.md §2.4 M5-M12 parity)."""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import io
import json
import zipfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from log_agent_spark.functions import content as C
from log_agent_spark.functions import envelope as E
from log_agent_spark.functions.ziputil import with_zip_members


def _zip_bytes(entries: dict[str, bytes], with_dir: bool = False) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        if with_dir:
            zf.writestr("some_dir/", b"")
        for name, data in entries.items():
            zf.writestr(name, data)
    return buf.getvalue()


# ---------------------------------------------------------------------------
# M5/M6: zip explode
# ---------------------------------------------------------------------------
_ARCHIVE_SCHEMA = StructType(
    [
        StructField("filename", StringType()),
        StructField("ext", StringType()),
        StructField("size", LongType()),
        StructField("content", BinaryType()),
        StructField("pack", StringType()),
    ]
)


def test_zip_explode_members_and_dirs(spark):
    blob = _zip_bytes({"a.txt": b"alpha", "sub/b.log": b"beta-data"}, with_dir=True)
    df = spark.createDataFrame(
        [("arc.zip", "zip", len(blob), bytearray(blob), "")], _ARCHIVE_SCHEMA
    )
    out = with_zip_members(df).orderBy("filename").collect()
    # dir entry skipped (kafka.go:230-232)
    assert [(r.pack, r.filename, r.size, bytes(r.content)) for r in out] == [
        ("arc.zip", "a.txt", 5, b"alpha"),
        ("arc.zip", "sub/b.log", 9, b"beta-data"),
    ]


def test_zip_explode_invalid_blob_drops(spark):
    df = spark.createDataFrame(
        [("bad.zip", "zip", 9, bytearray(b"not a zip"), "")], _ARCHIVE_SCHEMA
    )
    assert with_zip_members(df).count() == 0


def test_gbk_entry_name_decode():
    """Entry names without the UTF-8 flag are GBK-decoded (handler.go:48-56).

    zipfile (like the reference's archive/zip) hands legacy names over as
    cp437-decoded text; _decode_name must recover the GBK original. Tested
    directly because zipfile *writes* non-ASCII names UTF-8-flagged, so a
    legacy archive can't be synthesized via writestr.
    """
    from log_agent_spark.functions.ziputil import _decode_name

    gbk_name = "测试日志.txt"
    info = zipfile.ZipInfo("placeholder")
    info.flag_bits = 0
    info.filename = gbk_name.encode("gbk").decode("cp437")
    assert _decode_name(info) == gbk_name
    # UTF-8-flagged names pass through untouched
    info2 = zipfile.ZipInfo("日志.txt")
    info2.flag_bits = 0x800
    assert _decode_name(info2) == "日志.txt"
    # plain-ASCII legacy names decode as themselves
    info3 = zipfile.ZipInfo("a.txt")
    info3.flag_bits = 0
    assert _decode_name(info3) == "a.txt"


def test_with_zip_members_union_shape(spark):
    blob = _zip_bytes({"inner.log": b"zipped"})
    schema = StructType(
        [
            StructField("filepath", StringType()),
            StructField("filename", StringType()),
            StructField("ext", StringType()),
            StructField("size", LongType()),
            StructField("content", BinaryType()),
        ]
    )
    df = spark.createDataFrame(
        [
            ("/d/plain.log", "plain.log", "log", 5, bytearray(b"plain")),
            ("/d/arc.zip", "arc.zip", "zip", len(blob), bytearray(blob)),
        ],
        schema,
    )
    rows = {r.filename: r for r in with_zip_members(df).collect()}
    assert rows["plain.log"].pack == ""
    assert bytes(rows["plain.log"].content) == b"plain"
    assert rows["inner.log"].pack == "arc.zip"
    assert bytes(rows["inner.log"].content) == b"zipped"
    assert rows["inner.log"].size == 6


# ---------------------------------------------------------------------------
# M8: gzip gate
# ---------------------------------------------------------------------------
def test_gzip_gate_and_roundtrip(spark):
    big = b"x" * 2000
    small = b"y" * 10
    schema = StructType(
        [
            StructField("name", StringType()),
            StructField("ext", StringType()),
            StructField("size", LongType()),
            StructField("content", BinaryType()),
        ]
    )
    df = spark.createDataFrame(
        [
            ("big.log", "log", len(big), bytearray(big)),
            ("small.log", "log", len(small), bytearray(small)),
            ("big.png", "png", len(big), bytearray(big)),  # never-compress ext
        ],
        schema,
    )
    cols = C.apply_compression(F.col("size"), F.col("ext"), F.col("content"))
    out = {
        r.name: r
        for r in df.select("name", *cols.values()).collect()
    }
    assert out["big.log"].compress is True
    assert gzip.decompress(bytes(out["big.log"].content)) == big
    assert out["big.log"].compress_size == len(bytes(out["big.log"].content))
    # gzip BestSpeed, mtime=0 → byte-deterministic golden
    assert bytes(out["big.log"].content) == gzip.compress(big, compresslevel=1, mtime=0)
    assert out["small.log"].compress is False
    assert bytes(out["small.log"].content) == small
    assert out["small.log"].compress_size == len(small)
    assert out["big.png"].compress is False
    assert bytes(out["big.png"].content) == big


# ---------------------------------------------------------------------------
# M7/M9: checksum + hex blob
# ---------------------------------------------------------------------------
def test_checksum_and_hex_blob(spark):
    data = b"hello world"
    schema = StructType([StructField("content", BinaryType())])
    df = spark.createDataFrame([(bytearray(data),), (bytearray(b""),)], schema)
    rows = df.select(
        C.checksum(F.col("content")).alias("ck"),
        C.hex_blob(F.col("content")).alias("hx"),
    ).collect()
    assert rows[0].ck == hashlib.md5(data).hexdigest()
    assert rows[0].hx == "0x" + data.hex()
    # empty blob → '0x' not '' (kafka.go:323-325)
    assert rows[1].hx == "0x"


# ---------------------------------------------------------------------------
# M11/M12: Kafka envelope + key
# ---------------------------------------------------------------------------
@pytest.fixture()
def meta_df(spark):
    return spark.sql(
        """
        SELECT DATE'2017-06-07'                       AS file_date,
               TIMESTAMP'2017-06-07 16:15:42.797'     AS file_time,
               'BSI'                                  AS folder,
               ''                                     AS pack,
               'log1.txt'                             AS name,
               CAST(11 AS LONG)                       AS size,
               TIMESTAMP'2017-06-07 16:15:43'         AS modify_time,
               CAST(X'68656C6C6F20776F726C64' AS BINARY) AS content,
               false                                  AS compress,
               CAST(11 AS LONG)                       AS compress_size,
               md5(CAST(X'68656C6C6F20776F726C64' AS BINARY)) AS checksum,
               'host01'                               AS host,
               TIMESTAMP'2017-06-07 16:15:42.797'     AS folder_time
        """
    )


def test_kafka_envelope_bytes(meta_df):
    value = E.to_kafka_records(meta_df).collect()[0].value
    env = json.loads(value)
    # schema half byte-identical to the static literal (kafka.go:34-93)
    assert value.startswith('{"schema":' + E.CONNECT_SCHEMA_JSON + ',"payload":')
    p = env["payload"]
    # field set + wire projections (kafka.go:329-343; session TZ = UTC)
    assert p["file_date"] == "2017-06-07"
    assert p["file_time"] == 1496852142797
    assert p["modify_time"] == 1496852143000
    assert p["folder_time"] == 1496852142797
    assert p["content"] == "0x" + b"hello world".hex()
    assert p["checksum"] == hashlib.md5(b"hello world").hexdigest()
    assert p["compress"] is False
    assert p["size"] == 11 and p["compress_size"] == 11
    assert p["folder"] == "BSI" and p["pack"] == "" and p["name"] == "log1.txt"
    assert p["host"] == "host01"


def test_kafka_key_skips_empty_pack(meta_df):
    key = E.to_kafka_records(meta_df).collect()[0].key
    assert key == "BSI/log1.txt"  # kafka.go:360-365: no '//' for pack=''
    with_pack = meta_df.withColumn("pack", F.lit("arc.zip"))
    key2 = E.to_kafka_records(with_pack).collect()[0].key
    assert key2 == "BSI/arc.zip/log1.txt"


def test_bsi_parse_directory_segment_window(spark):
    """BSI conformance counts DIRECTORY segments, not path segments: the
    reference splits FileMeta.SubDir (no filename, watchdog/watchdog.go:347)
    and requires 4-5 segments with testID = the LAST one (BSI.go:46-51).
    Our sub_dir includes the filename, so conforming paths have 5-6
    segments and testID is the second-to-last. Round-6 review caught the
    off-by-one: a depth-3 directory must NOT conform via its filename,
    and a conforming depth-5 directory must not be rejected."""
    from log_agent_spark.functions.paths import bsi_parse

    ts = "2017-06-07_16_15_42_797"
    rows = [
        # depth-4 dir (5 path segs): the canonical BSI shape — conforms
        ("fam/model/2017-06-07/run_" + ts + "/f.log", "depth4"),
        # depth-5 dir (6 path segs): BSI.go len==5 arm — conforms, testID
        # = the DEEPEST dir segment (the one carrying the timestamp here)
        ("fam/model/2017-06-07/extra/run_" + ts + "/f.log", "depth5"),
        # depth-3 dir (4 path segs): non-conforming even though the
        # FILENAME carries a parseable timestamp
        ("fam/model/2017-06-07/run_" + ts + ".log", "depth3"),
        # depth-6 dir (7 path segs): beyond the window
        ("a/b/c/d/e/run_" + ts + "/f.log", "depth6"),
        # top-level file (1 path seg): must not crash element_at
        ("f.log", "top"),
    ]
    df = spark.createDataFrame(rows, "sub_dir string, tag string")
    got = {r.tag: r for r in bsi_parse(df).collect()}
    assert got["depth4"].bsi_test_id == "run_" + ts
    assert got["depth4"].folder_time is not None
    assert got["depth5"].bsi_test_id == "run_" + ts
    assert got["depth5"].folder_time is not None
    assert got["depth5"].bsi_family == "fam"
    assert got["depth3"].bsi_test_id is None
    assert got["depth3"].folder_time is None
    assert got["depth6"].bsi_test_id is None
    assert got["top"].bsi_test_id is None

    # the expressions are built once and reused: a second, differently
    # shaped frame (with the create_time override) gets the same per-row
    # results, and create_time takes folder_time only where one parsed
    from log_agent_spark.functions import paths

    hits = paths._bsi_columns.cache_info().hits
    fallback = dt.datetime(2020, 1, 1)
    df2 = spark.createDataFrame(
        [(tag, sub, fallback) for sub, tag in reversed(rows)],
        "tag string, sub_dir string, create_time timestamp",
    )
    again = {r.tag: r for r in bsi_parse(df2).collect()}
    assert paths._bsi_columns.cache_info().hits > hits
    for tag, r in got.items():
        a = again[tag]
        assert (a.bsi_family, a.bsi_model, a.bsi_test_id, a.folder_time) == (
            r.bsi_family, r.bsi_model, r.bsi_test_id, r.folder_time
        )
        assert a.create_time == (r.folder_time or fallback)
