"""Avro Object Container File source + sink as a Spark 4 Python DataSource.

Completes the columnar-format inventory (SURVEY.md §2.7: csv/json/orc/xml
round-trips live in tests/test_formats.py) with the one format this image
has no jar for: Avro. Rather than gating on the external spark-avro
package, this module implements the OCF spec (Avro 1.11.1 "Object
Container Files") in pure Python on the DataSource API — the same
mechanism as the fsnotify live source (sources/file_events_stream.py):

    spark.dataSource.register(AvroOcfDataSource)
    df.write.format("avro_ocf").option("codec", "deflate").save(dir)
    spark.read.format("avro_ocf").schema(ddl).load(dir)

Wire format (spec §"Object Container Files"):
    header  = magic "Obj\\x01"
            + file-metadata map {"avro.schema": json, "avro.codec": ...}
            + 16-byte sync marker
    block   = record-count (zigzag varint) + byte-size (zigzag varint)
            + serialized records (deflate = RFC1951 raw, no zlib header)
            + sync marker
Records use the Avro binary encoding (spec §"Binary Encoding"): zigzag
varints, length-prefixed UTF-8, single-byte booleans; unions encode the
branch index first.

Type coverage: string/long/int/double/float/boolean/bytes, nullable
unions ["null", T], arrays of primitives, and the logical types
timestamp-micros (long) and date (int) — enough for every test table.

Scale: the writer emits one OCF file per input partition (executor-side,
no shuffle, content never visits the driver); the reader maps one task
per file. spark-avro gains intra-file splits by seeking sync markers —
with this source the equivalent knob is the writer's one-file-per-
partition layout: at 100 TB the upstream partitioning (
spark.sql.files.maxPartitionBytes on the producing scan) bounds file
size, so per-file read parallelism equals write parallelism and no task
reads more than one bounded file. Blocks flush every 4 MiB so a reader
never materializes more than one block of rows at a time.

Part files are named by partition id (``part-00042.avro``), so a retried
task overwrites its own failed attempt — idempotent replay, the same
argument as the upsert sink (K7 note, SURVEY.md §2.5). The flip side:
two successive *append* jobs with colliding partition ids overwrite each
other's parts, so treat one directory as one job's output (use
``mode("overwrite")`` or distinct directories per job).
"""

from __future__ import annotations

import datetime as dt
import io
import json
import os
import struct
import zlib
from dataclasses import dataclass
from hashlib import md5

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

MAGIC = b"Obj\x01"
_EPOCH_DATE = dt.date(1970, 1, 1)
_EPOCH_TS = dt.datetime(1970, 1, 1)

# ---------------------------------------------------------------------------
# Schema mapping (Spark <-> Avro)
# ---------------------------------------------------------------------------

_SPARK_TO_AVRO = {
    StringType: "string",
    LongType: "long",
    IntegerType: "int",
    DoubleType: "double",
    FloatType: "float",
    BooleanType: "boolean",
    BinaryType: "bytes",
}


def _avro_type(t: DataType):
    if isinstance(t, TimestampType):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(t, DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(t, ArrayType):
        # Spark arrays default to containsNull=True; a null element must
        # encode as a ["null", T] item union or the writer would crash at
        # task time on data-dependent input
        item = _avro_type(t.elementType)
        return {
            "type": "array",
            "items": ["null", item] if t.containsNull else item,
        }
    for cls, name in _SPARK_TO_AVRO.items():
        if isinstance(t, cls):
            return name
    raise TypeError(f"avro_ocf: unsupported Spark type {t.simpleString()}")


def spark_to_avro_schema(schema: StructType, name: str = "spark_record") -> dict:
    fields = []
    for f in schema.fields:
        at = _avro_type(f.dataType)
        fields.append(
            {"name": f.name, "type": ["null", at] if f.nullable else at}
        )
    return {"type": "record", "name": name, "fields": fields}


_AVRO_TO_SPARK = {
    "string": StringType(),
    "long": LongType(),
    "int": IntegerType(),
    "double": DoubleType(),
    "float": FloatType(),
    "boolean": BooleanType(),
    "bytes": BinaryType(),
}


def _spark_type(at) -> DataType:
    if isinstance(at, dict):
        lt = at.get("logicalType")
        if lt == "timestamp-micros":
            return TimestampType()
        if lt == "date":
            return DateType()
        if at.get("type") == "array":
            items = at["items"]
            nullable_items = isinstance(items, list) and "null" in items
            return ArrayType(_spark_type(items), nullable_items)
        return _spark_type(at["type"])
    if isinstance(at, list):  # union — only ["null", T] supported
        branches = [b for b in at if b != "null"]
        if len(branches) != 1:
            raise TypeError(f"avro_ocf: unsupported union {at}")
        return _spark_type(branches[0])
    if at in _AVRO_TO_SPARK:
        return _AVRO_TO_SPARK[at]
    raise TypeError(f"avro_ocf: unsupported Avro type {at!r}")


def avro_to_spark_schema(avro_schema: dict) -> StructType:
    fields = []
    for f in avro_schema["fields"]:
        nullable = isinstance(f["type"], list) and "null" in f["type"]
        fields.append(StructField(f["name"], _spark_type(f["type"]), nullable))
    return StructType(fields)


# ---------------------------------------------------------------------------
# Binary codec (encode + decode)
# ---------------------------------------------------------------------------


def _enc_long(v: int, out: bytearray) -> None:
    z = (v << 1) ^ (v >> 63) if v < 0 else v << 1
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _dec_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        (b,) = buf.read(1)
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _encode_value(v, at, out: bytearray) -> None:
    if isinstance(at, list):  # nullable union ["null", T]
        if v is None:
            _enc_long(0, out)
            return
        _enc_long(1, out)
        at = [b for b in at if b != "null"][0]
        # fall through with the non-null branch
    if isinstance(at, dict):
        lt = at.get("logicalType")
        if lt == "timestamp-micros":
            if isinstance(v, dt.datetime):
                delta = v.replace(tzinfo=None) - _EPOCH_TS
                v = (delta.days * 86_400 + delta.seconds) * 1_000_000 + \
                    delta.microseconds  # exact — no float rounding
            _enc_long(int(v), out)
            return
        if lt == "date":
            if isinstance(v, dt.date):
                v = (v - _EPOCH_DATE).days
            _enc_long(int(v), out)
            return
        if at.get("type") == "array":
            if len(v):
                _enc_long(len(v), out)
                for item in v:
                    _encode_value(item, at["items"], out)
            _enc_long(0, out)  # end-of-array block
            return
        at = at["type"]
    if at == "string":
        raw = v.encode("utf-8") if isinstance(v, str) else bytes(v)
        _enc_long(len(raw), out)
        out += raw
    elif at in ("long", "int"):
        _enc_long(int(v), out)
    elif at == "double":
        out += struct.pack("<d", float(v))
    elif at == "float":
        out += struct.pack("<f", float(v))
    elif at == "boolean":
        out.append(1 if v else 0)
    elif at == "bytes":
        raw = bytes(v)
        _enc_long(len(raw), out)
        out += raw
    else:  # pragma: no cover — schema already validated
        raise TypeError(f"avro_ocf: cannot encode type {at!r}")


def _decode_value(at, buf: io.BytesIO):
    if isinstance(at, list):
        if _dec_long(buf) == 0:
            return None
        at = [b for b in at if b != "null"][0]
    if isinstance(at, dict):
        lt = at.get("logicalType")
        if lt == "timestamp-micros":
            micros = _dec_long(buf)
            return _EPOCH_TS + dt.timedelta(microseconds=micros)
        if lt == "date":
            return _EPOCH_DATE + dt.timedelta(days=_dec_long(buf))
        if at.get("type") == "array":
            items = []
            while True:
                n = _dec_long(buf)
                if n == 0:
                    return items
                if n < 0:  # block with byte-size prefix (spec-legal)
                    n = -n
                    _dec_long(buf)
                for _ in range(n):
                    items.append(_decode_value(at["items"], buf))
        at = at["type"]
    if at == "string":
        return buf.read(_dec_long(buf)).decode("utf-8")
    if at in ("long", "int"):
        return _dec_long(buf)
    if at == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if at == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if at == "boolean":
        return buf.read(1) == b"\x01"
    if at == "bytes":
        return buf.read(_dec_long(buf))
    raise TypeError(f"avro_ocf: cannot decode type {at!r}")


def encode_record(row, field_types, out: bytearray) -> None:
    for v, at in zip(row, field_types):
        _encode_value(v, at, out)


# ---------------------------------------------------------------------------
# OCF file writer / reader primitives (shared by the DataSource + tests)
# ---------------------------------------------------------------------------


def write_ocf(path: str, avro_schema: dict, rows, codec: str = "null",
              block_bytes: int = 4 << 20) -> int:
    """Write rows (sequences in field order) to one OCF file; returns count."""
    schema_json = json.dumps(avro_schema, sort_keys=True)
    sync = md5(schema_json.encode() + path.encode()).digest()  # deterministic
    field_types = [f["type"] for f in avro_schema["fields"]]
    n = 0
    with open(path, "wb") as f:
        head = bytearray(MAGIC)
        meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
        _enc_long(len(meta), head)
        for k, v in meta.items():
            kb = k.encode()
            _enc_long(len(kb), head)
            head += kb
            _enc_long(len(v), head)
            head += v
        _enc_long(0, head)  # end of metadata map
        head += sync
        f.write(head)

        block = bytearray()
        count = 0

        def flush():
            nonlocal block, count
            if not count:
                return
            payload = bytes(block)
            if codec == "deflate":
                c = zlib.compressobj(wbits=-15)
                payload = c.compress(payload) + c.flush()
            out = bytearray()
            _enc_long(count, out)
            _enc_long(len(payload), out)
            f.write(bytes(out) + payload + sync)
            block = bytearray()
            count = 0

        for row in rows:
            encode_record(row, field_types, block)
            count += 1
            n += 1
            if len(block) >= block_bytes:
                flush()
        flush()
    return n


def read_ocf_header(f) -> tuple[dict, str, bytes]:
    """Parse an OCF header; returns (avro_schema, codec, sync_marker)."""
    if f.read(4) != MAGIC:
        raise ValueError("avro_ocf: bad magic — not an Avro container file")
    meta = {}
    # metadata is an Avro map<bytes>: blocks of (count, k, v)*, 0-terminated
    buf = _StreamReader(f)
    while True:
        n = _dec_long(buf)
        if n == 0:
            break
        if n < 0:
            n = -n
            _dec_long(buf)  # skip byte-size
        for _ in range(n):
            k = buf.read(_dec_long(buf)).decode()
            meta[k] = buf.read(_dec_long(buf))
    sync = f.read(16)
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    return schema, codec, sync


class _StreamReader:
    """Minimal BytesIO-compatible cursor over a file object (read only)."""

    def __init__(self, f):
        self._f = f

    def read(self, n: int) -> bytes:
        return self._f.read(n)


def iter_ocf(path: str, field_names: list[str] | None = None):
    """Yield rows from one OCF file.

    Without ``field_names``, rows are tuples in the WRITER schema's field
    order. With it, Avro schema resolution applies: every record is
    projected to the requested names (fields matched by name, missing
    names filled with None) — so a reader schema that reorders, prunes,
    or extends the writer schema gets correctly-aligned columns instead
    of positional garbage.
    """
    with open(path, "rb") as f:
        schema, codec, sync = read_ocf_header(f)
        field_types = [fld["type"] for fld in schema["fields"]]
        if field_names is None:
            project = None
        else:
            writer_pos = {fld["name"]: i for i, fld in enumerate(schema["fields"])}
            project = [writer_pos.get(n) for n in field_names]
        cursor = _StreamReader(f)
        while True:
            first = f.read(1)
            if not first:
                return
            f.seek(-1, os.SEEK_CUR)
            count = _dec_long(cursor)
            size = _dec_long(cursor)
            payload = f.read(size)
            if codec == "deflate":
                payload = zlib.decompress(payload, wbits=-15)
            elif codec != "null":
                raise ValueError(f"avro_ocf: unsupported codec {codec!r}")
            buf = io.BytesIO(payload)
            for _ in range(count):
                row = tuple(_decode_value(t, buf) for t in field_types)
                if project is None:
                    yield row
                else:
                    yield tuple(
                        None if i is None else row[i] for i in project
                    )
            if f.read(16) != sync:
                raise ValueError("avro_ocf: sync marker mismatch (corrupt block)")


# ---------------------------------------------------------------------------
# Spark 4 Python DataSource
# ---------------------------------------------------------------------------


@dataclass
class _FilePartition(InputPartition):
    path: str


@dataclass
class AvroCommit(WriterCommitMessage):
    n_rows: int = 0
    path: str = ""


class AvroOcfReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType):
        self._dir = options.get("path")
        if not self._dir:
            raise ValueError("avro_ocf reader requires a load path")
        # requested (reader) schema — resolution by NAME against each
        # file's writer schema, so reordered/pruned/extended schemas work
        self._field_names = [f.name for f in schema.fields]

    def partitions(self):
        files = sorted(
            os.path.join(self._dir, f)
            for f in os.listdir(self._dir)
            if f.endswith(".avro")
        )
        return [_FilePartition(p) for p in files]

    def read(self, partition: _FilePartition):
        yield from iter_ocf(partition.path, self._field_names)


class AvroOcfWriter(DataSourceWriter):
    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        self._dir = options.get("path")
        if not self._dir:
            raise ValueError("avro_ocf writer requires a save path")
        self._codec = options.get("codec", "null")
        if self._codec not in ("null", "deflate"):
            raise ValueError(f"avro_ocf: unsupported codec {self._codec!r}")
        self._avro_schema = spark_to_avro_schema(schema)
        self._overwrite = overwrite
        # every run writes under a fresh run id; mode("overwrite") removes
        # the PRIOR generation only at commit() — a failed job must leave
        # the previous output intact (staged-commit discipline; deleting
        # up front would destroy it non-atomically). Unique names also
        # stop an append run from silently clobbering same-pid parts of an
        # earlier run.
        import uuid

        self._run_id = uuid.uuid4().hex[:12]
        os.makedirs(self._dir, exist_ok=True)

    def write(self, iterator) -> AvroCommit:  # executor-side, per partition
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(
            self._dir, f"part-{pid:05d}-{self._run_id}.avro"
        )
        n = write_ocf(path, self._avro_schema, iterator, codec=self._codec)
        return AvroCommit(n_rows=n, path=path)

    def commit(self, messages) -> None:
        if self._overwrite:
            for f in os.listdir(self._dir):
                if f.endswith(".avro") and self._run_id not in f:
                    os.unlink(os.path.join(self._dir, f))
        total = sum(m.n_rows for m in messages if m is not None)
        import logging

        logging.getLogger(__name__).info(
            "avro_ocf sink: wrote %d rows in %d files",
            total,
            sum(1 for m in messages if m is not None),
        )

    def abort(self, messages) -> None:
        for m in messages:  # remove partial outputs; replay re-creates them
            if m is not None and os.path.exists(m.path):
                os.unlink(m.path)


class AvroOcfDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "avro_ocf"

    def schema(self):
        # Infer from the first part file's embedded writer schema.
        path = self.options.get("path")
        if not path or not os.path.isdir(path):
            raise ValueError(
                "avro_ocf: pass .schema(ddl) or load an existing directory"
            )
        for f in sorted(os.listdir(path)):
            if f.endswith(".avro"):
                with open(os.path.join(path, f), "rb") as fh:
                    avro_schema, _, _ = read_ocf_header(fh)
                return avro_to_spark_schema(avro_schema)
        raise ValueError(f"avro_ocf: no .avro files under {path}")

    def reader(self, schema: StructType) -> AvroOcfReader:
        return AvroOcfReader(dict(self.options), schema)

    def writer(self, schema: StructType, overwrite: bool) -> AvroOcfWriter:
        return AvroOcfWriter(dict(self.options), schema, overwrite)


def register(spark) -> None:
    """Idempotent registration of the avro_ocf format on a session."""
    try:
        spark.dataSource.register(AvroOcfDataSource)
    except Exception:
        pass  # already registered
