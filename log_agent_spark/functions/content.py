"""Content-column transforms (SURVEY.md §2.4 M6-M10).

Everything that CAN be a built-in column expression IS one (md5, hex
encoding, the compression gate predicate, date/epoch projections). Only the
gzip body itself needs Python — a vectorized Pandas UDF over Arrow batches
(there is no JVM-side per-value gzip builtin).

Reference parity:
- checksum       = hex(md5(raw content))           kafka.go:277
- gzip gate      = size > 1024 AND ext not in
                   (jpg|jpeg|gif|png|wmv|flv|zip|gz)$
                                                   lib/compress/compress.go:10-24
- gzip level     = BestSpeed (=1)                  compress.go:32
- hex-blob wire  = '0x' + lowercase hex; empty → '0x'   kafka.go:323-325
- GBK transcode  = invalid-UTF8 names decoded as GBK    handler.go:48-56
                   (zip member names: ziputil._decode_name)
"""

from __future__ import annotations

import gzip

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

GZIP_MIN_LENGTH = 1024  # compress.go:15
NEVER_COMPRESS_EXT = r"(jpg|jpeg|gif|png|wmv|flv|zip|gz)$"  # compress.go:11


def checksum(content: Column) -> Column:
    """md5 hex digest of the raw (uncompressed) content — M7."""
    return F.md5(content)


def content_cluster_hash(
    text: Column = None, doc_id: Column = None
) -> Column:
    """Exact-dup cluster key over a document corpus: md5(text), with each
    NULL-text doc as its OWN singleton cluster ('##null##'||doc_id cannot
    collide with a 32-hex-char md5). THE one definition shared by the
    license-taint and split-leakage audits — their cluster memberships
    must never drift apart."""
    text = F.col("text") if text is None else text
    doc_id = F.col("doc_id") if doc_id is None else doc_id
    return F.coalesce(
        F.md5(text), F.concat(F.lit("##null##"), doc_id.cast("string"))
    )


def content_cluster_hash_sql(text: str = "text", doc_id: str = "doc_id") -> str:
    """DuckDB twin of content_cluster_hash."""
    return (
        f"COALESCE(md5({text}), '##null##' || CAST({doc_id} AS VARCHAR))"
    )


def hex_blob(content: Column) -> Column:
    """'0x' + lowercase hex; empty/NULL-safe: empty blob → '0x' — M9."""
    return F.concat(F.lit("0x"), F.lower(F.hex(content)))


def should_compress(size: Column, ext: Column) -> Column:
    """The M8 gate as a pure predicate (codegen'd, no Python)."""
    return (size > GZIP_MIN_LENGTH) & ~ext.rlike(NEVER_COMPRESS_EXT)


@F.pandas_udf(BinaryType())
def gzip_compress(content: pd.Series) -> pd.Series:
    """gzip BestSpeed over an Arrow batch of blobs (compress.go:26-46).

    mtime=0 pins the gzip header so output is byte-deterministic.
    """
    return content.map(
        lambda b: None
        if b is None
        else gzip.compress(bytes(b), compresslevel=1, mtime=0)
    )


def apply_compression(size: Column, ext: Column, content: Column) -> dict[str, Column]:
    """Full M8 semantics: returns compress/compress_size/content columns.

    The gate stays JVM-side; gzip runs only on rows that pass it (the
    ``when`` short-circuits the UDF input to NULL otherwise).
    """
    gate = should_compress(size, ext)
    # Pandas UDFs are extracted into an ArrowEvalPython stage and run on the
    # WHOLE batch before the `when` projection picks a branch — so null out
    # non-gated inputs first, or every never-compress blob (jpgs, zips, 16 MiB
    # media) gets gzipped and thrown away.
    out_content = F.when(gate, gzip_compress(F.when(gate, content))).otherwise(content)
    # uncompressed rows: compress_size == size == length(content), so a single
    # length() over the output column covers both branches (compress.go:22-24,44)
    return {
        "compress": gate.alias("compress"),
        "content": out_content.alias("content"),
        "compress_size": F.length(out_content).cast("long").alias("compress_size"),
    }
