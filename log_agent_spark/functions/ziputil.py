"""Zip explode — one archive record → N member records (SURVEY.md §2.4 M5-M6).

Reference behavior (watchdog/handler/kafka.go:209-274, duplicated in
cassandra.go:102-167):
- directory entries skipped               (kafka.go:230-232)
- entry names that aren't valid UTF-8 decoded as GBK (kafka.go:234-241)
- empty/invalid zip → zero rows, logged   (kafka.go:210-216)
- child record: pack = archive filename, name = entry path, size/content =
  entry's; parent times inherited         (kafka.go:243-255)

Spark-first shape: a scalar expression can't return N rows, so this is the
one legitimate ``mapInPandas`` operator — Arrow-batched, streaming one input
batch at a time, never materializing more than a batch of archives in
memory. The 16 MiB source-size cap (F6) bounds per-row memory.
"""

from __future__ import annotations

import io
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame


def _decode_name(info: zipfile.ZipInfo) -> str:
    """zipfile decodes non-UTF8-flagged names as cp437; the reference's
    convention (handler.go:48-56) is GBK for anything that isn't UTF-8."""
    if info.flag_bits & 0x800:  # UTF-8 flag set by the archiver
        return info.filename
    raw = info.filename.encode("cp437")
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("gbk", errors="replace")


def with_zip_members(df: DataFrame) -> DataFrame:
    """Single pass: non-zip rows pass through (pack=''), zip rows are
    replaced by their exploded members — the reference's dispatch shape
    (kafka.go:170-185).

    One ``mapInPandas`` over the whole scan rather than a filter/explode/
    union of two branches: the branched plan re-reads every file's CONTENT
    twice (the ext predicate is path-derived, not pushable to the binaryFile
    reader), which at 100 TB doubles source IO — and downstream the gzip
    gate crosses all content into Python anyway, so the single pass adds no
    new Arrow transfer. Pass-through rows are handled vectorized (one
    column assignment per batch); only actual archives are exploded
    row-wise.

    Expects FileMeta-like columns: filepath, filename, ext, size, content,
    and the enrichment's pack='' default (overwritten for members).
    """
    has_pack = "pack" in df.columns
    out_cols = list(df.columns) + ([] if has_pack else ["pack"])
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + ([] if has_pack else ["pack string"])
    )

    def _process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            is_zip = pdf["ext"] == "zip"
            passthrough = pdf[~is_zip].copy()
            passthrough["pack"] = ""
            frames = [passthrough]
            for _, row in pdf[is_zip].iterrows():
                try:
                    zf = zipfile.ZipFile(io.BytesIO(bytes(row["content"])))
                    infos = zf.infolist()
                except zipfile.BadZipFile:
                    continue  # kafka.go:210-216: invalid/empty zip → dropped
                recs = []
                for info in infos:
                    if info.is_dir():  # kafka.go:230-232
                        continue
                    rec = row.to_dict()
                    rec["pack"] = row["filename"]  # kafka.go:243-255
                    rec["filename"] = _decode_name(info)
                    rec["size"] = info.file_size
                    rec["content"] = zf.read(info)
                    recs.append(rec)
                if recs:
                    frames.append(pd.DataFrame(recs, columns=out_cols))
            out = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
            yield out[out_cols]

    return df.mapInPandas(_process, schema=out_schema)
