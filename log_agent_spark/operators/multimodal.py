"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with decode / feature-extract / resize / frame-sample operators.

North-star extension (BASELINE.json; no analog in the reference — its only
binary-column handling is FileMeta.Content, handler.go:22): a training-data
pipeline treats media exactly like the reference treats log blobs — opaque
bytes plus metadata — and runs per-blob Python only in Arrow-batched
``mapInPandas`` stages.

Spark-side plumbing is REAL (schemas, binary columns, Arrow batch iteration,
1→N frame explode, partition-parallel); the codec layer is a STUB, because
image/audio libs aren't in this container: ``decode_media_meta`` /
``extract_features`` / ``sample_frames`` use a clearly-marked DETERMINISTIC
FAKE codec — md5-arithmetic over the blob — so outputs are stable,
engine-portable, and every query below has a full DuckDB oracle (the fake
is reproducible in ANSI SQL).

The fake corpus derives from the ``documents`` fixture: content = UTF-8
bytes of ``text`` (so Spark ``md5(content)`` == DuckDB ``md5(text)``), kind
round-robins image/audio/video.

Scale shape: every operator is a narrow map over Arrow batches — no
shuffle, no driver collect; at 100 TB parallelism equals input splits, and
memory is bounded by (spark.sql.execution.arrow.maxRecordsPerBatch ×
max blob size), same bound the reference enforces with its 16 MiB cap.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_agent_spark.ladder import pick_rung
from log_agent_spark.scratch import pin_checkpoint, pinned_query
from log_agent_spark.sources.tables import load_table

FEATURE_DIM = 8
FRAME_STRIDE_CHARS = 50
FRAME_LEN_CHARS = 100
FRAME_EVERY_MS = 200
MAX_FRAMES = 8

KINDS = ["image", "audio", "video"]


# ---------------------------------------------------------------------------
# Fake media corpus over the documents fixture.
# ---------------------------------------------------------------------------
def media_corpus(docs: DataFrame) -> DataFrame:
    """(media_id, kind, content binary, duration_ms) — deterministic corpus."""
    kind = F.element_at(
        F.array(*[F.lit(k) for k in KINDS]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    duration = F.when(
        F.col("doc_id") % 3 != 0, (1000 + (F.col("doc_id") % 60) * 500).cast("long")
    )
    # spread codec stages across all cores — the fixture parquet is a couple
    # of splits; real media tables get this from their own input splits
    par = docs.sparkSession.sparkContext.defaultParallelism
    # a NULL blob is no media: without this contract the decode UDFs see
    # content=None and bytes(None) kills the Python worker (a failed-fetch
    # row at 100 TB must not crash the whole stage)
    docs = docs.filter(F.col("text").isNotNull())
    return docs.repartition(par, "doc_id").select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.col("text").cast("binary").alias("content"),
        duration.alias("duration_ms"),
    )


MEDIA_CORPUS_SQL = """
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         text,
         CASE WHEN doc_id % 3 <> 0 THEN 1000 + (doc_id % 60) * 500 END AS duration_ms
  FROM documents
  WHERE text IS NOT NULL
"""


# ---------------------------------------------------------------------------
# FAKE codec (deterministic, md5-arithmetic). Clearly a stub: a real
# decoder replaces these helpers when the codec libs exist.
# ---------------------------------------------------------------------------
def _h16(digest: str, off: int) -> int:
    return int(digest[off : off + 4], 16)


def _fake_decode(blob: bytes, kind: str) -> dict:
    d = hashlib.md5(blob).hexdigest()
    meta = {"width": None, "height": None, "channels": None, "sample_rate": None}
    if kind in ("image", "video"):
        meta["width"] = 64 + _h16(d, 0) % 1856
        meta["height"] = 64 + _h16(d, 4) % 1024
        meta["channels"] = 3 if kind == "video" else 1 + _h16(d, 8) % 4
    if kind == "audio":
        meta["sample_rate"] = 8000 + (_h16(d, 8) % 12) * 4000
    return meta


def decode_media_meta(media: DataFrame) -> DataFrame:
    """(media_id, kind, width, height, channels, sample_rate, n_bytes).

    mapInPandas over Arrow batches: the real shape for a codec stage —
    per-partition, streaming one record batch at a time.
    """
    schema = (
        "media_id long, kind string, width int, height int, "
        "channels int, sample_rate int, n_bytes long"
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, kind, content in zip(
                pdf["media_id"], pdf["kind"], pdf["content"]
            ):
                blob = bytes(content)
                rec = {"media_id": mid, "kind": kind}
                rec.update(_fake_decode(blob, kind))
                rec["n_bytes"] = len(blob)
                out.append(rec)
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "kind", "width", "height",
                    "channels", "sample_rate", "n_bytes",
                ],
            ).astype(
                {
                    "width": "Int32", "height": "Int32",
                    "channels": "Int32", "sample_rate": "Int32",
                }
            )

    return media.select("media_id", "kind", "content").mapInPandas(_decode, schema)


def extract_features(media: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """(media_id, features array<double>[dim]) — FAKE embedding: md5 chain,
    values in [0, 1). Real extractors (CLIP et al.) replace _feat()."""

    def _feat(blob: bytes) -> list[float]:
        d = hashlib.md5(blob).hexdigest()
        return [
            (int(hashlib.md5((d + str(j)).encode()).hexdigest()[:8], 16) % 10000)
            / 10000.0
            for j in range(dim)
        ]

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "features": pdf["content"].map(lambda b: _feat(bytes(b))),
                }
            )

    return media.select("media_id", "content").mapInPandas(
        _extract, "media_id long, features array<double>"
    )


def sample_frames(
    media: DataFrame,
    stride: int = FRAME_STRIDE_CHARS,
    frame_len: int = FRAME_LEN_CHARS,
    every_ms: int = FRAME_EVERY_MS,
    max_frames: int = MAX_FRAMES,
) -> DataFrame:
    """video rows → one row per sampled frame (1→N, like zip explode M5).

    (media_id, frame_idx, frame_ts_ms, frame_md5, frame_bytes) — FAKE
    frames are text slices; a real codec would emit decoded image bytes.
    """

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                text = bytes(content).decode("utf-8")
                n = min(1 + len(text) // frame_len, max_frames)
                for j in range(n):
                    frame = text[j * stride : j * stride + frame_len].encode("utf-8")
                    out.append(
                        {
                            "media_id": mid,
                            "frame_idx": j,
                            "frame_ts_ms": j * every_ms,
                            "frame_md5": hashlib.md5(frame).hexdigest(),
                            "frame_bytes": len(frame),
                        }
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "frame_idx", "frame_ts_ms", "frame_md5", "frame_bytes",
                ],
            )

    return (
        media.filter(F.col("kind") == "video")
        .select("media_id", "content")
        .mapInPandas(
            _frames,
            "media_id long, frame_idx int, frame_ts_ms long, "
            "frame_md5 string, frame_bytes long",
        )
    )


# ---------------------------------------------------------------------------
# queries() entries + oracles
# ---------------------------------------------------------------------------
def q_media_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_corpus(load_table(spark, sf_dir, "documents"))
    return decode_media_meta(media)


ORACLE_MEDIA_DECODE_META = f"""
WITH m AS ({MEDIA_CORPUS_SQL}),
d AS (SELECT media_id, kind, md5(text) AS dg, octet_length(encode(text)) AS n_bytes FROM m)
SELECT media_id, kind,
       CASE WHEN kind IN ('image','video')
            THEN CAST(64 + ('0x' || substring(dg, 1, 4))::UBIGINT % 1856 AS INT) END AS width,
       CASE WHEN kind IN ('image','video')
            THEN CAST(64 + ('0x' || substring(dg, 5, 4))::UBIGINT % 1024 AS INT) END AS height,
       CASE WHEN kind = 'video' THEN 3
            WHEN kind = 'image'
            THEN CAST(1 + ('0x' || substring(dg, 9, 4))::UBIGINT % 4 AS INT) END AS channels,
       CASE WHEN kind = 'audio'
            THEN CAST(8000 + (('0x' || substring(dg, 9, 4))::UBIGINT % 12) * 4000 AS INT)
            END AS sample_rate,
       n_bytes
FROM d
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-media fake-codec feature extraction via mapInPandas (real plumbing,
    stub codec), flattened to one row per (media_id, feature position).

    The internal operator (``extract_features``) keeps the natural
    ``array<double>`` column; the driver-facing entry posexplodes it because
    the correctness harness canonicalizes with pandas ``sort_values``, which
    cannot hash list cells (CORRECTNESS_r02 ``unhashable type: 'list'``).
    """
    media = media_corpus(load_table(spark, sf_dir, "documents"))
    return extract_features(media).select(
        "media_id", F.posexplode("features").alias("j", "feature")
    )


ORACLE_MEDIA_FEATURES = f"""
WITH m AS ({MEDIA_CORPUS_SQL})
SELECT media_id, CAST(j AS INT) AS j,
       (('0x' || substring(md5(md5(text) || j), 1, 8))::UBIGINT % 10000) / 10000.0
         AS feature
FROM m, unnest(generate_series(0, {FEATURE_DIM - 1})) AS u(j)
"""


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic frame sampling: one row per sampled frame of each video blob."""
    media = media_corpus(load_table(spark, sf_dir, "documents"))
    return sample_frames(media)


ORACLE_MEDIA_FRAME_SAMPLE = f"""
WITH m AS ({MEDIA_CORPUS_SQL}),
v AS (SELECT media_id, text FROM m WHERE kind = 'video'),
idx AS (
  SELECT media_id, text,
         unnest(generate_series(0, least(1 + length(text) // {FRAME_LEN_CHARS},
                                         {MAX_FRAMES}) - 1)) AS j
  FROM v
)
SELECT media_id, CAST(j AS INT) AS frame_idx,
       j * {FRAME_EVERY_MS} AS frame_ts_ms,
       md5(substring(text, j * {FRAME_STRIDE_CHARS} + 1, {FRAME_LEN_CHARS})) AS frame_md5,
       octet_length(encode(substring(text, j * {FRAME_STRIDE_CHARS} + 1, {FRAME_LEN_CHARS})))
         AS frame_bytes
FROM idx
"""


def q_media_kind_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-media-kind corpus stats over the decoded metadata."""
    meta = q_media_decode_meta(spark, sf_dir)
    return meta.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(F.avg("width"), 2).alias("avg_width"),
        F.round(F.avg("sample_rate"), 2).alias("avg_sample_rate"),
    )


ORACLE_MEDIA_KIND_STATS = f"""
SELECT kind, COUNT(*) AS n_media, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       ROUND(AVG(width), 2) AS avg_width,
       ROUND(AVG(sample_rate), 2) AS avg_sample_rate
FROM ({ORACLE_MEDIA_DECODE_META})
GROUP BY kind
"""


# ---------------------------------------------------------------------------
# Aspect-ratio bucketing — the batch-packing step of image/video training
# pipelines (SDXL-style bucketed batching): decoded frames are grouped to
# the nearest ratio in a fixed ladder so each training batch resizes to
# ONE target shape instead of padding to the worst case. Nearest-bucket
# assignment is a chained midpoint-threshold CASE (no argmin needed, and
# engine-portable); the decode itself rides the same mapInPandas codec
# stage as media_decode_meta. Scale: decode is a narrow Arrow map; the
# only shuffle carries (kind, bucket) partial counts.
# ---------------------------------------------------------------------------
_AR_LADDER = [0.5, 0.75, 1.0, 1.33, 1.78]
_AR_BATCH = 32


def _nearest_bucket(ratio):
    mids = [
        (_AR_LADDER[i] + _AR_LADDER[i + 1]) / 2 for i in range(len(_AR_LADDER) - 1)
    ]
    b = F.lit(_AR_LADDER[-1])
    for i in range(len(mids) - 1, -1, -1):
        b = F.when(ratio < mids[i], _AR_LADDER[i]).otherwise(b)
    return b


def q_media_aspect_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing for multimodal batch packing: snap each
    image/video to the nearest ladder bucket, count per (kind, bucket)."""
    media = media_corpus(load_table(spark, sf_dir, "documents"))
    meta = decode_media_meta(media).filter(F.col("kind") != "audio")
    ratio = F.col("width").cast("double") / F.col("height")
    return (
        meta.select("kind", _nearest_bucket(ratio).alias("bucket"), ratio.alias("r"))
        .groupBy("kind", "bucket")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.avg("r"), 4).alias("avg_ratio"),
            F.expr(f"(count(*) + {_AR_BATCH - 1}) div {_AR_BATCH}").alias(
                "n_batches"
            ),
        )
        .orderBy("kind", "bucket")
    )


def _ar_case_sql() -> str:
    mids = [
        (_AR_LADDER[i] + _AR_LADDER[i + 1]) / 2 for i in range(len(_AR_LADDER) - 1)
    ]
    clauses = " ".join(
        f"WHEN r < {m!r} THEN {_AR_LADDER[i]!r}" for i, m in enumerate(mids)
    )
    return f"CASE {clauses} ELSE {_AR_LADDER[-1]!r} END"


ORACLE_MEDIA_ASPECT_BUCKETS = f"""
WITH meta AS ({{decode}}),
r AS (
  SELECT kind, CAST(width AS DOUBLE) / height AS r
  FROM meta WHERE kind <> 'audio'
)
SELECT kind, {_ar_case_sql()} AS bucket, COUNT(*) AS n_items,
       ROUND(AVG(r), 4) AS avg_ratio,
       (COUNT(*) + {_AR_BATCH - 1}) // {_AR_BATCH} AS n_batches
FROM r GROUP BY kind, 2 ORDER BY kind, bucket
""".format(decode=ORACLE_MEDIA_DECODE_META)


# ---------------------------------------------------------------------------
# Shard-packing manifest — the webdataset/tar-shard build step after
# aspect bucketing: within each (kind, aspect-bucket) group, pack media
# next-fit by byte budget in deterministic media_id order and report per
# shard (n_items, bytes, fill%). shard_id = bytes-before-this-item div
# budget: pure integer window arithmetic, so the manifest is reproducible
# on any cluster layout and both engines agree exactly (one double
# division at the very end for fill%).
#
# Scale: the running sum is PARTITIONED by (kind, bucket) — no global
# window — but within-bucket parallelism is 1 by construction (a shard
# boundary depends on every earlier byte). Production regains parallelism
# by sharding per (bucket, ingest-day) — the natural corpus partition —
# or by the range-partitioned rank of operators/ranking.py when one
# bucket must pack as a single sequence; the per-group shape here is the
# same either way.
# ---------------------------------------------------------------------------
_SHARD_BYTES = 4096


def q_media_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Webdataset-style shard manifest: next-fit byte packing of decoded
    media per (kind, aspect bucket); per-shard item/byte/fill report."""
    from pyspark.sql.window import Window as W

    media = media_corpus(load_table(spark, sf_dir, "documents"))
    meta = decode_media_meta(media).filter(F.col("kind") != "audio")
    ratio = F.col("width").cast("double") / F.col("height")
    b = meta.select(
        "kind", "media_id", "n_bytes", _nearest_bucket(ratio).alias("bucket")
    )
    w = (
        W.partitionBy("kind", "bucket")
        .orderBy("media_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    c = b.withColumn("cum", F.sum("n_bytes").over(w))
    s = c.select(
        "kind",
        "bucket",
        F.expr(f"(cum - n_bytes) div {_SHARD_BYTES}").alias("shard_id"),
        "n_bytes",
    )
    return s.groupBy("kind", "bucket", "shard_id").agg(
        F.count("*").alias("n_items"),
        F.sum("n_bytes").alias("shard_bytes"),
        F.round(F.sum("n_bytes") * 100.0 / _SHARD_BYTES, 2).alias("fill_pct"),
    )


ORACLE_MEDIA_SHARD_MANIFEST = f"""
WITH meta AS ({ORACLE_MEDIA_DECODE_META}),
r AS (
  SELECT kind, media_id, n_bytes, CAST(width AS DOUBLE) / height AS r
  FROM meta WHERE kind <> 'audio'
), b AS (
  SELECT kind, media_id, n_bytes, {_ar_case_sql()} AS bucket FROM r
), c AS (
  SELECT *, SUM(n_bytes) OVER (PARTITION BY kind, bucket ORDER BY media_id
                               ROWS UNBOUNDED PRECEDING) AS cum
  FROM b
), s AS (
  SELECT kind, bucket,
         CAST(cum - n_bytes AS BIGINT) // {_SHARD_BYTES} AS shard_id, n_bytes
  FROM c
)
SELECT kind, bucket, shard_id, COUNT(*) AS n_items,
       CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
       ROUND(SUM(n_bytes) * 100.0 / {_SHARD_BYTES}, 2) AS fill_pct
FROM s GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Perceptual-hash near-duplicate pairs — dedup for the media family (text
# dedup is operators/dedup.py; nothing covered image/audio blobs). The hash
# is a real average-hash (aHash) over the decoded byte stream: split the
# payload into 16 equal blocks, per-block intensity = occurrences of a
# probe byte, bit_b = 1 iff block intensity exceeds the payload mean
# (integer cross-multiplication 16*intensity > total — no float compare).
# Identical payloads collide exactly; local edits flip only the touched
# blocks, so near-dups sit at small hamming distance. With a real codec the
# block statistic becomes mean pixel luma over an 4x4 grid — the plumbing
# (block fold, bit packing, banded join, hamming filter) is codec-agnostic.
#
# Candidate generation is banded LSH, never all-pairs: 4 bands of 4 bits;
# hamming <= 3 pigeonholes at least one identical band, so the band
# equi-join finds every pair the hamming filter can accept. Scale: hashing
# is a pure map (the blob never shuffles — only the 16-bit hash does);
# the join is per-(band, value) buckets; the exact bit_count(xor) filter
# runs only on bucket collisions.
# ---------------------------------------------------------------------------
_PHASH_BLOCKS = 16
_PHASH_BANDS = 4
_PHASH_BITS_PER_BAND = 4
_PHASH_MAX_HAMMING = 3
_PHASH_PROBE = "e"

# Hash WIDTH scales with the corpus (the SemDeDup-cell / SAX-word pattern):
# at the 16-bit floor each band carries 4 bits — 16 possible values — so
# band buckets grow linearly with corpus size and the candidate join
# quadratically (~n²/8 pairs regardless of data). Wider hashes multiply the
# per-band value space (8 bits -> 256, 16 bits -> 65,536) keeping buckets
# bounded, while the near-dup BAR stays absolute (hamming <= 3: "almost
# identical payload" is a fixed quality judgment, not corpus-relative) and
# the 4-band pigeonhole recall guarantee (3 errors can't touch all 4 bands)
# is width-independent. The floor keeps every driver-checked SF on the
# original 16-bit hash — sf0.1's documents table is 5,000 rows (every one
# non-NULL text -> 5,000 media), so the floor cap must clear THAT, not the
# 2,000-row embeddings table (review r7b caught the floor calibrated
# against the wrong table) — so the static oracle remains a strict mirror
# at every driver-checked SF.
_PHASH_BLOCK_LADDER = (  # (max corpus rows, blocks == hash bits)
    (6_000, 16),
    (200_000, 32),
    # 60, not 64: the hash folds as sum(bit_b << b) into a SIGNED bigint,
    # so bit 63 would overflow / go negative and break the shiftright band
    # extraction; 60 is the widest multiple of _PHASH_BANDS that stays
    # positive (15-bit bands, 32,768 values each)
    (float("inf"), 60),
)


def phash_table(
    df: DataFrame, id_col: str, payload_col: str, blocks: int = _PHASH_BLOCKS
) -> DataFrame:
    """(id, phash): ``blocks``-bit average-hash of a string payload per row.

    The lineage is cut with a checkpoint pin: the per-block hash expression
    tree would otherwise be inlined into BOTH sides of the downstream band
    self-join and the distinct — Catalyst plan compilation explodes
    (observed as a hang at sf0.01). The output table is 16 B/row; inside a
    pinned_query the pin is released by the wrapper, outside it the caller
    owns it (standard pin contract).
    """
    m = df.select(
        F.col(id_col).alias("media_id"), F.col(payload_col).alias("p")
    ).withColumn(
        "l", F.greatest(F.floor(F.length("p") / blocks).cast("int"), F.lit(1))
    )
    ints = [
        (
            F.length(F.expr(f"substring(p, 1 + {b} * l, l)"))
            # r11 (guide §1.2 per-task work): the probe is a LITERAL one-
            # char string, so literal replace() — no regex compilation or
            # NFA walk per block per row — computes the identical count
            # the oracle's plain replace() mirrors. regexp_replace here
            # was blocks× regex evaluations per row.
            - F.length(
                F.replace(
                    F.expr(f"substring(p, 1 + {b} * l, l)"),
                    F.lit(_PHASH_PROBE),
                    F.lit(""),
                )
            )
        ).alias(f"i{b}")
        for b in range(blocks)
    ]
    w = m.select("media_id", *ints)
    total = sum(F.col(f"i{b}") for b in range(blocks))
    phash = sum(
        (F.col(f"i{b}") * blocks > total).cast("bigint") * (1 << b)
        for b in range(blocks)
    )
    return w.select("media_id", phash.alias("phash")).transform(pin_checkpoint)


def phash_neardup_pairs(
    hashed: DataFrame, blocks: int = _PHASH_BLOCKS
) -> DataFrame:
    """Banded-LSH near-dup pairs (hamming <= _PHASH_MAX_HAMMING) from a
    (media_id, phash) table — never all-pairs."""
    bits_per_band = blocks // _PHASH_BANDS
    bands = hashed.select(
        "media_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.shiftright("phash", b * bits_per_band)
                            % (1 << bits_per_band)
                        ).alias("val"),
                    )
                    for b in range(_PHASH_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("media_id", "phash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    a = bands.select(
        F.col("media_id").alias("media_a"), F.col("phash").alias("ha"), "band", "val"
    )
    b = bands.select(
        F.col("media_id").alias("media_b"), F.col("phash").alias("hb"), "band", "val"
    )
    pairs = (
        a.join(b, ["band", "val"])
        .filter(F.col("media_a") < F.col("media_b"))
        .select("media_a", "media_b", "ha", "hb")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        )
        .filter(F.col("hamming") <= _PHASH_MAX_HAMMING)
    )
    return pairs.select(
        "media_a", "media_b", F.col("hamming").cast("long").alias("hamming")
    )


@pinned_query("media_phash_")
def q_media_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = media_corpus(docs).withColumn("p", F.col("content").cast("string"))
    # structural parameter -> eager precheck (the triangle-count width
    # pattern): one count picks the hash width off the ladder
    blocks = pick_rung(corpus.count(), _PHASH_BLOCK_LADDER)
    hashed = phash_table(corpus, "media_id", "p", blocks)
    return phash_neardup_pairs(hashed, blocks)


def _phash_sql() -> str:
    ints = ",\n         ".join(
        f"length(substring(p, 1 + {b} * l, l)) - "
        f"length(replace(substring(p, 1 + {b} * l, l), '{_PHASH_PROBE}', '')) AS i{b}"
        for b in range(_PHASH_BLOCKS)
    )
    total = " + ".join(f"i{b}" for b in range(_PHASH_BLOCKS))
    bits = " + ".join(
        f"(CASE WHEN i{b} * {_PHASH_BLOCKS} > total THEN {1 << b} ELSE 0 END)"
        for b in range(_PHASH_BLOCKS)
    )
    bands = ", ".join(
        f"({b}, (phash // {1 << (b * _PHASH_BITS_PER_BAND)}) % {1 << _PHASH_BITS_PER_BAND})"
        for b in range(_PHASH_BANDS)
    )
    return f"""
WITH m AS ({MEDIA_CORPUS_SQL}),
base AS (
  SELECT media_id, text AS p,
         greatest(CAST(floor(length(text) / {_PHASH_BLOCKS}) AS INT), 1) AS l
  FROM m
), ints AS (
  SELECT media_id,
         {ints}
  FROM base
), hashed AS MATERIALIZED (
  SELECT media_id, CAST({bits} AS BIGINT) AS phash
  FROM (SELECT *, {total} AS total FROM ints)
), bands AS (
  SELECT media_id, phash, b.band, b.val
  FROM hashed, LATERAL (VALUES {bands}) AS b(band, val)
), pairs AS (
  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
         a.phash AS ha, b.phash AS hb
  FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val
  WHERE a.media_id < b.media_id
)
SELECT media_a, media_b,
       CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM pairs
WHERE bit_count(xor(ha, hb)) <= {_PHASH_MAX_HAMMING}
"""


ORACLE_MEDIA_PHASH_NEARDUP = _phash_sql()


QUERIES = {
    "media_aspect_buckets": q_media_aspect_buckets,
    "media_shard_manifest": q_media_shard_manifest,
    "media_decode_meta": q_media_decode_meta,
    "media_features": q_media_features,
    "media_frame_sample": q_media_frame_sample,
    "media_kind_stats": q_media_kind_stats,
    "media_phash_neardup": q_media_phash_neardup,
}

ORACLES = {
    "media_aspect_buckets": ORACLE_MEDIA_ASPECT_BUCKETS,
    "media_shard_manifest": ORACLE_MEDIA_SHARD_MANIFEST,
    "media_decode_meta": ORACLE_MEDIA_DECODE_META,
    "media_features": ORACLE_MEDIA_FEATURES,
    "media_frame_sample": ORACLE_MEDIA_FRAME_SAMPLE,
    "media_kind_stats": ORACLE_MEDIA_KIND_STATS,
    "media_phash_neardup": ORACLE_MEDIA_PHASH_NEARDUP,
}
