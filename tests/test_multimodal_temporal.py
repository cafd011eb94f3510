"""Multimodal plumbing (binary columns + mapInPandas codec stages) and
temporal joins (as-of, range)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from log_agent_spark.operators import multimodal as mm
from log_agent_spark.operators.temporal import asof_join, time_range_join
from log_agent_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------
def test_media_corpus_kinds_and_bytes(spark, sf_dir):
    media = mm.media_corpus(load_table(spark, sf_dir, "documents"))
    rows = media.limit(6).collect()
    for r in rows:
        assert r.kind == mm.KINDS[r.media_id % 3]
        assert isinstance(bytes(r.content), bytes)
        assert (r.duration_ms is None) == (r.kind == "image")


def test_decode_meta_schema_and_kind_rules(spark, sf_dir):
    meta = mm.decode_media_meta(
        mm.media_corpus(load_table(spark, sf_dir, "documents"))
    )
    rows = meta.collect()
    assert len(rows) == 500
    for r in rows:
        if r.kind == "image":
            assert 64 <= r.width < 1920 and 64 <= r.height < 1088
            assert 1 <= r.channels <= 4 and r.sample_rate is None
        elif r.kind == "video":
            assert r.channels == 3 and r.sample_rate is None
        else:
            assert r.width is None and r.sample_rate >= 8000
        assert r.n_bytes > 0


def test_features_deterministic_unit_range(spark, sf_dir):
    media = mm.media_corpus(load_table(spark, sf_dir, "documents")).limit(20)
    a = {r.media_id: r.features for r in mm.extract_features(media).collect()}
    b = {r.media_id: r.features for r in mm.extract_features(media).collect()}
    assert a == b  # deterministic fake codec
    for v in a.values():
        assert len(v) == mm.FEATURE_DIM
        assert all(0.0 <= x < 1.0 for x in v)


def test_frame_sample_one_to_n(spark, sf_dir):
    media = mm.media_corpus(load_table(spark, sf_dir, "documents"))
    frames = mm.sample_frames(media)
    per_media = (
        frames.groupBy("media_id").agg(F.count("*").alias("n"), F.max("frame_idx").alias("mx"))
    ).collect()
    assert len(per_media) > 0
    for r in per_media:
        assert 1 <= r.n <= mm.MAX_FRAMES
        assert r.mx == r.n - 1  # contiguous frame indices from 0
    ts = frames.filter(F.col("frame_idx") == 2).select("frame_ts_ms").first()
    assert ts.frame_ts_ms == 2 * mm.FRAME_EVERY_MS


# ---------------------------------------------------------------------------
# temporal
# ---------------------------------------------------------------------------
def _ts(s):
    return dt.datetime(2024, 1, 1, 0, 0, s)


def test_asof_join_picks_latest_prior_and_ties(spark):
    left = spark.createDataFrame(
        [(1, "k", _ts(10)), (2, "k", _ts(5)), (3, "k", _ts(1)), (4, "other", _ts(10))],
        ["event_id", "key", "ts"],
    )
    right = spark.createDataFrame(
        [(101, "k", _ts(2)), (102, "k", _ts(5)), (103, "k", _ts(8))],
        ["event_id", "key", "ts"],
    )
    out = {
        r.event_id: (r.asof_event_id, r.asof_ts)
        for r in asof_join(left, right, keys=["key"], payload_cols=["event_id"]).collect()
    }
    assert out[1] == (103, _ts(8))  # latest prior
    assert out[2] == (102, _ts(5))  # tie at equal ts matches (>= semantics)
    assert out[3] == (None, None)  # no prior right row
    assert out[4] == (None, None)  # key isolation


def test_range_join_band_and_bucket_edges(spark):
    left = spark.createDataFrame([(1, _ts(0))], ["event_id", "ts"])
    # 59s inside band (adjacent bucket), 60s boundary inclusive, 61s outside
    right = spark.createDataFrame(
        [(10, _ts(59)), (11, dt.datetime(2024, 1, 1, 0, 1, 0)), (12, dt.datetime(2024, 1, 1, 0, 1, 1))],
        ["event_id", "ts"],
    )
    got = sorted(
        r.r_event_id for r in time_range_join(left, right, window_s=60).collect()
    )
    assert got == [10, 11]


def test_shard_manifest_partitions_every_byte(spark, sf_dir):
    """Next-fit invariants: shard ids are contiguous from 0 per (kind,
    bucket), shard bytes sum to the bucket's total, and no shard exceeds
    the budget by more than one item (the straddling item stays in the
    shard where it started)."""
    from collections import defaultdict

    from log_agent_spark.operators.multimodal import (
        _SHARD_BYTES,
        decode_media_meta,
        media_corpus,
        q_media_shard_manifest,
    )
    from log_agent_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    rows = q_media_shard_manifest(spark, sf_dir).collect()
    groups = defaultdict(list)
    for r in rows:
        groups[(r.kind, r.bucket)].append(r)
    meta = (
        decode_media_meta(media_corpus(load_table(spark, sf_dir, "documents")))
        .filter(F.col("kind") != "audio")
        .agg(F.sum("n_bytes").alias("b"), F.max("n_bytes").alias("mx"))
        .collect()[0]
    )
    assert sum(r.shard_bytes for r in rows) == meta.b
    for (kind, bucket), rs in groups.items():
        ids = sorted(r.shard_id for r in rs)
        assert ids == list(range(len(ids))), (kind, bucket, ids)
        for r in rs:
            assert r.shard_bytes < _SHARD_BYTES + meta.mx
