"""Semantic invariants of the dedup tiers (beyond the oracle hash-match)."""

from __future__ import annotations

from pyspark.sql import functions as F

from log_agent_spark.operators import dedup
from log_agent_spark.sources.tables import load_table


def _docs(spark, sf_dir):
    return dedup.with_planted_dups(load_table(spark, sf_dir, "documents"))


def test_exact_finds_all_planted(spark, sf_dir):
    out = dedup.exact_duplicates(_docs(spark, sf_dir)).collect()
    # 50 planted exact copies → 50 duplicate groups of exactly 2
    assert len(out) == 50
    assert all(r.n_copies == 2 for r in out)
    assert sorted(r.representative for r in out) == list(range(50))


def test_minhash_identical_texts_identical_sigs(spark, sf_dir):
    sig = dedup._minhash_wide(_docs(spark, sf_dir))
    pair = sig.filter(F.col("doc_id").isin(7, 1_000_007)).collect()
    sigs = {r.doc_id: [r[f"mh{i}"] for i in range(dedup.NUM_PERMS)] for r in pair}
    assert sigs[7] == sigs[1_000_007]
    assert sig.columns == ["doc_id"] + [f"mh{i}" for i in range(dedup.NUM_PERMS)]


def test_lsh_candidates_cover_exact_dups(spark, sf_dir):
    """An exact copy agrees on every band → the pair MUST be a candidate."""
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(_docs(spark, sf_dir)).collect()
    }
    for i in range(50):
        assert (i, i + 1_000_000) in pairs, f"exact dup pair {i} missed by LSH"


def test_ngram_jaccard_scores(spark, sf_dir):
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 1_000_000 < 20)
    out = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    for i in range(20):
        assert out[(i, i + 1_000_000)] == 1.0  # identical text
        near = out.get((i, i + 2_000_000))
        assert near is not None and 0.5 < near < 1.0  # truncated copy
    # The gate must derive from the ARGUMENT (ADVICE r6: a caller threshold
    # was silently ignored in favor of the module constant): the default
    # 0.5-gated output must be exactly the >= 0.5 slice of the unfiltered one.
    gated = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs).collect()
    }
    assert set(gated) <= set(out)
    assert all(v >= 0.4999 for v in gated.values())  # 4dp display rounding
    # every comfortably-above-threshold pair survives the gate
    assert all(k in gated for k, v in out.items() if v > 0.5001)


def test_containment_catches_truncations_jaccard_misses(spark, sf_dir):
    """The asymmetry signal: a truncated copy is fully CONTAINED in its
    original (contain_b == 1.0) even though its Jaccard is < 1; exact
    copies score 1.0 in both directions."""
    out = {
        (r.doc_a, r.doc_b): (r.contain_a, r.contain_b)
        for r in dedup.q_dedup_containment(spark, sf_dir).collect()
    }
    for i in range(20):
        ca, cb = out[(i, i + 1_000_000)]
        assert ca == 1.0 and cb == 1.0  # exact copy
        ca, cb = out[(i, i + 2_000_000)]
        assert cb == 1.0  # truncation's shingles all appear in the original
        assert ca < 1.0  # but the original is NOT contained in it


def test_group_split_never_splits_a_group(spark, sf_dir):
    """Group-aware split invariant: every member of an exact-dup group gets
    the root's split, so per-checksum split cardinality is exactly 1 — and
    the planted exact copies (whose ids hash differently from their
    originals) are what n_moved counts."""
    from pyspark.sql.window import Window as W

    docs = _docs(spark, sf_dir)
    keyed = docs.select("doc_id", F.md5("text").alias("checksum")).withColumn(
        "root", F.min("doc_id").over(W.partitionBy("checksum"))
    )
    assigned = keyed.select(
        "checksum", dedup._split_expr(F.col("root")).alias("split")
    )
    multi = (
        assigned.groupBy("checksum")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert multi == 0
    totals = dedup.q_dedup_group_split(spark, sf_dir).collect()
    assert sum(r.n_docs for r in totals) == docs.count()
    # some planted copy must land in a different naive bucket than its root
    assert sum(r.n_moved for r in totals) > 0


def test_split_leakage_flags_cross_split_pairs(spark, sf_dir):
    """The audit's per-cell counts must sum to the LSH pair count, and the
    planted dups (ids ~1e6 apart → independent hash buckets) must produce
    at least one off-diagonal (leaked) cell."""
    docs = _docs(spark, sf_dir)
    n_pairs = dedup.lsh_candidate_pairs(docs).count()
    cells = dedup.q_dedup_split_leakage(spark, sf_dir).collect()
    assert sum(r.n_pairs for r in cells) == n_pairs
    assert any(r.split_a != r.split_b and r.n_pairs > 0 for r in cells)


def test_simhash_stability_and_width(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.filter(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 9_000_000).alias("doc_id"), "text"
    )
    out = {r.doc_id: r.simhash for r in dedup.simhash(docs.unionByName(dup)).collect()}
    assert out[3] == out[9_000_003]
    assert all(0 <= v < (1 << dedup.SIMHASH_BITS) for v in out.values())


def test_soft_weights_conserve_content_budget(spark, sf_dir):
    """1/N weighting must conserve the deduplicated content budget: the
    sum of eff_chars across all (source, multiplicity) cells equals the
    total chars of DISTINCT texts in the mirrored corpus, and every
    mirrored doc sits in a multiplicity-2 cell."""
    rows = dedup.q_dedup_soft_weights(spark, sf_dir).collect()
    eff_total = sum(r.eff_chars for r in rows)
    d = load_table(spark, sf_dir, "documents")
    distinct_chars = (
        d.select("text").distinct()
        .agg(F.sum(F.length("text")))
        .collect()[0][0]
    )
    assert abs(eff_total - distinct_chars) < 0.5 * len(rows)
    mirror = [r for r in rows if r.source == "mirror0"]
    assert mirror and all(r.n_copies == 2 for r in mirror)


def test_minhash_estimate_calibration(spark, sf_dir):
    """Estimator sanity: exact copies estimate 1.0 and are exactly 1.0;
    estimates live on the k-grid {0..k}/k; on the planted truncations the
    estimate tracks the true Jaccard within the k=16 sketch's resolution."""
    rows = dedup.q_dedup_minhash_estimate(spark, sf_dir).collect()
    by = {(r.doc_a, r.doc_b): r for r in rows}
    k = dedup.NUM_PERMS
    for r in rows:
        assert 0 <= r.n_agree <= k
        assert r.est_jaccard == round(r.n_agree / k, 4)
        assert r.inter <= r.uni
    for i in range(20):
        exact_pair = by[(i, i + 1_000_000)]
        assert exact_pair.n_agree == k and exact_pair.exact_jaccard == 1.0
        near = by.get((i, i + 2_000_000))
        if near is not None:
            assert abs(near.est_jaccard - near.exact_jaccard) <= 4 / k


def test_stop_shingle_valve_prunes_hot_shingle_only(spark):
    """DF-pruning (SHINGLE_DF_CAP class): a shingle shared by more docs
    than the cap is dropped from intersections AND sizes, so pairs glued
    ONLY by boilerplate disappear while true near-dups keep their score;
    below the cap the valve is the identity."""
    from log_agent_spark.operators.dedup import (
        df_capped_shingles,
        ngram_jaccard_pairs,
        shingles,
    )

    boiler = "COMMON-HEADER "  # > SHINGLE_LEN chars, shared by every doc
    # bodies must be mutually shingle-DISJOINT (distinct repeated chars),
    # so any pair among docs 0-4 is glued ONLY by the boiler shingles
    docs = spark.createDataFrame(
        [(i, boiler + chr(ord("a") + i) * 40) for i in range(5)]
        + [(100, boiler + "same tail text"), (101, boiler + "same tail text")],
        ["doc_id", "text"],
    )
    sh = shingles(docs)
    pruned = df_capped_shingles(sh, cap=6)  # 7 docs share boiler shingles
    # boiler-spanning shingles (df=7) gone; doc-unique shingles survive
    assert (
        pruned.groupBy("shingle").count().filter("count > 6").count() == 0
    )
    assert pruned.count() < sh.count()
    # identity below the cap
    assert df_capped_shingles(sh, cap=7).count() == sh.count()
    # end-to-end: with the hot shingles pruned at cap 6, only the true
    # near-dup pair (100, 101) survives the 0.5 gate — no boiler-glued
    # pairs among the 5 unique-body docs
    # the cap is an explicit parameter (frozen default) — mutating the
    # module global must NOT move the gate (ADVICE r8), so tune via arg
    pairs = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, df_cap=6).collect()
    }
    assert (100, 101) in pairs
    assert all(a >= 100 for a, _ in pairs), pairs


def test_lsh_pair_listing_mass_is_observable(spark, sf_dir):
    """Stretch r8 item 6: the pair listing's inherent C(c,2) output mass
    is observable in-plan — the counter equals the emitted pair count
    (zero extra jobs), so an operator sees the blowup before shipping
    the listing; the cluster-form queries remain the production form."""
    from pyspark.sql import Observation

    from log_agent_spark.operators.dedup import q_dedup_minhash_lsh

    obs = Observation("lsh_pair_mass_test")
    df = q_dedup_minhash_lsh(spark, sf_dir, observation=obs)
    n = df.count()
    assert n > 0
    assert obs.get["candidate_pairs"] == n
