"""Semantic tests for the round-5 additions (t-closeness, license taint,
schema drift, sorted-neighborhood ER matching + golden records) — the
oracle gate proves cross-engine equality; these pin what the operators
MEAN against constructed micro-data or an independent Python
implementation (exact TVD, union-find, brute-force rescoring)."""

from __future__ import annotations

import collections
import re

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# t-closeness vs exact Python TVD
# ---------------------------------------------------------------------------
def test_tcloseness_matches_exact_tvd(spark):
    import duckdb

    import __spark_entry__ as entry

    got = {
        (r.priority, r.yr): (r.n_rows, r.t_distance, r.breaches_t)
        for r in entry.queries()["privacy_tcloseness"](spark, SF).collect()
    }
    df = duckdb.sql(
        f"""SELECT o_orderpriority AS p, EXTRACT(year FROM o_orderdate) AS y,
                   o_orderstatus AS s, COUNT(*) AS n
            FROM '{SF}/orders.parquet' GROUP BY 1, 2, 3"""
    ).df()
    total = df["n"].sum()
    glob = df.groupby("s")["n"].sum()
    for (p, y), g in df.groupby(["p", "y"]):
        n_g = g["n"].sum()
        cnt = dict(zip(g["s"], g["n"]))
        tvd = 0.5 * sum(
            abs(cnt.get(s, 0) / n_g - glob[s] / total) for s in glob.index
        )
        n_rows, t, breach = got[(p, int(y))]
        assert n_rows == n_g
        assert abs(t - tvd) < 2e-6, ((p, y), t, tvd)
        assert breach == (tvd > 0.2) or abs(tvd - 0.2) < 1e-9


# ---------------------------------------------------------------------------
# license taint on a planted dup-cluster fixture
# ---------------------------------------------------------------------------
def test_license_taint_propagates_through_dup_cluster(spark, tmp_path):
    import __spark_entry__ as entry

    rows = [
        # cluster A: identical text in restricted src3 and clean src0 —
        # the src0 copy must be counted as contaminated-by-duplication
        (1, "shared restricted content", "src3"),
        (2, "shared restricted content", "src0"),
        # cluster B: clean dup pair, no taint
        (3, "harmless duplicate", "src0"),
        (4, "harmless duplicate", "src1"),
        # singletons: one restricted, one clean
        (5, "unique restricted", "src7"),
        (6, "unique clean", "src1"),
    ]
    spark.createDataFrame(
        [(i, t, s, "en", len(t)) for i, t, s in rows],
        "doc_id long, text string, source string, lang string, n_chars long",
    ).select("doc_id", "text", "lang", "source", "n_chars").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r.source: r
        for r in entry.queries()["governance_license_taint"](
            spark, str(tmp_path)
        ).collect()
    }
    # src0: 2 docs; doc 2 is tainted via the src3 copy, doc 3 is clean
    assert got["src0"].n_docs == 2
    assert got["src0"].n_tainted == 1
    assert got["src0"].n_contaminated_by_dup == 1
    # src3: its own doc is restricted (tainted but NOT by duplication)
    assert got["src3"].n_tainted == 1
    assert got["src3"].n_contaminated_by_dup == 0
    # src1: both docs clean
    assert got["src1"].n_tainted == 0


# ---------------------------------------------------------------------------
# schema drift: planted halves with known contract violations
# ---------------------------------------------------------------------------
def test_schema_drift_flags_planted_contract_break(spark, tmp_path):
    import datetime as dt

    import __spark_entry__ as entry

    ts = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    # half 0 (even ids): value in units; half 1 (odd ids): producer breaks
    # the contract and sends cents (x100) and null props
    for i in range(40):
        if i % 2 == 0:
            rows.append((i, ts, 100 + i, "click", 2.0, "p"))
        else:
            rows.append((i, ts, 100 + i, "click", 200.0, None))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    [r] = entry.queries()["dq_schema_drift"](spark, str(tmp_path)).collect()
    assert r.n_a == 20 and r.n_b == 20 and r.count_ratio == 1.0
    assert r.null_props_a == 0 and r.null_props_b == 20
    assert r.vmass_ratio == 100.0  # the cents-vs-units break, exactly


# ---------------------------------------------------------------------------
# sorted-neighborhood ER: structural properties + Python rescoring
# ---------------------------------------------------------------------------
def test_er_match_pairs_neighborhood_and_scores(spark):
    import __spark_entry__ as entry
    from log_agent_spark.operators.linkage import (
        _ER_THRESHOLD,
        _ER_WEIGHTS,
        _SNM_WINDOW,
        _er_features,
    )
    from log_agent_spark.sources.tables import load_table

    feats = {
        r.custkey: r
        for r in _er_features(load_table(spark, SF, "customer")).collect()
    }
    pairs = entry.queries()["er_match_pairs"](spark, SF).collect()
    assert pairs, "SNM must emit candidate pairs"

    # expected pair count: per block, sum over k=1..W of max(0, n-k)
    blocks = collections.Counter(
        (f.nationkey, f.segment) for f in feats.values()
    )
    expect = sum(
        max(0, n - k) for n in blocks.values() for k in range(1, _SNM_WINDOW + 1)
    )
    assert len(pairs) == expect

    order = sorted(
        feats.values(), key=lambda f: (f.nationkey, f.segment, f.bal_band, f.custkey)
    )
    pos = {f.custkey: i for i, f in enumerate(order)}
    for r in pairs:
        a, b = feats[r.rec_a], feats[r.rec_b]
        # same block, within W sort positions
        assert (a.nationkey, a.segment) == (b.nationkey, b.segment)
        assert 0 < abs(pos[r.rec_a] - pos[r.rec_b]) <= _SNM_WINDOW
        # integer F-S score recomputed independently
        score = sum(
            wa if getattr(a, f) == getattr(b, f) else wd
            for f, (wa, wd) in _ER_WEIGHTS.items()
        )
        assert r.score == score
        assert r.is_match == (score >= _ER_THRESHOLD)


def test_er_golden_record_matches_union_find(spark):
    import __spark_entry__ as entry

    matches = [
        (r.rec_a, r.rec_b)
        for r in entry.queries()["er_match_pairs"](spark, SF).collect()
        if r.is_match
    ]
    entities = entry.queries()["er_golden_record"](spark, SF).collect()
    if not matches:
        assert not entities
        return

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in matches:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = collections.defaultdict(set)
    for x in parent:
        clusters[find(x)].add(x)

    got = {}
    for e in entities:
        got[e.golden_custkey] = e
    assert len(entities) == len(clusters)
    for root, members in clusters.items():
        e = got[min(members)]
        assert e.n_members == len(members)
        assert e.golden_custkey == min(members)


# ---------------------------------------------------------------------------
# round-5 review regressions: NULL-QI groups, NULL text, malformed names,
# CC iteration-budget honesty, single-sort SNM plan shape
# ---------------------------------------------------------------------------
def test_tcloseness_null_orderdate_group_gets_real_tvd(spark, tmp_path):
    """A NULL-orderdate QI group must match its own cells (null-safe join):
    a group distributed exactly like the corpus has t = 0, not the bogus
    constant 0.5 an orphaned group would report."""
    import datetime as dt

    import __spark_entry__ as entry

    d = dt.date(2024, 1, 15)
    rows = []
    # global distribution: half 'F', half 'O' — in both the dated group
    # and the NULL-date group, so every group's true TVD is exactly 0
    for i in range(10):
        rows.append((i, d, "F" if i % 2 else "O", "1-URGENT"))
    for i in range(10, 20):
        rows.append((i, None, "F" if i % 2 else "O", "1-URGENT"))
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_orderstatus string, "
        "o_orderpriority string"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    out = {
        r.yr: r
        for r in entry.queries()["privacy_tcloseness"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(out) == {2024, None}
    for r in out.values():
        assert r.n_rows == 10
        assert r.t_distance == 0.0, r
        assert not r.breaches_t


def test_license_taint_counts_null_text_docs(spark, tmp_path):
    """NULL-text docs must stay in the audit (singleton clusters), not be
    silently dropped by a null-unsafe md5 cluster join."""
    import __spark_entry__ as entry

    rows = [
        (1, None, "src3"),   # restricted, no content
        (2, None, "src0"),   # clean, no content — NOT tainted by doc 1
        (3, "dup text", "src3"),
        (4, "dup text", "src0"),
    ]
    spark.createDataFrame(
        [(i, t, "en", s, 0) for i, t, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).select("doc_id", "text", "lang", "source", "n_chars").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r.source: r
        for r in entry.queries()["governance_license_taint"](
            spark, str(tmp_path)
        ).collect()
    }
    # every doc counted, including the NULL-text ones
    assert got["src0"].n_docs == 2 and got["src3"].n_docs == 2
    # absent content is no duplication evidence: doc 2 stays clean
    assert got["src0"].n_tainted == 1  # only the 'dup text' copy
    assert got["src0"].n_contaminated_by_dup == 1


def test_er_features_tolerate_malformed_name(spark, tmp_path):
    """A c_name without the 'Customer#%09d' digit tail must yield NULL
    evidence (disagree weight), not an ANSI CAST_INVALID_INPUT crash."""
    import __spark_entry__ as entry

    rows = [
        (1, "Anon", 0, 10.0, "BUILDING"),
        (2, "X", 0, 10.0, "BUILDING"),
        (3, "Customer#000000003", 0, 10.0, "BUILDING"),
    ]
    spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    ).write.parquet(str(tmp_path / "customer.parquet"))
    pairs = entry.queries()["er_match_pairs"](spark, str(tmp_path)).collect()
    assert len(pairs) == 3  # 3 records, W=3 → (n-1)+(n-2) = 3 pairs
    for r in pairs:
        # NULL name_tail on at least one side → never an agree on that field
        assert r.agree_name_tail is None or r.rec_a == 3 or r.rec_b == 3


def test_er_match_pairs_single_window_sort(spark):
    """All W lead() projections share one window spec → exactly one
    WindowExec (one shuffle+sort), not one per neighbor rank."""
    import __spark_entry__ as entry

    plan = (
        entry.queries()["er_match_pairs"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # count exact WindowExec nodes only: the node prints as "Window ["
    # (optionally behind tree-drawing prefixes); a bare " Window " substring
    # would also match WindowGroupLimit and future renamed nodes
    n_window = len(re.findall(r"(?m)^[\s:+*\-()0-9]*Window \[", plan))
    assert n_window == 1, f"expected 1 WindowExec, plan:\n{plan[:2000]}"


# ---------------------------------------------------------------------------
# round-5 second batch: split leakage, DP bounds, repetition gates, OOO depth
# ---------------------------------------------------------------------------
def test_split_leakage_flags_cross_split_dup(spark, tmp_path):
    """A dup cluster spanning the canonical train/test hash split
    (plans/sampling.py split_expr, 80/10/10) is a leak; dups confined to
    one side are not. Doc ids below are chosen by their md5 bucket:
    1/2/3 → train, 8/20 → test, 16 → val."""
    import __spark_entry__ as entry

    rows = [
        (1, "leaky shared text", "srcA"),    # bucket 60 -> train
        (8, "leaky shared text", "srcB"),    # bucket 93 -> test  => leak
        (2, "train only dup", "srcA"),       # bucket 5  -> train
        (3, "train only dup", "srcA"),       # bucket 10 -> train, no leak
        (20, "unique test doc", "srcB"),     # bucket 96 -> test, unique
        (16, "leaky shared text", "srcB"),   # bucket 88 -> val: in the
        # leaked cluster but neither train nor test — counted in n_docs
        # only, proving val members don't create or join a leak count
    ]
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).select("doc_id", "text", "lang", "source", "n_chars").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r.source: r
        for r in entry.queries()["split_leakage_audit"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["srcB"].n_docs == 3 and got["srcB"].n_test == 2
    assert got["srcB"].n_leaked_test == 1     # doc 8 only
    assert got["srcB"].pct_test_leaked == 50.0
    assert got["srcA"].n_leaking_train == 1   # doc 1 leaks into test
    assert got["srcA"].n_leaked_test == 0


def test_dp_contribution_bounds_exact_order_stats(spark, tmp_path):
    """Hand-computed histogram: 100 users x 1 event + 1 user x 50 events →
    p50 = p99 = 1, clipping at 1 discards 49/150 of the mass."""
    import datetime as dt

    import __spark_entry__ as entry

    ts = dt.datetime(2024, 5, 1, 9, 0, 0)
    rows = [(i, ts, i, "click", 1.0, "p") for i in range(100)]
    rows += [(1000 + j, ts, 999, "click", 1.0, "p") for j in range(50)]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    [r] = entry.queries()["dp_contribution_bounds"](
        spark, str(tmp_path)
    ).collect()
    assert r.n_users == 101 and r.max_contrib == 50
    assert r.p50_contrib == 1
    # cum(c=1) = 100; 100*100 = 10000 >= 99*101 = 9999 → p99 = 1
    assert r.p99_contrib == 1
    assert r.total_mass == 150 and r.clipped_mass == 49
    assert abs(r.pct_mass_clipped - round(4900.0 / 150, 4)) < 1e-9


def test_repetition_gates_catch_dominant_ngram(spark, tmp_path):
    """'a b' covering 8/8 tokens fails the top-2-gram gate; varied text
    passes all gates."""
    import __spark_entry__ as entry

    rows = [
        # 20 tokens, top 2-gram 'a b' x10: 10*2*100 > 20*20 → fail
        (1, "a b " * 10, "spam"),
        # 18 distinct tokens: top 2-gram count 1 → 200 < 360 → pass
        (2, " ".join(f"w{i}" for i in range(18)), "clean"),
        # 6 tokens: below the min-length gate, exempt even though its top
        # 2-gram trivially covers 33%
        (3, "one two three four five six", "clean"),
    ]
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).select("doc_id", "text", "lang", "source", "n_chars").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r.source: r
        for r in entry.queries()["text_repetition_gates"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["spam"].n_fail_top2 == 1
    assert got["spam"].n_fail_any == 1 and got["spam"].pct_fail_any == 100.0
    assert got["clean"].n_docs == 2
    assert got["clean"].n_fail_any == 0 and got["clean"].pct_fail_any == 0.0


def test_ooo_depth_measures_planted_inversion(spark, tmp_path):
    """One event arriving 60 s behind its user's running max shows up as
    exactly one late arrival of depth 60000 ms."""
    import datetime as dt

    import __spark_entry__ as entry

    t0 = dt.datetime(2024, 5, 1, 10, 0, 0)

    def ts(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        (1, ts(0), 7, "click", 1.0, "p"),
        (2, ts(-60), 7, "click", 1.0, "p"),   # arrives after, 60 s earlier
        (3, ts(30), 7, "click", 1.0, "p"),    # back in order
        (4, ts(0), 8, "view", 1.0, "p"),      # other user/type: in order
        (5, ts(10), 8, "view", 1.0, "p"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r.event_type: r
        for r in entry.queries()["events_ooo_depth"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["click"].n_events == 3 and got["click"].n_late == 1
    assert got["click"].max_late_ms == 60000
    assert got["click"].mean_late_ms == 60000.0
    assert got["view"].n_late == 0 and got["view"].mean_late_ms is None
