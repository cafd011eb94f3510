"""Skew robustness probe: run the hot-key-exposed queries against the
planted-skew fixture (tools/make_skew.py) and compare wall time with the
uniform sf0.1 baseline.

The uniform scaling table (SCALING.md) cannot see hot-key behavior; this
probe measures the three pathologies the skew fixture plants (bot user,
mega order, giant duplicate cluster) against the operators whose shuffles
key on them. Output: SKEW.md — per query, uniform s / skewed s / ratio,
sorted worst-first. A ratio far above the fixture's own row-count growth
(~1.2x) means a per-key hotspot, not more data.

    python tools/skew_probe.py            # default probe set
    python tools/skew_probe.py q1 q2 ...  # subset
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

UNIFORM = "/root/testdata/sf0.1"
SKEWED = os.environ.get("SPARK_GRAFT_SKEW_DIR", os.path.join(REPO, "localdata", "skew01"))

# Measured verdicts (kept in the tool so regeneration preserves them);
# rendered into SKEW.md's notes column.
NOTES = {
    "graph_triangle_count": "mega order bounded by the BASKET_CAP=512 "
    "hub valve (pre-cap ratio was 2.24): C(cap,2) edges max per order",
    "graph_label_propagation": "r8: shared capped_basket_items valve in "
    "_lpa_edges (baskets.py) bounds the co-purchase projection. r9 sf1 "
    "adjudication: the probe published 4.52/8.31 (1.84) with code "
    "untouched; an immediate off-window best-of-3 re-measure gave "
    "11.56/6.72 (0.58) — swings in BOTH directions on identical "
    "fixtures, the documented sf1 graph GC noise (r8 committed 0.97)",
    "graph_kcore": "r8: same shared _lpa_edges valve",
    "graph_modularity": "r8: same shared _lpa_edges valve",
    "graph_degree_powerlaw": "r8: same shared _lpa_edges valve",
    "graph_jaccard_neighbors": "r8: shared _lpa_edges valve + the "
    "_JACCARD_DEG_CAP wedge cap",
    "basket_part_pairs_lift": "r8: pair join reads the capped builder; "
    "marginals/n_orders stay uncapped (true frequencies)",
    "events_attribution_multitouch": "r8: executable valve — attribution "
    "reads only the _ATTR_DAY_CLICK_CAP=32 most recent clicks per "
    "(user, day), mirrored in the oracle (pre-valve sf0.1 ratio 1.72). "
    "sf1 residual ~2x is the BOUNDED linear term (hot user's purchases x "
    "<=256 touches, an AQE-splittable join output): uncapped at sf1skew "
    "measures 102s vs 4.8s capped — a 21x valve",
    "dedup_minhash_lsh": "pair OUTPUT is inherently C(c,2) in a true "
    "dup cluster of c docs; the cluster-form queries "
    "(dedup_connected_components / dedup_cluster_sizes, ratio ~1.0) are "
    "the scale representation — r9: the emitted pair mass is now "
    "observable in-plan (lsh_pair_mass Observation; QUERIES.md)",
    "dedup_exact": "800-row hash group -> one window group; linear work, "
    "single-task locality only",
    "events_sessionize": "time-ordered running window: skew shifts rows "
    "between partitions but work stays linear per row",
}

# Queries keyed on the planted hot keys, grouped by pathology.
PROBE = [
    # bot user (events.user_id):
    "events_sessionize",
    "events_rolling_7d_users",
    "events_attribution_multitouch",
    "events_sax_similarity",
    "cohort_ltv",
    # mega order (lineitem.l_orderkey self-joins) — every consumer of the
    # shared capped basket builder (VERDICT r7 item 1):
    "graph_triangle_count",
    "graph_label_propagation",
    "graph_kcore",
    "graph_modularity",
    "graph_degree_powerlaw",
    "graph_jaccard_neighbors",
    "basket_part_pairs_lift",
    "lineitem_sequence_audit",
    # giant duplicate cluster (documents.text):
    "dedup_exact",
    "dedup_cluster_sizes",
    "dedup_minhash_lsh",
    "dedup_connected_components",
    "pipeline_corpus_build",
    # control: scan-bound queries that should track row growth only
    "q01_pricing_summary",
    "text_token_stats",
]


_SF1_UNIFORM = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(REPO, "localdata", "sf1"))
_SF1_SKEWED = os.environ.get(
    "SPARK_GRAFT_SF1SKEW_DIR", os.path.join(REPO, "localdata", "sf1skew")
)

# ---------------------------------------------------------------------------
# Pairgen-radar gate (VERDICT r8 item 5): the radar MEASURES C(n,2) pair
# mass per self-join key space; this makes it bite. Every radar source
# whose keys_over_cap > 0 at a probed scale must be ACKNOWLEDGED below —
# either by the implemented valve that truncates it or by an explicit
# no-valve-by-design rationale. A hot pair space with NO entry here means
# someone added a pair generator (or a fixture pathology) without a
# valve decision, and the probe exits non-zero instead of letting SKEW.md
# silently read as "covered".
# ---------------------------------------------------------------------------
RADAR_ACK = {
    "lineitem.l_orderkey basket": (
        "valved: capped_basket_items BASKET_CAP=512 (baskets.py), "
        "truncation observable via Observation counters"
    ),
    "events clicks per (user_id, day)": (
        "valved: _ATTR_DAY_CLICK_CAP=32 most-recent clicks per (user, day) "
        "(plans/events.py), mirrored in the oracle"
    ),
    "documents dup-cluster (what-if)": (
        "no valve BY DESIGN: pair-listing queries are debugging views whose "
        "output is inherently C(c,2); cluster-form queries "
        "(dedup_connected_components / dedup_cluster_sizes) are the scale "
        "representation — see QUERIES.md"
    ),
}


def radar_violations(rows, ack=None) -> list[str]:
    """Sources whose pair space crossed its cap WITHOUT an acknowledged
    valve note. ``rows`` are radar result rows (source / cap / max_n /
    keys_over_cap attrs or mapping). Pure, for tests."""
    ack = RADAR_ACK if ack is None else ack
    bad = []
    for r in rows:
        get = r.get if hasattr(r, "get") else lambda k, _r=r: getattr(_r, k)
        if get("keys_over_cap") and get("source") not in ack:
            bad.append(
                f"{get('source')}: {get('keys_over_cap')} keys over "
                f"cap={get('cap')} (max_n={get('max_n')}) with NO valve "
                "acknowledgment in tools/skew_probe.py RADAR_ACK"
            )
    return bad

# sf1 composition leg (VERDICT r7 item 6): the hot-key question only
# bites where C(n,2) dominates, which 17 MB cannot show — probe the
# capped basket family, the r8 attribution valve, and the r7 ladder
# families one decade up, against `make_sf1.py --skew` (12,000-part mega
# order = 23x BASKET_CAP; bot user at 10x absolute volume). Pair-OUTPUT
# dedup queries are deliberately absent: their output is inherently
# C(c,2) in a true dup cluster (see NOTES) — the sf0.1 leg already
# carries that verdict and the cluster-form queries represent them here.
SF1_PROBE = [
    "graph_triangle_count",
    "graph_label_propagation",
    "graph_kcore",
    "graph_modularity",
    "graph_degree_powerlaw",
    "graph_jaccard_neighbors",
    "basket_part_pairs_lift",
    "events_attribution_multitouch",
    "events_sax_similarity",
    "dedup_semantic_clustered",
    "dedup_embedding_cosine",
    "dedup_connected_components",
]


def _measure(spark, qs, names, uniform_dir, skewed_dir, reps=2):
    # Per-fixture warmup (untimed): the first query against a cold fixture
    # pays parquet footer reads, page-cache faults and JIT, and can
    # measure 2-3x itself (the r8 sf1 leg published graph_kcore at 1.68
    # when a warm best-of-3 gave 0.94) — same reason bench.py warms up
    # before its suite. One full count per table touches every footer and
    # page of both fixtures.
    import glob as _glob

    for d in (uniform_dir, skewed_dir):
        for p in sorted(_glob.glob(os.path.join(d, "*.parquet"))):
            spark.read.parquet(p).count()
    rows = []
    for name in names:
        fn = qs[name]
        times = {}
        for label, d in (("uniform", uniform_dir), ("skewed", skewed_dir)):
            best = None
            for _ in range(reps):
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
                t0 = time.time()
                fn(spark, d).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            times[label] = best
        ratio = times["skewed"] / times["uniform"]
        rows.append((name, times["uniform"], times["skewed"], ratio))
        print(f"{name:34s} uniform {times['uniform']:6.2f}s"
              f"  skewed {times['skewed']:6.2f}s  ratio {ratio:5.2f}")
    rows.sort(key=lambda r: -r[3])
    return rows


def main() -> None:
    import __spark_entry__ as entrymod
    from log_agent_spark.session import get_spark

    if not os.path.isfile(os.path.join(SKEWED, "_COMPLETE.json")):
        sys.exit(
            f"skew fixture at {SKEWED} missing/incomplete — generate with"
            " `python tools/make_skew.py`"
        )
    qs = entrymod.queries()
    args = [a for a in sys.argv[1:] if a != "--no-sf1"]
    no_sf1 = "--no-sf1" in sys.argv[1:]
    names = args or list(PROBE)
    # loud on unknowns (CLI typo or a PROBE entry drifting after a query
    # rename) — a silently dropped pathology reads as "covered" in SKEW.md
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown} (not in queries())")
    spark = get_spark("skew-probe")
    rows = _measure(spark, qs, names, UNIFORM, SKEWED)

    # A subset run is a spot-check: print, never rewrite the committed
    # artifact with partial coverage (the oracle_check vacuous-pass class)
    if args:
        print(f"subset run ({len(rows)} queries) — SKEW.md NOT rewritten")
        return

    # pairgen-radar gate: measure every self-join pair space against its
    # valve's cap ON THE SKEWED FIXTURE(S); any over-cap source must be
    # acknowledged in RADAR_ACK or the probe fails loudly (VERDICT r8
    # item 5 — the radar's output gates, it is no longer advisory)
    radar_fn = qs["skew_pairgen_radar"]
    radar_report: list[tuple[str, list]] = [
        ("skew01", radar_fn(spark, SKEWED).collect())
    ]

    sf1_rows = None
    sf1_ready = all(
        os.path.isfile(os.path.join(d, "_COMPLETE.json"))
        for d in (_SF1_UNIFORM, _SF1_SKEWED)
    )
    if sf1_ready and not no_sf1:
        print("\n-- sf1 composition leg (sf1 vs sf1skew) --")
        # best-of-3: the array-heavy sf1 graph queries show documented
        # 2-3x GC-driven run-to-run swings (graph.py int32 note; one r8
        # pass published triangle's sf1 uniform at 47s when min-of-3
        # windows give ~13s) — two attempts are not enough here
        sf1_rows = _measure(
            spark, qs, SF1_PROBE, _SF1_UNIFORM, _SF1_SKEWED, reps=3
        )
        radar_report.append(("sf1skew", radar_fn(spark, _SF1_SKEWED).collect()))
    elif not no_sf1:
        print(
            "sf1/sf1skew fixtures missing — skipping the sf1 leg "
            "(generate with tools/make_sf1.py and tools/make_sf1.py --skew); "
            "SKEW.md will carry the sf0.1 table only"
        )

    lines = [
        "# SKEW — hot-key robustness (planted-skew sf0.1 vs uniform, local[32], best-of-2)",
        "",
        "Fixture (`tools/make_skew.py`): a bot user holding ~20% of events,",
        "a 1,200-item mega order, and an 800-copy duplicate document",
        "cluster planted into copies of sf0.1 (~1.2x rows overall).",
        "`ratio` = skewed / uniform wall time; a ratio far above the row",
        "growth means a per-key hotspot. Notes column records the verdict",
        "per pathology — see SCALE.md for the mitigation design notes.",
        "",
        "| query | uniform s | skewed s | ratio | notes |",
        "|---|---|---|---|---|",
    ]
    for name, tu, ts, r in rows:
        lines.append(
            f"| `{name}` | {tu:.2f} | {ts:.2f} | {r:.2f} |"
            f" {NOTES.get(name, '')} |"
        )
    if sf1_rows is not None:
        lines += [
            "",
            "## sf1 composition leg (planted-skew sf1 vs uniform sf1, best-of-3)",
            "",
            "Fixture (`tools/make_sf1.py --skew`): the same pathologies one",
            "decade up — 12,000-part mega order (23x BASKET_CAP: the hub",
            "valve must absorb ~72M potential edges down to ~131k), bot",
            "user at 10x absolute event volume, dup cluster held at 800",
            "(pair-output queries are inherently C(c,2) in a dup cluster;",
            "cluster-form queries represent them here). Probes the capped",
            "basket family, the r8 attribution valve, and the r7 ladder",
            "families where C(n,2) actually dominates.",
            "",
            "| query | sf1 uniform s | sf1 skewed s | ratio | notes |",
            "|---|---|---|---|---|",
        ]
        for name, tu, ts, r in sf1_rows:
            lines.append(
                f"| `{name}` | {tu:.2f} | {ts:.2f} | {r:.2f} |"
                f" {NOTES.get(name, '')} |"
            )
    violations: list[str] = []
    lines += [
        "",
        "## Pairgen radar (C(n,2) pair mass vs each valve's cap, on the skewed fixtures)",
        "",
        "Gate: any source with `keys_over_cap > 0` must be acknowledged in",
        "`tools/skew_probe.py RADAR_ACK` (the valve that truncates it, or a",
        "no-valve-by-design rationale) — an unacknowledged hot pair space",
        "fails this probe (exit 1).",
        "",
        "| fixture | source | cap | max_n | keys>cap | pair mass | capped mass | valve |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for fixture, radar_rows in radar_report:
        violations += [f"[{fixture}] {v}" for v in radar_violations(radar_rows)]
        for r in radar_rows:
            ack = RADAR_ACK.get(r.source, "**UNACKNOWLEDGED**")
            lines.append(
                f"| {fixture} | {r.source} | {r.cap} | {r.max_n} |"
                f" {r.keys_over_cap} | {r.pair_mass} | {r.capped_pair_mass} |"
                f" {ack} |"
            )
    with open(os.path.join(REPO, "SKEW.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    n_total = len(rows) + (len(sf1_rows) if sf1_rows else 0)
    print(f"wrote SKEW.md ({n_total} measurements)")
    if violations:
        sys.exit(
            "pairgen radar gate FAILED — hot pair space(s) without a valve"
            " acknowledgment:\n  " + "\n  ".join(violations)
        )


if __name__ == "__main__":
    main()
