"""Empirical scaling curves: run queries at sf0.001 / 0.01 / 0.1 and fit
the log-log slope of warm runtime vs scale factor.

The point: SCALE.md argues every plan is linear-ish in input (modulo fixed
overheads); this measures it. A slope near 1.0 means doubling the data
doubles the time (scan-bound — what a shuffle-light plan should show);
well below 1.0 means fixed overhead still dominates at sf0.1 (the query is
too small to stress the engine); well ABOVE ~1.2 is the red flag — some
stage is super-linear (all-pairs, unpartitioned sort, lineage blowup) and
would fall over at 100 TB.

Usage::

    python tools/scale_probe.py [query ...]      # default: the heavy set
    python tools/scale_probe.py --all            # every bench HEADLINE query
    python tools/scale_probe.py --all --sf1      # + the self-synthesized
        # sf~1 decade (tools/make_sf1.py) on the SF1_TOP_N (40) most
        # expensive queries

Writes SCALING.md (table sorted by slope, descending).
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SFS = [("0.001", 0.001), ("0.01", 0.01), ("0.1", 0.1)]

# The sf~1 decade is NOT a driver fixture: it is synthesized once, locally,
# by tools/make_sf1.py (seeded key-shifted union of 10 sf0.1 replicas) into
# a gitignored dir. At 17 MB the driver fixtures leave fixed overhead
# dominant (slopes 0.2-0.5 mostly measure constant-cost amortization,
# VERDICT r6); the extra decade is where data-bound behavior starts to show.
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(REPO, "localdata", "sf1"))
SF1_TOP_N = 40  # probe sf1 on the N most expensive queries (by sf0.1 time)

# Default probe set: every query >= ~1.5s in BENCH_DETAIL plus the newest
# operators — the ones whose scaling behavior matters most.
HEAVY = [
    "graph_triangle_count",
    "graph_bfs_hops",
    "graph_pagerank",
    "graph_label_propagation",
    "graph_kcore",
    "dedup_repeated_spans",
    "dedup_minhash_lsh",
    "dedup_connected_components",
    "dedup_semantic_clustered",
    "text_decontaminate",
    "pipeline_corpus_funnel",
    "embeddings_power_iteration",
    "events_quantile_sketch_report",
    "basket_part_pairs_lift",
    "customer_rfm",
    "sample_bootstrap_ci",
    "text_zipf_fit",
    "events_sax_similarity",
    "kafka_wire_roundtrip",
    "ingest_logfile_tree",
    # round-3/4 additions with non-trivial tails (VERDICT r3 stretch item)
    "graph_modularity",
    "graph_degree_powerlaw",
    "dedup_savings",
    "corpus_datasheet",
    "decontam_ngram_sweep",
    "ann_nprobe_recall",
    "pipeline_corpus_build",
    "events_histogram_incremental",
]


def main() -> None:
    import __spark_entry__ as entrymod
    from log_agent_spark.session import get_spark

    args = [a for a in sys.argv[1:]]
    with_sf1 = "--sf1" in args
    args = [a for a in args if a != "--sf1"]
    # the sentinel is written LAST by make_sf1, so its presence proves the
    # fixture is complete — a bare isdir would pass an interrupted build
    # and crash the probe mid-pass on the first missing table
    if with_sf1 and not os.path.isfile(os.path.join(SF1_DIR, "_COMPLETE.json")):
        sys.exit(
            f"--sf1: fixture at {SF1_DIR} missing or incomplete — (re)generate"
            " it with `python tools/make_sf1.py`"
        )
    qs = entrymod.queries()
    if "--all" in args:
        from bench import HEADLINE

        names = [n for n in HEADLINE if n in qs]
    elif args:
        unknown = [a for a in args if a not in qs]
        if unknown:
            sys.exit(f"unknown queries: {unknown} (not in queries())")
        names = args
    else:
        names = [n for n in HEAVY if n in qs]

    spark = get_spark("scale-probe")
    rows = []
    for name in names:
        fn = qs[name]
        times = []
        for label, _sf in SFS:
            sf_dir = f"/root/testdata/sf{label}"
            best = None
            for _ in range(2):
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            times.append(best)
        # least-squares slope of log(time) vs log(sf)
        xs = [math.log(sf) for _, sf in SFS]
        ys = [math.log(t) for t in times]
        mx = sum(xs) / len(xs)
        my = sum(ys) / len(ys)
        slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
            (x - mx) ** 2 for x in xs
        )
        # tail slope over the last decade (sf0.01 → sf0.1) — the sensitive
        # number: asymptotic growth once fixed overhead starts to amortize
        tail = math.log(times[2] / times[1]) / math.log(10.0)
        rows.append([name, times, slope, tail, None, None])
        print(
            f"{name:34s} {times[0]:6.2f} {times[1]:6.2f} {times[2]:6.2f}"
            f"  slope={slope:5.2f} tail={tail:5.2f}"
        )

    if with_sf1:
        # second pass: the SF1_TOP_N most expensive queries (by the sf0.1
        # time just measured) get the extra decade; tail1 = log-log slope
        # over sf0.1 -> sf1, the least-overhead-contaminated number we can
        # produce in this container
        probe = sorted(rows, key=lambda r: -r[1][2])[:SF1_TOP_N]
        for row in probe:
            name = row[0]
            fn = qs[name]
            best = None
            # best-of-3 (not 2) at sf1: allocation-heavy stages (array
            # payload shuffles) show 2-3x GC-driven swings between
            # identical runs in this long-lived JVM (graph_triangle_count
            # measured 14-44s); min-of-3 reaches the floor far more often
            for _ in range(3):
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
                t0 = time.time()
                fn(spark, SF1_DIR).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            row[4] = best
            row[5] = math.log(best / row[1][2]) / math.log(10.0)
            print(f"{name:34s} sf1 {best:6.2f}  tail1={row[5]:5.2f}")

    rows.sort(key=lambda r: -r[3])
    lines = [
        "# SCALING — measured runtime vs scale factor (local[32], warm;"
        " best-of-2 at sf0.001-0.1, best-of-3 at sf1)",
        "",
        "log-log slope of runtime vs sf over sf0.001/0.01/0.1. ~1.0 = scan-bound",
        "linear (the target); << 1.0 = fixed overhead dominates at this scale",
        "(the query hasn't hit its data-bound regime yet); >~1.2 = super-linear,",
        "investigate before 100 TB. Generated by `python tools/scale_probe.py`.",
        "",
        "The sf1 columns (when present) come from the self-synthesized 10x",
        "fixture (`tools/make_sf1.py`, key-shifted sf0.1 union — not a driver",
        "fixture) probed on the most expensive queries via `--sf1`; tail",
        "(0.1→1) is the log-log slope over that final decade, the least",
        "overhead-contaminated scaling number measurable in this container.",
        "",
        "| query | sf0.001 s | sf0.01 s | sf0.1 s | slope | tail slope (0.01→0.1) | sf1 s | tail slope (0.1→1) |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, times, slope, tail, t1, tail1 in rows:
        sf1_cells = (
            f" {t1:.2f} | {tail1:.2f} |" if t1 is not None else "  |  |"
        )
        lines.append(
            f"| `{name}` | {times[0]:.2f} | {times[1]:.2f} | {times[2]:.2f}"
            f" | {slope:.2f} | {tail:.2f} |" + sf1_cells
        )
    with open(os.path.join(REPO, "SCALING.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote SCALING.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
