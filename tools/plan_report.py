"""Dump explain('formatted') for a representative query per operator family
into PLANS.md — the evidence behind SCALE.md's plan-shape claims (pushdown,
pruned ReadSchema, WholeStageCodegen spans, broadcast vs shuffle joins,
ReusedExchange). Regenerate after plan-affecting changes:

    python tools/plan_report.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.01"

# family → query whose plan best shows the property SCALE.md claims for it
REPRESENTATIVES = [
    ("TPC-H agg (pushdown + partial agg)", "q01_pricing_summary"),
    ("Dim-fact joins (broadcast + one fact shuffle)", "q05_local_supplier_volume"),
    ("Correlated EXISTS rewrite (window, one shuffle)", "q21_waiting_suppliers"),
    ("Window top-k (TakeOrderedAndProject)", "q03_shipping_priority"),
    ("MinHash LSH (ReusedExchange on the signature pipeline)", "dedup_minhash_lsh"),
    ("Zero-shuffle text metrics (pure codegen map)", "text_repetition_metrics"),
    ("ANN brute force (broadcast queries, parallel scan)", "ann_cosine_topk"),
    ("Ingest (one MapInPandas + one ArrowEvalPython; the only Exchange is the demo's presentation ORDER BY)", "ingest_logfile_tree"),
    ("BM25 search (array-expression tf, one-row stats broadcast, heap top-k)", "text_bm25_search"),
    ("Z-order clustering (integer-only map, single agg shuffle)", "layout_zorder_stats"),
    ("Incremental LSH (new-batch bands broadcast onto the index)", "dedup_minhash_incremental"),
    ("Distributed global rank (range-partitioned sort + P-row offsets, no data-scaled SinglePartition window; same shape drives customer_rfm's exact ntiles and pareto's running sum)", "text_zipf_fit"),
    ("Distributed top-k (TakeOrderedAndProject, map-side partial top-k)", "sample_weighted_reservoir"),
    ("Perplexity gate (broadcast LM tables, tiny tercile broadcast back — no data-scaled window)", "text_perplexity_filter"),
    ("Avro OCF round trip (Python DataSource scan, one task per part file)", "ingest_avro_roundtrip"),
    ("Split-leakage audit (split = pure hash of id: no join beyond the LSH candidate join)", "dedup_split_leakage"),
    ("IVF multi-probe (broadcast centroid assignment, per-query k-row probe window, cell equi-join)", "ann_ivf_multiprobe"),
    ("Curation build (single flags lineage; exact-dedup survivors pass one shared repartition the four heavy legs ReusedExchange; map-side split)", "pipeline_corpus_build"),
    ("Distributed exact NTILE (range repartition + P-row offset table; no SinglePartition sort)", "curriculum_quality_bins"),
    ("PMI collocations (two keyed counts with partial agg, broadcast unigram model, TakeOrdered top-k)", "text_pmi_top_pairs"),
    # round-6-touched families (VERDICT r6 stretch 7): the plan evidence
    # should track the code that actually changed
    ("l-diversity (single QI-grouped agg, broadcast k-anon threshold; non-degenerate sensitive attribute since r6)", "privacy_ldiversity"),
    ("ER blocking plan (per-block counts + arithmetic pair estimate — the quadratic candidate space is COMPUTED, never materialized)", "er_blocking_plan"),
    ("k-means step (broadcast centroids, one assignment pass + one keyed agg; exact-DECIMAL centroid math)", "ann_kmeans_step"),
    # round-7-touched families: the adaptive-granularity ladders (floor
    # rung shown — the driver-checked shape; upper rungs change only the
    # bucket width / word length constants in the same plan)
    ("SAX similarity (word-bucket candidate equi-join; word length scales with the user count — floor shape shown)", "events_sax_similarity"),
    ("pHash near-dup (banded LSH on an adaptive-width average-hash; bit_count(xor) exact filter within bands)", "media_phash_neardup"),
    ("Cosine near-dup (sign-bucket self-join; bucket width scales with corpus, hamming-1 multiprobe above the floor)", "dedup_embedding_cosine"),
    ("Triangle count (oriented adjacency-array intersect; endpoint width picked by max-key precheck)", "graph_triangle_count"),
    # round-8-touched families: the shared basket hub valve and the
    # attribution click cap — the evidence is the row_number cap feeding
    # the self-join from its own exchange (no extra shuffle) plus the
    # in-plan CollectMetrics truncation counter
    ("Shared capped co-purchase edge builder (cap window exchange feeds the pair self-join; CollectMetrics truncation counter in-plan)", "graph_label_propagation"),
    ("Basket lift (capped pair join; marginal joins left to the planner/AQE — broadcast at this SF by size, shuffle at 100x the part dim)", "basket_part_pairs_lift"),
    ("Multitouch attribution (per-(user, day) recency cap ahead of the banded user join — the hot-user valve)", "events_attribution_multitouch"),
    # round-9-touched family: the forced-broadcast sweep — the compiled
    # plan must carry NO broadcast hint on a growing build side (the
    # static explain shows the unhinted join under AdaptiveSparkPlan;
    # tests/test_broadcast_hint_sweep.py pins that AQE's FINAL plan still
    # converts to BroadcastHashJoin at fixture scale)
    ("Retention cohort (per-user first-seen join UNHINTED — AQE picks broadcast at this SF, shuffle join at 100x)", "events_retention_cohort"),
    ("Supplier lead time (supplier dim unhinted, nation hint kept — only constant-size tables carry hints)", "supplier_leadtime"),
    # round-10-touched families: the r10 sweep finished the hint policy
    # (part/supplier unhinted in every TPC-H plan) and the flatten class
    # collapsed per-setting union loops into one plan
    ("TPC-H Q9 profit (part + supplier slices UNHINTED after the r10 sweep; nation keeps its constant-size hint)", "q09_product_profit"),
    ("nprobe recall curve (FLATTENED: one max-nprobe probe assignment, settings fanned as a row explode into a single (nprobe, query) top-k window — was a 4-way union of near-identical subplans, 56 -> ~15 static shuffles)", "ann_nprobe_recall"),
    ("n-gram sweep (FLATTENED: settings explode BEFORE the n-gram derivation, one scan+tokenize; rebalance ahead of the fan because fixture files are single row groups)", "decontam_ngram_sweep"),
]


def main() -> None:
    import __spark_entry__ as entrymod
    from log_agent_spark.session import get_spark

    spark = get_spark("plan_report")
    qs = entrymod.queries()

    out = [
        "# PLANS — representative physical plans (sf0.01)",
        "",
        "Generated by `python tools/plan_report.py`; one query per operator",
        "family, chosen to evidence the plan property SCALE.md claims for it.",
        "Look for: `PushedFilters` / narrowed `ReadSchema` on scans,",
        "`WholeStageCodegen` spans, `BroadcastHashJoin` on dims,",
        "`ReusedExchange` where a pipeline feeds a self-join, and the absence",
        "of `Exchange` in map-only plans.",
        "",
    ]
    for title, name in REPRESENTATIVES:
        fn = qs[name]
        # pinned_query-wrapped queries return a readback scan of their
        # materialized result; the plan of record is the BODY's distributed
        # plan (the one the write job executes), reachable via __wrapped__
        fn = getattr(fn, "__wrapped__", fn)
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {title} — `{name}`")
        out.append("")
        out.append("```")
        out.append(buf.getvalue().rstrip())
        out.append("```")
        out.append("")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(REPRESENTATIVES)} plans)")


if __name__ == "__main__":
    main()
