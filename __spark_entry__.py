"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` aggregates the engine's operator inventory (SURVEY.md §2);
each entry has a matching ANSI-SQL oracle in ``oracle_sql()`` unless the
operator is genuinely non-SQL-expressible (zip explode, gzip, envelope
bytes) — those run against frozen golden parquet or as rows-only checks
and carry byte-level goldens in tests/ instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from log_agent_spark.operators import (
    curation,
    decontaminate,
    dedup,
    governance,
    graph,
    linkage,
    multimodal,
    rollup,
    similarity,
    skew,
    temporal,
    text,
    timeseries,
)
from log_agent_spark.plans import (
    agentdemo,
    analytics,
    complex_types,
    events,
    relational,
    sampling,
    tpch_extra,
    tpch_partsupp,
)

_MODULES = [
    dedup, similarity, multimodal, text, decontaminate, curation, graph,
    timeseries, events, sampling, temporal, skew, rollup, analytics,
    complex_types, agentdemo, tpch_extra, tpch_partsupp, relational,
    governance, linkage,
]

# The driver's correctness gate checks only the FIRST ~50 queries() entries
# in iteration order, so the window below is rotated each round until every
# family has driver-level hard signal (COVERAGE.json tracks the cumulative
# map; rounds 1-6 verified all 250 distinct queries at least once).
# Round-10 window, per VERDICT r9's orders (items 1/2):
#  - the canary (q01),
#  - the 12 forced-broadcast-sweep queries (VERDICT r9 items 1+2): the 11
#    TPC-H part/supplier dim hints dropped (FORCED_BROADCAST_ALLOWLIST in
#    tests/test_plan_lint.py is now EMPTY) plus dedup_incremental's
#    prior-corpus broadcast behind a bcast.maybe_broadcast count guard.
#    Hint removal / guarding never changes values, but the bodies changed
#    so they get driver re-proof (AQE fixture-scale BHJ pinned by
#    tests/test_broadcast_hint_sweep.py),
#  - six perf bodies landed late in r10 (the five measured serial-scan
#    rebalances text_repetition_gates / text_decontaminate /
#    text_contamination_spans / dedup_repeated_spans /
#    dedup_minhash_estimate, plus pipeline_corpus_funnel for the
#    corpus_stage_flags shared-exchange fix — its other consumer
#    pipeline_corpus_build is already in the singles fill below); body
#    changes get driver re-proof in this window, displacing the last six
#    singles back into the r11 backlog,
#  - oldest-first second-signal fill (77 singles after r9, VERDICT r9
#    item 3): the two r3 singles deferred at r9 (text_ngram_novelty,
#    window_range_frame) and the first 29 r4 singles; the rest rotate in
#    from r11 (the six perf slots above displaced the r4 tail
#    unpivot_measures + winsorized_stats and the r5 head:
#    al_margin_sample, ann_ndcg_report, debounce_keep_last,
#    dedup_cluster_sizes).
# Round-11 window: the r10 window with its first nine forced-broadcast-sweep
# entries (q02, q07, q08, q09, q11, q14, q16, q17, q19 — driver-proven in
# both CORRECTNESS_r10 and CORRECTNESS_r11) displaced by the nine query
# bodies round 11 changed, which the r10 window never covered.
# Then the four agent-demo queries over the shared logfile projection
# (plans/ingest.logfile_rows) took the last four singles' slots
# (sample_temperature_mixture, sql_interface, time_weighted_avg,
# training_manifest), which go back to the backlog.
_R11_WINDOW = [
    # canary
    "q01_pricing_summary",
    # body-changed: ingest_tree now runs file_meta + logfile_rows, and the
    # Kafka envelope's payload struct builds from the Connect field types
    "ingest_logfile_tree",
    "ingest_text_files",
    "kafka_envelope",
    "kafka_wire_roundtrip",
    # r11 body-changed: graph iteration fusions/pins, ER pair frame,
    # pHash replace() (ROADMAP "Recent"; none was in the r10 window)
    "er_golden_record",
    "er_match_pairs",
    "dedup_canonical_corpus",
    "dedup_connected_components",
    "graph_cc_incremental",
    "graph_bfs_hops",
    "graph_kcore",
    "media_phash_neardup",
    "media_features",
    # r10 body-changed: forced-broadcast sweep (VERDICT r9 items 1+2) —
    # the remaining three; the other nine had driver proof in r10 and r11
    "q20_promotion_suppliers",
    "q21_waiting_suppliers",
    "dedup_incremental",
    # r10 body-changed: serial-scan rebalances (measured wins; see the
    # per-body comments and SHUFFLES.md adjudication)
    "text_repetition_gates",
    "text_decontaminate",
    "text_contamination_spans",
    "dedup_repeated_spans",
    "dedup_minhash_estimate",
    # r10 body-changed: corpus_stage_flags shared-exchange fix (its other
    # consumer, pipeline_corpus_build, is already in the singles fill)
    "pipeline_corpus_funnel",
    # oldest single-signal queries: the two r3 leftovers, then r4
    # alphabetical, then r5 alphabetical
    "text_ngram_novelty",
    "window_range_frame",
    "ann_ivf_health",
    "ann_ivf_multiprobe",
    "ann_nprobe_recall",
    "anomaly_zscore",
    "corpus_datasheet",
    "curriculum_quality_bins",
    "decontam_ngram_sweep",
    "dedup_savings",
    "embedding_dim_audit",
    "epoch_projections",
    "events_ewma_daily",
    "events_gaps_islands",
    "events_json_extract",
    "events_variant_extract",
    "gapfill_locf",
    "histogram_totalprice",
    "mixture_doremi_step",
    "pareto_revenue_concentration",
    "part_supplier_hhi",
    "pipeline_corpus_build",
    "sample_bootstrap_ci",
    "sample_hash_split",
    "sample_importance_weighted",
    "sample_source_mixture",
    "sample_stratified_cap",
]

# Stable alias for tools (tools/make_coverage.py): the per-round list above
# is renamed each rotation; this name is not.
DRIVER_WINDOW = _R11_WINDOW


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q3 shipping priority
    (3-way join + agg + deterministic top-k)."""
    return relational.q03_shipping_priority(spark, "/root/testdata/sf0.001")


def _ordered(full: dict) -> dict:
    """Window names first (in window order), then the rest in module order."""
    missing = [name for name in DRIVER_WINDOW if name not in full]
    if missing:
        # a typo in the window list must fail loudly, not silently shrink
        # the driver's 50-slot verification window (and must survive -O,
        # so no assert)
        raise ValueError(f"window names not in queries(): {missing}")
    out = {name: full[name] for name in DRIVER_WINDOW}
    out.update((k, v) for k, v in full.items() if k not in out)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    full: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        full.update(mod.QUERIES)
    return _ordered(full)


def oracle_sql() -> dict[str, str]:
    full: dict[str, str] = {}
    for mod in _MODULES:
        full.update(mod.ORACLES)
    return _ordered(full)
