"""Every query that pins executor storage must release it on its own path.

VERDICT r3 "What's wrong" #1: 16 persist()/cache() calls vs 2 unpersists
repo-wide — masked by the harnesses' clearCache(), but a real long-lived
session composing these operators would leak storage blocks until eviction
pressure degrades unrelated queries. The fix is ``scratch.pinned_query``:
bodies pin through ``pin``/``pin_checkpoint`` (explicit handles — a
context-global id diff would sweep up concurrent streaming pins), the
wrapper materializes the bounded result to scratch parquet while the
caches are hot, releases exactly the recorded handles, returns a readback.

These tests run the pinning queries back-to-back WITHOUT any clearCache
and assert no NEW persistent RDDs survive each collect. The assertion is a
delta, not a global zero: the session-scoped Spark fixture is shared with
earlier test modules whose direct helper calls (connected_components etc.)
legitimately leave caller-owned pins.
"""

from __future__ import annotations

import pytest

from log_agent_spark.scratch import _persistent_ids

PINNING_QUERIES = [
    # graph family (persist + localCheckpoint pins)
    "graph_pagerank",
    "graph_modularity",
    "graph_label_propagation",
    "graph_kcore",
    "graph_bfs_hops",
    "dedup_connected_components",
    "graph_cc_incremental",
    # dedup/similarity pins outside the graph family
    "dedup_bloom_prefilter",
    "dedup_canonical_corpus",
    "embeddings_power_iteration",
]


@pytest.mark.parametrize("name", PINNING_QUERIES)
def test_query_releases_all_pinned_storage(spark, sf_dir, name):
    import __spark_entry__ as entry

    before = _persistent_ids(spark)
    df = entry.queries()[name](spark, sf_dir)
    assert df.count() >= 0  # consume the result like the driver does
    leaked = _persistent_ids(spark) - before
    assert not leaked, (
        f"{name} leaked persistent RDDs past its own collect: {leaked}"
    )


def test_back_to_back_graph_queries_leave_no_blocks(spark, sf_dir):
    """Two heavy graph queries composed in one session (the composition the
    harness clearCache used to mask) — nothing new pinned after each."""
    import __spark_entry__ as entry

    qs = entry.queries()
    before = _persistent_ids(spark)
    for name in ("graph_modularity", "graph_pagerank"):
        qs[name](spark, sf_dir).collect()
        leaked = _persistent_ids(spark) - before
        assert not leaked, f"{name} leaked: {leaked}"


def test_direct_connected_components_leaves_only_its_result_pinned(
    spark, monkeypatch
):
    """A library call outside pinned_query releases the canonical edge list
    and every superseded round's checkpoint, on both paths (union-find, and
    the star loop forced by a 0 edge bound); the checkpoint behind the
    returned labels is the only new pin, and the caller owns it."""
    from log_agent_spark.operators import graph

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (6, 7)], "src long, dst long"
    )
    for bound in (graph._UNION_FIND_MAX_EDGES, 0):
        monkeypatch.setattr(graph, "_UNION_FIND_MAX_EDGES", bound)
        before = _persistent_ids(spark)
        labels = graph.connected_components(nodes, edges)
        got = {r["node"]: r["comp"] for r in labels.collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 6, 7: 6}
        new = _persistent_ids(spark) - before
        assert len(new) == 1, f"edge bound {bound}: new pins {new}"


def test_no_raw_pins_in_query_modules():
    """Enforcement for the handle-based release design: a raw .persist()/
    .cache()/.localCheckpoint() inside a query module would compile, run
    and silently leak past pinned_query (which releases only recorded
    handles) — bodies must pin through .transform(pin) /
    .transform(pin_checkpoint). Streaming/sink modules pair their own
    persist/unpersist in try/finally and are out of scope."""
    import glob
    import os
    import re

    root = os.path.join(os.path.dirname(__file__), "..", "log_agent_spark")
    offenders = []
    for sub in ("operators", "plans"):
        for path in glob.glob(os.path.join(root, sub, "*.py")):
            for i, line in enumerate(open(path), 1):
                if re.search(r"\.(persist|cache|localCheckpoint)\(", line):
                    offenders.append(f"{os.path.basename(path)}:{i}: {line.strip()}")
    assert not offenders, (
        "raw pin calls in query modules (use .transform(pin) / "
        f".transform(pin_checkpoint)): {offenders}"
    )
