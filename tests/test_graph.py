"""connected_components: known-shape graphs on both of its paths, plus the
other graph operators' invariants."""

import pytest
from pyspark.sql import functions as F

import log_agent_spark.operators.graph as graph_mod
from log_agent_spark.operators.graph import connected_components


def _cc(spark, node_ids, edge_pairs):
    nodes = spark.createDataFrame([(i,) for i in node_ids], "id long")
    edges = spark.createDataFrame(
        [(a, b) for a, b in edge_pairs] or [(None, None)], "src long, dst long"
    ).filter(F.col("src").isNotNull())
    out = connected_components(nodes, edges)
    return {r["node"]: r["comp"] for r in out.collect()}


def test_chain_and_singleton(spark):
    # chain 1-2-3-4-5 (diameter 4 > 1 round), pair 10-11, singleton 20
    got = _cc(
        spark,
        [1, 2, 3, 4, 5, 10, 11, 20],
        [(1, 2), (2, 3), (3, 4), (4, 5), (11, 10)],
    )
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20}


def test_cycle_merges_to_min(spark):
    got = _cc(spark, [7, 8, 9], [(7, 8), (8, 9), (9, 7)])
    assert got == {7: 7, 8: 7, 9: 7}


def test_no_edges_identity(spark):
    got = _cc(spark, [3, 1, 2], [])
    assert got == {1: 1, 2: 2, 3: 3}


# ---------------------------------------------------------------------------
# Both connected_components paths vs ground truth (a Python union-find) on
# adversarial shapes. The star loop is forced by dropping the union-find
# edge bound to 0.
# ---------------------------------------------------------------------------
def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min node id of each component
    return {i: find(i) for i in range(n_nodes)}


@pytest.fixture
def star_loop(monkeypatch):
    """Send every connected_components call down the star loop."""
    monkeypatch.setattr(graph_mod, "_UNION_FIND_MAX_EDGES", 0)


@pytest.fixture(params=["union_find", "star_loop"])
def cc_path(request, monkeypatch):
    if request.param == "star_loop":
        monkeypatch.setattr(graph_mod, "_UNION_FIND_MAX_EDGES", 0)
    return request.param


# ids 0..n-1 as bigints, or as zero-padded strings whose order is the ids'
_ID_NAMES = {"bigint": int, "string": "n{:04d}".format}


def _components(spark, n_nodes, edges, id_type="bigint"):
    """{i: comp of node i} from connected_components, comp in the ids' type."""
    name = _ID_NAMES[id_type]
    nodes = spark.createDataFrame([(name(i),) for i in range(n_nodes)], f"id {id_type}")
    e = spark.createDataFrame(
        [(name(a), name(b)) for a, b in edges] or [(name(0), name(0))],
        f"src {id_type}, dst {id_type}",
    )
    if not edges:
        e = e.filter("src != src")  # empty edge set, stable schema
    out = connected_components(nodes, e, id_col="id")
    assert out.schema["comp"].dataType.simpleString() == id_type
    rows = {r.node: r.comp for r in out.collect()}
    return {i: rows[name(i)] for i in range(n_nodes)}


def _random_edges(seed, n, m):
    import random

    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


_CC_CASES = {
    "random": (60, _random_edges(7, 60, 40), "bigint"),
    # two 4-cliques + isolated nodes 8, 9
    "isolated_and_cliques": (
        10,
        [(a, b) for a in range(4) for b in range(a + 1, 4)]
        + [(a, b) for a in range(4, 8) for b in range(a + 1, 8)],
        "bigint",
    ),
    "no_edges": (5, [], "bigint"),
    # diameter 299, far past the 25-round budget min-label propagation had
    "chain_300": (300, [(i + 1, i) for i in range(299)], "bigint"),
    "string_ids": (40, _random_edges(3, 40, 30), "string"),
}


@pytest.mark.parametrize("case", sorted(_CC_CASES))
def test_cc_paths_agree_with_union_find(spark, cc_path, case):
    """Fallback equivalence: the one-task union-find path and the star loop
    both give the ground-truth (node, min id) labels, in the ids' type."""
    n, edges, id_type = _CC_CASES[case]
    got = _components(spark, n, edges, id_type)
    want = {i: _ID_NAMES[id_type](c) for i, c in _union_find(n, edges).items()}
    assert got == want


def test_star_cc_on_long_chain(spark, star_loop):
    """A 200-node chain has diameter 199; the star loop must finish well
    inside its 50-round cap."""
    edges = [(i, i + 1) for i in range(199)]
    got = _components(spark, 200, edges)
    assert got == {i: 0 for i in range(200)}


def test_star_cc_raises_when_its_round_budget_runs_out(spark, star_loop):
    """A 64-node chain needs several star rounds; one round must fail
    loudly, not return labels that may be split."""
    nodes = spark.createDataFrame([(i,) for i in range(64)], "id long")
    e = spark.createDataFrame([(i, i + 1) for i in range(63)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, e, id_col="id", max_iter=1)


def test_star_cc_random_graph_matches_union_find(spark, star_loop):
    n = 120
    edges = _random_edges(42, n, 90)
    got = _components(spark, n, edges)
    want = _union_find(n, edges)
    assert got == want


def test_star_cc_isolated_and_cliques(spark, star_loop):
    n, edges, _ = _CC_CASES["isolated_and_cliques"]
    got = _components(spark, n, edges)
    want = {**{i: 0 for i in range(4)}, **{i: 4 for i in range(4, 8)}, 8: 8, 9: 9}
    assert got == want


def test_pagerank_invariants(spark):
    """Probability-mass invariants at sf0.001: every rank positive, the
    total never exceeds 1 (dangling suppliers leak mass, never add it),
    one row per node, and suppliers (in-degree > 0, offset ids) outrank
    the uniform floor (1-d)/N that pure-source customers sit on."""
    from log_agent_spark.operators.graph import (
        _SUPP_OFFSET,
        PAGERANK_D,
        q_pagerank_trade_graph,
    )

    rows = q_pagerank_trade_graph(spark, "/root/testdata/sf0.001").collect()
    total = sum(r["rank"] for r in rows)
    n = len(rows)
    assert 0 < total <= 1.0 + 1e-6, total
    assert all(r["rank"] > 0 for r in rows)
    assert len({r["node"] for r in rows}) == n
    floor = (1.0 - PAGERANK_D) / n
    supp = [r for r in rows if r["node"] >= _SUPP_OFFSET]
    cust = [r for r in rows if r["node"] < _SUPP_OFFSET]
    assert supp and cust
    assert min(s["rank"] for s in supp) > floor
    assert abs(min(c["rank"] for c in cust) - floor) < 1e-9


def test_kcore_peel_invariants(spark):
    """Every round-R survivor carries a qualifying degree >= k and is a
    subset of the round-1 keeps. (The sf0.001 co-purchase graph is dense
    enough that nothing peels at k=3 — the shrink-per-round property is
    exercised at sf0.01 by the oracle: 1880 → 1245 → 1078 → 1019.)"""
    from log_agent_spark.operators.graph import (
        KCORE_K,
        _lpa_edges,
        q_graph_kcore,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    out = q_graph_kcore(spark, sf).collect()
    assert out, "k-core must be non-empty on the fixture"
    assert all(r.deg >= KCORE_K for r in out)
    edges = _lpa_edges(spark, sf)
    deg0 = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .count()
    )
    n0 = deg0.count()
    round1 = {r.node for r in deg0.filter(F.col("count") >= KCORE_K).collect()}
    assert len(out) <= n0
    assert {r.partkey for r in out} <= round1


def test_kcore_random_graphs_match_python_peel(spark):
    """Fixed-round peel on random graphs must match a literal Python
    replay, and with enough rounds it must equal the true k-core
    fixpoint computed by full Batagelj-Zaversnik peeling."""
    import random

    from log_agent_spark.operators.graph import kcore_peel

    def py_peel(edges, k, rounds):
        es = set(edges)
        keep = {}
        for _ in range(rounds):
            deg = {}
            for u, v in es:
                deg[u] = deg.get(u, 0) + 1
                deg[v] = deg.get(v, 0) + 1
            keep = {n: d for n, d in deg.items() if d >= k}
            es = {(u, v) for u, v in es if u in keep and v in keep}
        return keep

    rng = random.Random(7)
    for trial in range(3):
        n = 30 + 10 * trial
        pairs = {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(n), rng.randrange(n)) for _ in range(2 * n)
            )
            if a != b
        }
        e = spark.createDataFrame(sorted(pairs), "u long, v long")
        for k, rounds in ((2, 3), (3, 2)):
            got = {
                r.node: r.deg for r in kcore_peel(e, k, rounds).collect()
            }
            assert got == py_peel(pairs, k, rounds), (trial, k, rounds)
        # run to the fixpoint: n rounds is always enough
        got_fix = {r.node: r.deg for r in kcore_peel(e, 3, 8).collect()}
        want_fix = py_peel(pairs, 3, n)
        assert got_fix == want_fix, trial


def test_modularity_identities(spark):
    """Q decomposes into per-community contributions; each row carries the
    same q_total; Q is within Newman's bounds [-0.5, 1)."""
    from log_agent_spark.operators.graph import q_graph_modularity

    rows = q_graph_modularity(spark, "/root/testdata/sf0.001").collect()
    assert rows, "no communities"
    q_totals = {r.q_total for r in rows}
    assert len(q_totals) == 1
    q = q_totals.pop()
    assert -0.5 <= q < 1.0, q
    # the global Q equals the sum of per-community contributions (to the
    # rounding grid: each contribution is rounded to 6dp independently)
    s = sum(r.contribution for r in rows)
    assert abs(s - q) <= 1e-6 * len(rows), (s, q)
    # intra-edge count can never exceed what the degree sum allows
    for r in rows:
        assert 2 * r.intra_edges <= r.degree_sum, r


def test_pagerank_closed_form_equals_iterative_loop(spark, monkeypatch):
    """r10: while the cust / supp+offset id spaces are disjoint the trade
    graph is a depth-1 DAG and the unrolled 3-iteration loop has a closed
    form (fixpoint at iteration 2). Force the guard down the general
    iterative path and require value-identical output."""
    from log_agent_spark.operators import graph

    sf = "/root/testdata/sf0.001"
    fast = sorted(
        map(tuple, graph.q_pagerank_trade_graph(spark, sf).collect())
    )
    # a pretend max custkey past the offset forces the iterative fallback
    monkeypatch.setattr(
        "log_agent_spark.sources.tables.footer_column_max",
        lambda *_a, **_k: graph._SUPP_OFFSET + 1,
    )
    slow = sorted(
        map(tuple, graph.q_pagerank_trade_graph(spark, sf).collect())
    )
    assert fast == slow and len(fast) > 0


def test_star_cc_one_materialization_per_round(spark, star_loop, monkeypatch):
    """r11 fusion: each large∘small star round materializes ONCE (one
    pin_checkpoint_observed call per round, plus one for the canonical
    edge list) — the pre-r11 form checkpointed each half-step separately,
    costing an extra |E|-row block write + read + job barrier per round."""
    calls = {"n": 0}
    real = graph_mod.pin_checkpoint_observed

    def counting(df, *metrics):
        calls["n"] += 1
        return real(df, *metrics)

    monkeypatch.setattr(graph_mod, "pin_checkpoint_observed", counting)
    # clique of 6 + chain of 4: converges in k rounds, k >= 1
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (1, 6),
             (10, 11), (11, 12), (12, 13)]
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)] +
                                  [(i,) for i in range(10, 14)], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    out = graph_mod.connected_components(nodes, e, id_col="id")
    got = {r["node"]: r["comp"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
                   10: 10, 11: 10, 12: 10, 13: 10}
    # n_calls = 1 (canonical edges) + rounds; the old two-half-step form
    # gave 1 + 2*rounds.
    n = calls["n"]
    rounds = n - 1
    assert rounds >= 1, f"expected at least 1 round, saw {rounds}"
    # Exact count on a graph whose round count is known: a single edge
    # (1, 2) is already star-shaped, so round 1 reproduces the canonical
    # edge list and the witness converges immediately — 1 (canonical)
    # + 1 (round) = 2 calls fused; the old per-half-step form made
    # 1 + 2 = 3.
    calls["n"] = 0
    tiny_nodes = spark.createDataFrame([(1,), (2,)], "id long")
    tiny_e = spark.createDataFrame([(1, 2)], "src long, dst long")
    graph_mod.connected_components(tiny_nodes, tiny_e, id_col="id").collect()
    assert calls["n"] == 2, f"expected 2 materializations, saw {calls['n']}"


def test_bfs_directional_probes_equal_symmetrized_fallback(spark, monkeypatch):
    """r11: with disjoint id spaces BFS probes the cust->supp / supp->cust
    directions alternately; force the guard down the symmetrized-union
    fallback and require value-identical hop histograms."""
    from log_agent_spark.operators import graph

    sf = "/root/testdata/sf0.001"
    fast = sorted(map(tuple, graph.q_graph_bfs_hops(spark, sf).collect()))
    # a pretend max custkey past the offset forces the und fallback
    monkeypatch.setattr(
        "log_agent_spark.sources.tables.footer_column_max",
        lambda *_a, **_k: graph._SUPP_OFFSET + 1,
    )
    slow = sorted(map(tuple, graph.q_graph_bfs_hops(spark, sf).collect()))
    assert fast == slow and len(fast) > 0


def test_bfs_non_customer_seed_takes_symmetrized_fallback(spark, sf_dir, monkeypatch):
    """The direction alternation starts cust->supp, so it holds only for a
    customer seed: force the observed seed to a supplier node and require
    the same hop histogram as the forced symmetrized-union path (the
    unchecked fast path would find no hop-1 neighbours at all)."""
    from log_agent_spark.operators import graph

    real_observed = graph.pin_checkpoint_observed

    def supplier_seed(df, *metrics):
        out, m = real_observed(df, *metrics)
        if "seed" in m:
            m = {**m, "seed": graph._SUPP_OFFSET + 1}
        return out, m

    monkeypatch.setattr(graph, "pin_checkpoint_observed", supplier_seed)
    checked = sorted(map(tuple, graph.q_graph_bfs_hops(spark, sf_dir).collect()))
    monkeypatch.setattr(
        "log_agent_spark.sources.tables.footer_column_max",
        lambda *_a, **_k: graph._SUPP_OFFSET + 1,
    )
    union = sorted(map(tuple, graph.q_graph_bfs_hops(spark, sf_dir).collect()))
    assert checked == union
    assert [r[0] for r in checked] == list(range(graph.BFS_ITERS + 1))
    assert checked[0][2] == graph._SUPP_OFFSET + 1  # hop 0 is the seed
