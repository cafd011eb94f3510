"""Connected components over a candidate-pair graph — the grouping step a
real dedup pipeline runs AFTER pair generation (operators/dedup.py emits the
pairs; this module resolves them into duplicate clusters and picks the
canonical member = min id).

``connected_components`` is the one CC entry point. It canonicalizes the
edge list once, and the edge count that materialization observes picks the
path: a graph small enough for one task is resolved by union-find there
(one job), a larger one by the large-star/small-star rounds of Kiveris et
al., "Connected Components in MapReduce and Beyond" (SOCC'14) — DataFrame
joins, O(log n) rounds regardless of diameter, each round's edge list
checkpointed so plans don't grow and the driver sees only a (count,
hash-sum) witness per round. Both paths are tested against a Python
union-find on chains, cliques and random graphs. The reference has no
graph op (SURVEY.md §2.7 absent categories); this is a north-star
extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.window import Window as W

from log_agent_spark.baskets import (
    BASKET_CAP as _BASKET_CAP,
    capped_basket_items,
    capped_pp_sql,
)
from log_agent_spark.scratch import (
    pin,
    pin_checkpoint,
    pin_checkpoint_observed,
    pinned_query,
    unpin_checkpoint,
)

from log_agent_spark.sources.tables import load_table


# Canonical edge count at or below which the whole edge list goes to ONE
# task running union-find; above it, the large-star/small-star loop. The
# guard reads the count the canonical checkpoint's witness already
# observes, so it costs no job. Measured on a 4-core host, local[4],
# random graphs with |V| ≈ |E|, union-find path vs forced star loop
# (median wall s; jobs; peak RSS of the union-find task's Python worker):
#   ~10^3 edges:  0.68 vs  5.67 s;  7 vs 55 jobs; 109 MB
#   ~10^4 edges:  0.60 vs  5.15 s;  7 vs 56 jobs; 111 MB
#   ~10^5 edges:  1.20 vs  8.89 s;  7 vs 67 jobs; 134 MB
#   ~10^6 edges:  7.40 vs 36.06 s;  8 vs 61 jobs; 296 MB (3.5 s in the task)
# No crossover up to 10^6 here; the bound stops at the largest measured
# size because the star loop is the path that spreads over executors, so
# a wider cluster moves the crossover down, and ~300 MB is what one
# Python worker comfortably holds.
_UNION_FIND_MAX_EDGES = 1_000_000


def _union_find(batches):
    """``mapInPandas`` body over the canonical ``(u < v)`` edge list in one
    task: emits one star edge ``(u = root, v = node)`` per non-root node,
    root = the component's min id. Ids are factorized in sorted order, so
    the min code is the min id, and any orderable id type round-trips."""
    import numpy as np
    import pandas as pd

    frames = [b for b in batches if len(b)]
    if not frames:
        return
    e = pd.concat(frames, ignore_index=True)
    codes, ids = pd.factorize(pd.concat([e["u"], e["v"]]), sort=True)
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    n = len(e)
    for a, b in zip(codes[:n].tolist(), codes[n:].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.fromiter((find(x) for x in range(len(ids))), np.int64, len(ids))
    members = np.flatnonzero(roots != np.arange(len(ids)))
    yield pd.DataFrame({"u": ids.take(roots[members]), "v": ids.take(members)})


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(node → comp) where comp = the min node id reachable; ``edges`` may
    be directed, and isolated nodes keep themselves as their comp.

    Both paths start from the canonical ``(u < v)`` edge list. A graph of
    at most ``_UNION_FIND_MAX_EDGES`` edges is resolved by union-find in
    one task. A larger one runs the large-star/small-star rounds of
    Kiveris et al., "Connected Components in MapReduce and Beyond"
    (SOCC'14): O(log n) rounds regardless of graph DIAMETER, each round
    two half-steps over the edge list:
    - large-star: every node attaches its strictly-larger neighbors to the
      minimum of its neighborhood (keeps tree height collapsing globally),
    - small-star: every node attaches its smaller-or-equal neighbors and
      itself to that minimum (locally stars the remainder).
    Both are one groupBy + one join — plain shuffles, no driver data; the
    convergence witness is a (count, hash-sum) scalar pair per round.
    ``max_iter`` budgets the rounds; running out raises rather than
    returning labels that may be split.

    Either path ends with star-shaped ``(root, node)`` edges, which a left
    join maps onto ``nodes``. Every superseded checkpoint is released, so
    a direct call outside ``pinned_query`` leaves one pin, the one behind
    the result, owned by the caller (as with Spark's own API).
    """
    # (count, decimal hash-sum) convergence witness, collected in-plan by
    # the SAME job that materializes the round's edge list (r10, guide
    # §2.4 — the separate _edge_checksum agg cost one extra job per round).
    _witness = (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    )

    def _key(m: dict) -> tuple[int, int]:
        return (m["n"] or 0, int(m["h"] or 0))

    e, m0 = pin_checkpoint_observed(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        *_witness,
    )

    def half_step(e: DataFrame, large: bool) -> DataFrame:
        """One star half-step as a PURE plan transform (no materialization)."""
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # m(center) = min(neighborhood ∪ {center})
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        attached = sym.join(m, "u").filter(
            F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
        )
        out = attached.select(
            F.least(F.col("v"), F.col("m")).alias("u"),
            F.greatest(F.col("v"), F.col("m")).alias("v"),
        )
        if not large:
            # small-star also re-links each center to its min
            out = out.unionByName(
                m.select(
                    F.least(F.col("u"), F.col("m")).alias("u"),
                    F.greatest(F.col("u"), F.col("m")).alias("v"),
                )
            )
        return out.filter(F.col("u") != F.col("v")).distinct()

    prev = _key(m0)
    if prev[0] <= _UNION_FIND_MAX_EDGES:  # prev[0]: the canonical edge count
        out = pin_checkpoint(e.coalesce(1).mapInPandas(_union_find, e.schema))
        unpin_checkpoint(e)
        e = out
    else:
        # max_iter budgets CHANGING rounds, and a fixed point is only
        # observable one round later
        for _ in range(max_iter + 1):
            # r11 (guide §2.4/§5): large-star ∘ small-star FUSED into one
            # checkpoint materialization per round. The large-star output's
            # trailing distinct is an identical subtree at every reference
            # inside the small-star plan, so ReuseExchange/AQE stage reuse
            # computes it ONCE within the fused job; the convergence
            # witness is taken from the small-star output only.
            out, mr = pin_checkpoint_observed(
                half_step(half_step(e, large=True), large=False), *_witness
            )
            unpin_checkpoint(e)
            e = out
            cur = _key(mr)
            if cur == prev:
                break
            prev = cur
        else:
            unpin_checkpoint(e)
            # the labels of a component still being collapsed may be split
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )

    membership = e.select(F.col("v").alias("node"), F.col("u").alias("comp"))
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(membership, "node", "left")
        .select("node", F.coalesce("comp", "node").alias("comp"))
    )


# ---------------------------------------------------------------------------
# Query: duplicate clusters from edit-distance candidate pairs (same edge
# definition as plans/analytics.py dedup_levenshtein, so the pair semantics
# are already oracle-verified) resolved to components. Output is per-doc:
# (doc_id, component = min doc_id of its cluster).
# ---------------------------------------------------------------------------
def _dedup_candidate_pairs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(nodes, canonical src<dst edges) of the dup-candidate graph shared
    by q_dedup_connected_components and q_graph_cc_incremental — one
    definition so the two halves of the dup-group pipeline cannot drift."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id", "lang", F.substring("text", 1, 40).alias("prefix"))
    )
    a = d.select(F.col("doc_id").alias("src"), "lang", F.col("prefix").alias("ap"))
    b = d.select(F.col("doc_id").alias("dst"), "lang", F.col("prefix").alias("bp"))
    edges = (
        a.join(b, "lang")
        .filter(F.col("src") < F.col("dst"))
        .filter(F.levenshtein("ap", "bp") <= 24)
        .select("src", "dst")
    )
    return d.select("doc_id"), edges


# shared oracle CTE prefix: the same candidate graph in SQL, used by both
# dup-group oracles below (kept textually single-sourced for the same
# anti-drift reason as _dedup_candidate_pairs)
_DEDUP_GRAPH_SQL = """d AS (
  SELECT doc_id, lang, substring(text, 1, 40) AS prefix
  FROM documents WHERE doc_id < 120
), edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id <> b.doc_id
  WHERE levenshtein(a.prefix, b.prefix) <= 24
)"""


@pinned_query("graph_cc_")
def q_dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, edges = _dedup_candidate_pairs(spark, sf_dir)
    comp = connected_components(nodes, edges, id_col="doc_id")
    return comp.select(F.col("node").alias("doc_id"), F.col("comp").alias("component"))


ORACLE_DEDUP_CONNECTED_COMPONENTS = f"""
WITH RECURSIVE {_DEDUP_GRAPH_SQL}, reach(node, r) AS (
  SELECT doc_id, doc_id FROM d
  UNION
  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
)
SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# Incremental connected-components maintenance (the IVM pattern of
# operators/rollup.py applied to the north-star dup-group resolution): at
# 100 TB you never re-run CC over the full edge history when a batch of
# new near-dup edges lands — the stored (node → component) labels ARE a
# spanning contraction of everything seen so far, so merging the delta is
# CC over (label edges ∪ delta edges), a graph whose size is O(nodes +
# |Δ|) instead of O(all edges ever). Identity: CC(CC(old) ∪ Δ) = CC(old ∪
# Δ) — the proof query computes both paths and publishes the
# component-size histograms side by side with a per-row match flag; a
# regression in either engine's CC or in the contraction shows up as
# match = false rows, not a silently wrong corpus.
#
# The delta split is a deterministic arithmetic predicate on the
# CANONICAL (least, greatest) pair — symmetric under edge direction and
# identical on both engines (no hash functions, no floats anywhere).
# ---------------------------------------------------------------------------
_CC_IVM_DELTA_MOD = 5


@pinned_query("graph_cc_ivm_")
def q_graph_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM maintenance proof for dup-group resolution: merge a delta edge
    batch into the stored CC labels (a spanning contraction) and verify —
    per component size AND per node — that the result equals one-shot CC
    over all edges: CC(CC(old) ∪ Δ) = CC(old ∪ Δ)."""
    nodes, edges = _dedup_candidate_pairs(spark, sf_dir)
    # pin: all three CC runs below read their edge input; without this the
    # quadratic levenshtein pair join would re-execute once per run
    edges = pin(edges)
    is_delta = (F.col("src") * 131 + F.col("dst")) % _CC_IVM_DELTA_MOD == 0
    one_shot = connected_components(nodes, edges, id_col="doc_id")
    labels_old = connected_components(
        nodes, edges.filter(~is_delta), id_col="doc_id"
    )
    # the stored labels as edges: node—comp is a spanning contraction
    label_edges = labels_old.select(
        F.col("node").alias("src"), F.col("comp").alias("dst")
    )
    merged = connected_components(
        nodes, label_edges.unionByName(edges.filter(is_delta)), id_col="doc_id"
    )

    # assignment-exact check, not just the size multiset: a contraction
    # bug that permutes node→component assignments while preserving sizes
    # must surface too
    mismatches = (
        merged.select("node", F.col("comp").alias("mc"))
        .join(one_shot.select("node", F.col("comp").alias("oc")), "node")
        .agg(
            F.sum(F.when(F.col("mc") != F.col("oc"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_label_mismatches")
        )
    )

    def _histogram(labels: DataFrame, col: str) -> DataFrame:
        return (
            labels.groupBy("comp")
            .agg(F.count("*").alias("sz"))
            .groupBy(F.col("sz").cast("bigint").alias("comp_size"))
            .agg(F.count("*").cast("bigint").alias(col))
        )
    hi = _histogram(merged, "n_components_incremental")
    ho = _histogram(one_shot, "n_components_oneshot")
    return (
        hi.join(ho, "comp_size", "full_outer")
        .select(
            "comp_size",
            F.coalesce("n_components_incremental", F.lit(0))
            .cast("bigint")
            .alias("n_components_incremental"),
            F.coalesce("n_components_oneshot", F.lit(0))
            .cast("bigint")
            .alias("n_components_oneshot"),
        )
        .crossJoin(F.broadcast(mismatches))
        .withColumn(
            "match",
            (F.col("n_components_incremental") == F.col("n_components_oneshot"))
            & (F.col("n_label_mismatches") == 0),
        )
    )


ORACLE_GRAPH_CC_INCREMENTAL = f"""
WITH RECURSIVE {_DEDUP_GRAPH_SQL}, old_e AS (
  SELECT * FROM edges
  WHERE (LEAST(src, dst) * 131 + GREATEST(src, dst)) % {_CC_IVM_DELTA_MOD} <> 0
), delta_e AS (
  SELECT * FROM edges
  WHERE (LEAST(src, dst) * 131 + GREATEST(src, dst)) % {_CC_IVM_DELTA_MOD} = 0
), reach_old(node, r) AS (
  SELECT doc_id, doc_id FROM d
  UNION
  SELECT reach_old.node, old_e.dst FROM reach_old JOIN old_e
    ON reach_old.r = old_e.src
), labels_old AS (
  SELECT node, MIN(r) AS comp FROM reach_old GROUP BY node
), merged_e AS (
  SELECT node AS src, comp AS dst FROM labels_old
  UNION
  SELECT comp, node FROM labels_old
  UNION
  SELECT src, dst FROM delta_e
), reach_m(node, r) AS (
  SELECT doc_id, doc_id FROM d
  UNION
  SELECT reach_m.node, merged_e.dst FROM reach_m JOIN merged_e
    ON reach_m.r = merged_e.src
), labels_m AS (
  SELECT node, MIN(r) AS comp FROM reach_m GROUP BY node
), reach_all(node, r) AS (
  SELECT doc_id, doc_id FROM d
  UNION
  SELECT reach_all.node, edges.dst FROM reach_all JOIN edges
    ON reach_all.r = edges.src
), labels_all AS (
  SELECT node, MIN(r) AS comp FROM reach_all GROUP BY node
), hi AS (
  SELECT CAST(sz AS BIGINT) AS comp_size,
         CAST(COUNT(*) AS BIGINT) AS n_components_incremental
  FROM (SELECT comp, COUNT(*) AS sz FROM labels_m GROUP BY comp)
  GROUP BY sz
), ho AS (
  SELECT CAST(sz AS BIGINT) AS comp_size,
         CAST(COUNT(*) AS BIGINT) AS n_components_oneshot
  FROM (SELECT comp, COUNT(*) AS sz FROM labels_all GROUP BY comp)
  GROUP BY sz
), mism AS (
  SELECT CAST(SUM(CASE WHEN m.comp <> a.comp THEN 1 ELSE 0 END) AS BIGINT)
           AS n_label_mismatches
  FROM labels_m m JOIN labels_all a USING (node)
)
SELECT comp_size,
       CAST(COALESCE(n_components_incremental, 0) AS BIGINT)
         AS n_components_incremental,
       CAST(COALESCE(n_components_oneshot, 0) AS BIGINT)
         AS n_components_oneshot,
       n_label_mismatches,
       (COALESCE(n_components_incremental, 0)
          = COALESCE(n_components_oneshot, 0)
        AND n_label_mismatches = 0) AS match
FROM hi FULL OUTER JOIN ho USING (comp_size)
CROSS JOIN mism
"""


# ---------------------------------------------------------------------------
# PageRank (fixed 3 iterations, damping 0.85) over the customer→supplier
# trade graph (distinct (o_custkey, l_suppkey) pairs; supplier ids offset
# so the two key spaces don't collide). The representative *iterative*
# algorithm: each round is one join (edges ⨝ ranks on src, contributions
# r/outdeg) plus one groupBy(dst) shuffle; the rank vector is node-sized
# (≪ edges), so at 100 TB the edges stay hash-partitioned by src across
# rounds while only the small rank table reshuffles — and a production
# variant localCheckpoints every few rounds exactly as
# ``connected_components`` above does. Dangling mass (suppliers, which
# have no out-edges) is dropped identically in both engines. Floats: both
# engines run the same double formula from the same exact-integer degrees;
# iteration noise is ~1e-15 relative, output rounded to 8dp.
# ---------------------------------------------------------------------------
PAGERANK_D = 0.85
PAGERANK_ITERS = 3
_SUPP_OFFSET = 1_000_000


@pinned_query("graph_pagerank_")
def q_pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_agent_spark.sources.tables import footer_column_max

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("dst"),
        )
        .distinct()
    )
    # r10 (guide §2.4): out-degree as a window count over the key the edge
    # list already shuffles on — the groupBy+join-back form re-exchanged
    # the |E|-row edge list a second time (4 exchanges → 3).
    edges_deg = edges.withColumn(
        "deg", F.count("*").over(W.partitionBy("src"))
    ).transform(pin)
    nodes = (
        edges_deg.select(F.col("src").alias("node"))
        .union(edges_deg.select(F.col("dst").alias("node")))
        .distinct()
        .transform(pin)
    )
    n = nodes.count()
    if n == 0:
        # empty trade graph (degenerate input slice): the oracle's CTE chain
        # yields zero rows; 1.0/n below would raise a driver-side
        # ZeroDivisionError instead — return the same empty result.
        return spark.createDataFrame([], "node bigint, rank double")

    # The rank vector and per-iteration contribution table are node-sized.
    # When they fit in memory (n is already on the driver for the teleport
    # term), broadcasting them turns both per-iteration joins map-side —
    # the |E|-row edge table never shuffles, only the groupBy("dst")
    # partial-agg does. Measured 2-4x at sf0.1 (9.4 s → 2-7 s). Web-scale
    # graphs (n beyond the broadcast budget) keep the shuffle joins.
    small = n <= 10_000_000

    def _maybe_bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    # r10 (guide §1.1 first-principles): while the cust and supp+offset id
    # spaces are DISJOINT, every edge points cust→supp, so the graph is a
    # depth-1 DAG and the rank vector reaches its fixpoint at iteration 2:
    # sources (never a dst) hold r_k = t = (1-d)/n exactly from iteration 1
    # on (t + d·0.0 ≡ t in IEEE), hence every later contribution sum is
    # Σ t/deg(u) and r_3 = r_2 = t + d·Σ t/deg(u). The closed form below
    # computes the identical doubles — the per-edge term t/deg(u) and the
    # d·coalesce(s, 0) fold are the same operations the unrolled loop's
    # last iteration performs — replacing 3 chained join+agg+broadcast
    # rounds with ONE. Disjointness is a STRUCTURAL precondition, checked
    # from parquet footer stats (no job): TPC-H custkeys pass _SUPP_OFFSET
    # around sf ≈ 7, and a collided id would be both a source and a sink —
    # there the fixpoint argument fails and the general unrolled loop runs
    # unchanged. (Oracle-equal either way; proven at sf0.01/0.001.)
    max_cust = footer_column_max(sf_dir, "orders", "o_custkey")
    if max_cust is not None and max_cust < _SUPP_OFFSET:
        t = (1.0 - PAGERANK_D) / n
        contribs = (
            edges_deg.select("dst", (F.lit(t) / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        cb = _maybe_bcast(contribs)
        ranks = nodes.join(cb, nodes.node == cb.dst, "left").select(
            "node",
            (F.lit(t) + PAGERANK_D * F.coalesce(F.col("s"), F.lit(0.0))).alias(
                "r"
            ),
        )
        return ranks.select("node", F.round("r", 8).alias("rank"))

    ranks = nodes.select("node", F.lit(1.0 / n).alias("r"))
    for _ in range(PAGERANK_ITERS):
        rk = _maybe_bcast(ranks)
        contribs = (
            edges_deg.join(rk, edges_deg.src == rk.node)
            .select("dst", (F.col("r") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        cb = _maybe_bcast(contribs)
        ranks = (
            nodes.join(cb, nodes.node == cb.dst, "left")
            .select(
                "node",
                (
                    F.lit((1.0 - PAGERANK_D) / n)
                    + PAGERANK_D * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks.select("node", F.round("r", 8).alias("rank"))


def _pagerank_oracle() -> str:
    d = PAGERANK_D
    base = f"""
WITH edges AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey + {_SUPP_OFFSET} AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), outdeg AS (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
), nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), n AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (SELECT node, 1.0 / n AS r FROM nodes CROSS JOIN n)"""
    prev = "r0"
    for i in range(1, PAGERANK_ITERS + 1):
        base += f""",
c{i} AS (
  SELECT e.dst AS node, SUM(p.r / o.deg) AS s
  FROM edges e JOIN {prev} p ON e.src = p.node JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT nodes.node, (1.0 - {d}) / n + {d} * COALESCE(c{i}.s, 0.0) AS r
  FROM nodes CROSS JOIN n LEFT JOIN c{i} ON nodes.node = c{i}.node
)"""
        prev = f"r{i}"
    return base + f"\nSELECT node, ROUND(r, 8) AS rank FROM {prev}"


ORACLE_PAGERANK = _pagerank_oracle()


# ---------------------------------------------------------------------------
# Triangle counting over the part co-purchase graph (parts bought together
# in one order). The customer→supplier trade graph is bipartite (triangle-
# free), so the co-purchase projection is the natural triangle substrate —
# the same graph family the basket-lift query mines for pairs.
#
# Scale shape: degree-ordered orientation (compact-forward / MapReduce
# triangle counting, Suri & Vassilvitskii WWW'11) + adjacency-list
# intersection. Every undirected edge is oriented from its lower-(degree,
# id) endpoint to the higher one, so each node's OUT-degree is bounded by
# O(sqrt(|E|)) — a celebrity part with degree 10^6 contributes nothing
# from its own key; its triangles are charged to its low-degree neighbors.
# Triangles close by joining each oriented edge (u,v) with the out-
# adjacency arrays of BOTH endpoints and exploding their intersection:
# cost is two |E|-row equi-joins plus an O(deg_out) intersect per edge —
# the O(sum deg_out²) wedge set is never materialized or shuffled
# (measured 2.1× faster than the wedge self-join at sf0.1: 11.9 s vs
# 24.8 s — 41 M wedges skipped). Orientation makes the arrays bounded
# (≤ O(sqrt|E|) wide), so collect_list cannot OOM a task. Per-triangle
# output is exploded back to all three corners for per-node counts. The
# oracle enumerates the identical triangle set with plain id-ordering
# (orientation changes the join strategy, not the triangle set).
# ---------------------------------------------------------------------------
# Per-order basket cap for edge generation (hub pruning — see the
# _JACCARD_DEG_CAP precedent): C(cap,2) bounds the edges any one order can
# emit. 512 is ~70x TPC-H's max basket of 7, so it is a pathology valve,
# not a sampling knob, and every driver-checked SF passes untruncated.
# Round 8: the cap lives in log_agent_spark/baskets.py (shared by every
# basket-pair consumer — this module's whole graph family plus
# plans/analytics.py's basket lift) and is MIRRORED in each DuckDB oracle
# via capped_pp_sql(), so the oracles stay exact mirrors past the cap.


def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Endpoints travel as int32 through the array-heavy stages: the
    # adjacency arrays + intersect shuffle is allocation-bound, and
    # halving element width measured 14.2 -> 12.2s min / 34 -> 16s mean
    # at sf1 (the bigint form showed 2-3x GC-driven run-to-run swings).
    # Width is chosen ADAPTIVELY: a one-column max() precheck (narrow
    # parquet scan, trivially parallel, no shuffle — negligible next to
    # the distinct + self-join it precedes) picks int32 when every key
    # fits, bigint otherwise. TPC-H partkeys exceed int32 around
    # sf ≈ 10k, i.e. exactly the 100 TB regime this engine targets, so
    # the narrow path must DOWNGRADE there, not abort. The in-plan
    # when/raise_error guard stays on the int32 path as the correctness
    # backstop (one branch per row, free next to the shuffle win): if
    # the data ever changed between precheck and run, an out-of-range
    # key errors loudly instead of wrapping silently (non-ANSI casts
    # wrap; a standalone assert_true column gets pruned by Catalyst the
    # moment it's dropped — verified). Output partkey is bigint either
    # way, so the schema is width-independent.
    from log_agent_spark.sources.tables import footer_column_max

    lineitem = load_table(spark, sf_dir, "lineitem")
    # r10 (guide §1.2): the width precheck reads parquet row-group max
    # statistics (metadata-only, exact) instead of running a full-column
    # aggregate job; a footer without stats falls back to the scan. The
    # in-plan raise_error backstop below is unchanged either way.
    max_pk = footer_column_max(sf_dir, "lineitem", "l_partkey")
    if max_pk is None:
        max_pk = lineitem.agg(F.max("l_partkey")).first()[0] or 0
    if max_pk < 2_147_483_648:
        pk = F.when(
            F.col("l_partkey") < F.lit(2_147_483_648),
            F.col("l_partkey").cast("int"),
        ).otherwise(
            F.raise_error(
                F.lit("triangle_count int32 fast path: partkey exceeds int32")
            ).cast("int")
        )
    else:
        pk = F.col("l_partkey")
    li = lineitem.select("l_orderkey", pk.alias("pk")).distinct()
    # Basket cap (hub pruning, the _JACCARD_DEG_CAP pattern): a single
    # order with b distinct parts emits C(b,2) edges from ONE join key —
    # a per-key quadratic no partitioning can split (measured 2.24x on
    # the planted 1,200-part mega order, tools/skew_probe.py). The shared
    # builder keeps the _BASKET_CAP lowest partkeys per order — the int32
    # cast is monotone, so ordering by pk selects the same sublist as
    # ordering by l_partkey, i.e. exactly what capped_pp_sql() mirrors.
    li = capped_basket_items(li, "l_orderkey", "pk")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.pk") < F.col("b.pk"))
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
        # NOT persisted although two branches (degree pass, orientation
        # join) consume it: the trailing distinct's Exchange is shared as
        # a ReusedExchange, so both consumers read the same shuffle files
        # and nothing upstream recomputes. An explicit persist measured
        # ~2x SLOWER interleaved at sf0.1 (storage write + double read vs
        # free shuffle reuse).
        # r11 counter-result: NOT localCheckpointed either. The static
        # plan embeds this subtree ~15x (139 KB formatted; Catalyst
        # planning alone 1.5 s at sf0.1) and checkpointing edges+oriented
        # cut it to 10 Exchanges / 5 KB — but E2E it A/B'd a WASH across
        # three interleaved sessions (1.07x, 0.96x): the eager
        # materialization barriers give back what planning saves. At
        # 100 TB it is strictly worse — |E|-row checkpoint storage to
        # replace free shuffle-file reuse, while planning cost is
        # constant. A targeted SHUFFLE_HASH hint on the adjacency probe
        # joins likewise measured NEUTRAL best-of-4 and would block AQE's
        # SMJ->BHJ conversion (the r10 global-SHJ counter-result).
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # Orient each edge from the lower (deg, id) endpoint to the higher one.
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ranked = edges.join(du, "u").join(dv, "v")
    u_rank = F.struct(F.col("du").alias("d"), F.col("u").alias("n"))
    v_rank = F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
    fwd = u_rank < v_rank
    # No persist despite three consumers: the groupBy(lo) exchange is
    # reused by the lo-side probe join (ReusedExchange), and the one
    # extra recompute for the hi-side exchange is just broadcast joins
    # over the already-shuffled edge list — measured faster interleaved
    # at sf0.1 than paying the persist's write + reads.
    oriented = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("hi"),
    )
    # Bounded out-adjacency arrays (≤ O(sqrt|E|) wide under orientation);
    # each edge (lo, hi) closes a triangle per common out-neighbor.
    adj = oriented.groupBy("lo").agg(F.collect_list("hi").alias("nbrs"))
    adj_u = adj.select("lo", F.col("nbrs").alias("nbrs_u"))
    adj_v = adj.select(F.col("lo").alias("hi"), F.col("nbrs").alias("nbrs_v"))
    tri = (
        oriented.join(adj_u, "lo")
        .join(adj_v, "hi")
        .select(
            F.col("lo").alias("pivot"),
            F.col("hi").alias("x"),
            F.explode(F.array_intersect("nbrs_u", "nbrs_v")).alias("y"),
        )
    )
    corners = tri.select(
        F.explode(F.array("pivot", "x", "y")).alias("node")
    )
    return (
        corners.groupBy("node")
        .agg(F.count("*").alias("tri_cnt"))
        .select(F.col("node").cast("bigint").alias("partkey"), "tri_cnt")
    )


ORACLE_TRIANGLE_COUNT = f"""
WITH pp AS ({capped_pp_sql()}), edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM pp a JOIN pp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v
  JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
)
SELECT node AS partkey, COUNT(*) AS tri_cnt
FROM (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
GROUP BY node
"""


# ---------------------------------------------------------------------------
# Community detection: synchronous label propagation (Raghavan et al. 2007)
# over the SUPPORTED part co-purchase graph (pairs bought together in ≥ 2
# orders — the min-support prune that keeps the projection sparse at any
# scale; the unsupported graph's density grows with |orders| per part).
# Deterministic variant: every round, each node adopts the most frequent
# label among its neighbors, ties broken by smallest label — so the
# fixed-round unrolled SQL oracle replays it exactly (same discipline as
# graph_pagerank). Each round is one |E|-row join + one (node,label)
# count + one per-node argmax window: two shuffles, state = one label per
# node. LPA_ROUNDS is fixed (not run-to-convergence) for oracle parity;
# production would loop with the connected_components convergence-witness
# pattern above.
# ---------------------------------------------------------------------------
LPA_ROUNDS = 2
_LPA_MIN_SUPPORT = 2


def _lpa_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    # Hub valve (round 8, VERDICT r7 item 1): without it, a super-basket
    # of b parts emits C(b,2) rows from ONE join key into every consumer
    # of this projection (LPA, k-core, modularity, degree power law,
    # jaccard). Mirrored in each consumer's oracle via capped_pp_sql().
    li = capped_basket_items(li)
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= _LPA_MIN_SUPPORT)
        .select("u", "v")
    )


def _lpa_labels(edges: DataFrame) -> DataFrame:
    """LPA_ROUNDS of deterministic synchronous LPA over (u, v) edges →
    (node, lbl). Shared by the LPA query and graph_modularity so the
    expensive co-purchase projection is built once by the caller."""
    # r10 (guide §2.4): symmetrize in ONE pass over the pair rows (the
    # union form derived the expensive co-purchase projection twice while
    # building the pin). Identical row multiset.
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("s"), F.col("v").alias("d")),
                    F.struct(F.col("v").alias("s"), F.col("u").alias("d")),
                )
            ).alias("e")
        )
        .select("e.s", "e.d")
        .transform(pin)
    )
    labels = sym.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(LPA_ROUNDS):
        # r10 (guide §2.4): deterministic mode == the old two-stage vote
        # (groupBy (node,lbl) count → row_number over (cnt DESC, lbl ASC))
        # — mode picks the most frequent lbl and breaks count ties by
        # LOWEST value, identical integer output — but runs as ONE keyed
        # aggregation with map-side partials: the (node,lbl) exchange and
        # the per-node window sort are gone (2 exchanges+1 sort → 1
        # exchange per round, for every consumer of the labels).
        labels = (
            sym.join(labels, sym.s == labels.node)
            .groupBy(F.col("d").alias("node"))
            .agg(F.mode("lbl", True).alias("lbl"))
        )
    return labels


@pinned_query("graph_lpa_")
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous LPA communities on supported co-purchases."""
    labels = _lpa_labels(_lpa_edges(spark, sf_dir))
    return labels.select(F.col("node").alias("partkey"), F.col("lbl").alias("community"))


def _lpa_oracle() -> str:
    base = f"""
WITH pp AS ({capped_pp_sql()}), edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pp a JOIN pp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_LPA_MIN_SUPPORT}
), sym AS (
  SELECT u AS s, v AS d FROM edges UNION ALL SELECT v, u FROM edges
), l0 AS (
  SELECT DISTINCT s AS node, s AS lbl FROM sym
)"""
    prev = "l0"
    for i in range(1, LPA_ROUNDS + 1):
        base += f""",
v{i} AS (
  SELECT sym.d AS node, p.lbl, COUNT(*) AS cnt
  FROM sym JOIN {prev} p ON sym.s = p.node
  GROUP BY sym.d, p.lbl
),
l{i} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY cnt DESC, lbl ASC) AS rn
    FROM v{i}
  ) WHERE rn = 1
)"""
        prev = f"l{i}"
    return base + f"\nSELECT node AS partkey, lbl AS community FROM {prev}"


ORACLE_LABEL_PROPAGATION = _lpa_oracle()


# ---------------------------------------------------------------------------
# k-core peel: iteratively delete nodes of degree < k (with their edges)
# from the supported co-purchase graph — the standard dense-substructure /
# graph-cleaning primitive (Seidman 1983; Batagelj-Zaveršnik peel). Each
# round is one degree aggregation (map-side partial over the symmetrized
# edge stream) + two semi-joins restricting the edge list — O(|E|)-row
# shuffles, no per-node state beyond the current degree. Rounds are FIXED
# at KCORE_ROUNDS (not run-to-convergence) for unrolled-oracle parity —
# the same discipline as LPA_ROUNDS/PageRank; production loops with the
# connected_components convergence-witness pattern (stop when the kept-
# node count is stable). Output = round-R survivors with the qualifying
# degree from the final peel. At sf0.01 the peel is still strictly
# shrinking after 3 rounds (1880 → 1245 → 1078 → 1019 with k=3), so each
# round's filter is exercised, not vacuous.
# ---------------------------------------------------------------------------
KCORE_K = 3
KCORE_ROUNDS = 3


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """`rounds` peel iterations over an undirected (u, v) edge list;
    returns (node, deg) for final-round survivors with the degree that
    qualified them. The shrinking edge list is localCheckpointed per
    round (the connected_components discipline) — without the cut, each
    round's two semi-joins re-derive every earlier round and the lineage
    recompute grows exponentially in `rounds`."""
    keep = None
    for i in range(rounds):
        deg = (
            edges.select(F.col("u").alias("node"))
            .union(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k)
        # r11 (guide §1.2 "don't compute things you throw away"): the
        # LAST round's restricted edge list is consumed by nobody — the
        # result is `keep`, computed above it — so its two semi-joins
        # and the |E|-row checkpoint write were pure waste at any scale.
        if i < rounds - 1:
            edges = (
                edges.join(
                    keep.select(F.col("node").alias("u")), "u", "left_semi"
                )
                .join(keep.select(F.col("node").alias("v")), "v", "left_semi")
                .transform(pin_checkpoint)
            )
    return keep


@pinned_query("graph_kcore_")
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KCORE_ROUNDS-round k-core peel (k=KCORE_K) on supported co-purchases:
    surviving parts + the degree that qualified them in the final round."""
    keep = kcore_peel(_lpa_edges(spark, sf_dir), KCORE_K, KCORE_ROUNDS)
    return keep.select(F.col("node").alias("partkey"), "deg")


def _kcore_oracle() -> str:
    base = f"""
WITH pp AS ({capped_pp_sql()}), e0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pp a JOIN pp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_LPA_MIN_SUPPORT}
)"""
    prev = "e0"
    for i in range(1, KCORE_ROUNDS + 1):
        base += f""",
d{i} AS (
  SELECT node, COUNT(*) AS deg
  FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
  GROUP BY node
),
k{i} AS (SELECT node, deg FROM d{i} WHERE deg >= {KCORE_K}),
e{i} AS (
  SELECT u, v FROM {prev}
  WHERE u IN (SELECT node FROM k{i}) AND v IN (SELECT node FROM k{i})
)"""
        prev = f"e{i}"
    return base + f"\nSELECT node AS partkey, deg FROM k{KCORE_ROUNDS}"


ORACLE_GRAPH_KCORE = _kcore_oracle()


# ---------------------------------------------------------------------------
# Level-synchronous BFS: hop-distance distribution from the minimum-id
# customer over the (symmetrized) trade graph — the frontier-expansion
# primitive behind reachability, ego-network extraction, and
# degrees-of-separation analytics. Each level is one frontier⨝edges join
# + distinct + anti-join against the visited set; with node-sized
# frontier/visited tables broadcast (same n<=10M guard as PageRank) the
# |E|-row edge table never shuffles — only the per-level distinct does,
# and it dedups map-side first. Web-scale graphs keep shuffle joins and
# would carry visited as a partitioned state table. The oracle unrolls
# the same three levels as chained CTEs.
# ---------------------------------------------------------------------------
BFS_ITERS = 3


@pinned_query("graph_bfs_")
def q_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_agent_spark.sources.tables import footer_row_count

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    # r10 (guide §2.4): the seed (min src) rides the edge materialization
    # as an observe() metric, and the edge list is checkpointed BEFORE the
    # seed is needed — the old form ran a separate agg job that re-derived
    # the whole orders⨝lineitem+distinct subtree just for one scalar.
    edges, m = pin_checkpoint_observed(
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("dst"),
        )
        .distinct(),
        F.min("src").alias("seed"),
    )
    # r11 (guide §2.3 "shuffle/scan fewer bytes"): while the two id
    # spaces are DISJOINT (footer-checked, the pagerank closed-form
    # pattern — TPC-H custkeys pass _SUPP_OFFSET around sf ≈ 7), the
    # graph is bipartite, so a frontier of customers can only match the
    # cust→supp direction and vice versa: probing the symmetrized union
    # wastes HALF of every level's scan on rows whose src is in the other
    # id space. Level k alternates direction starting cust→supp, each a
    # zero-cost projection over the checkpointed edge blocks, so it also
    # relies on the observed seed being a customer — checked here, where
    # the parity is chosen. Collided ids or a non-customer seed fall back
    # to the symmetrized union — same rows, no bipartite structure to
    # exploit.
    # (r10 note kept: an explode-both-endpoints form measured +45% here —
    # the union legs read the checkpointed edges, so the 2× union is two
    # cache scans, not two derivations.)
    from log_agent_spark.sources.tables import footer_column_max

    max_cust = footer_column_max(sf_dir, "orders", "o_custkey")
    seed = m["seed"]
    bipartite = (
        max_cust is not None
        and max_cust < _SUPP_OFFSET
        and seed is not None
        and seed < _SUPP_OFFSET
    )
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    und = None if bipartite else edges.union(rev).transform(pin)
    # broadcast-size guard from an UPPER BOUND that costs two parquet
    # footer counts (customer + supplier row counts — metadata-only, no
    # Spark job) instead of a distinct+count over the edge list — the
    # guard only needs to know "can the node set broadcast", never the
    # exact order
    n_nodes_bound = footer_row_count(sf_dir, "customer") + footer_row_count(
        sf_dir, "supplier"
    )
    small = n_nodes_bound <= 10_000_000

    def _maybe_bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    visited = spark.createDataFrame([(seed, 0)], "node bigint, hop int")
    frontier = visited.select("node")
    for k in range(1, BFS_ITERS + 1):
        fr = _maybe_bcast(frontier)
        probe = (edges if k % 2 == 1 else rev) if bipartite else und
        nxt = (
            probe.join(fr, probe.src == fr.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(_maybe_bcast(visited.select("node")), "node", "left_anti")
            .select("node", F.lit(k).alias("hop"))
            .transform(pin)
        )
        visited = visited.union(nxt)
        frontier = nxt.select("node")
    return (
        visited.groupBy("hop")
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy("hop")
    )


def _bfs_oracle() -> str:
    base = f"""
WITH edges0 AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey + {_SUPP_OFFSET} AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT src, dst FROM edges0 UNION ALL SELECT dst, src FROM edges0
),
f0 AS (SELECT MIN(src) AS node FROM edges0),
v0 AS (SELECT node FROM f0)"""
    for i in range(1, BFS_ITERS + 1):
        base += f""",
f{i} AS (
  SELECT DISTINCT e.dst AS node
  FROM edges e JOIN f{i - 1} f ON e.src = f.node
  WHERE e.dst NOT IN (SELECT node FROM v{i - 1})
),
v{i} AS (SELECT node FROM v{i - 1} UNION ALL SELECT node FROM f{i})"""
    levels = " UNION ALL ".join(
        f"SELECT node, {i} AS hop FROM f{i}" for i in range(BFS_ITERS + 1)
    )
    return (
        base
        + f""",
lv AS ({levels})
SELECT hop, COUNT(*) AS n_nodes, MIN(node) AS min_node, MAX(node) AS max_node
FROM lv GROUP BY hop ORDER BY hop"""
    )


ORACLE_BFS_HOPS = _bfs_oracle()


# ---------------------------------------------------------------------------
# Modularity score of the LPA communities (Newman-Girvan Q) — the standard
# quality metric for a community partition, closing the loop on
# graph_label_propagation the way ann_recall_report closes it on the ANN
# family: Q = Σ_c [ e_c/m − (d_c/2m)² ] over communities, with m = |E|,
# e_c = intra-community edges, d_c = community degree sum. Every input to
# the float expression is an integer aggregate (edge counts, degree sums,
# Σd_c² held in DECIMAL(38,0) so it cannot overflow or accumulate in
# partition order), so both engines compute the identical doubles.
# Scale: the label join is the only |E|-shuffle; community stats are one
# agg on the label key; the Q totals are a broadcast 1-row aggregate —
# never a data-scaled window.
# ---------------------------------------------------------------------------
@pinned_query("graph_modularity_")
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE co-purchase projection feeds both the LPA labels and the
    # intra-edge/degree audits (persisted; the naive call-the-LPA-query
    # form built the expensive orderkey self-join twice)
    edges = _lpa_edges(spark, sf_dir).transform(pin)
    # labels feed three consumers (both sides of the intra-edge join and
    # the degree rollup) — persist, or the 2-round LPA plan re-runs 3x
    labels = _lpa_labels(edges).select(
        F.col("node").alias("partkey"), F.col("lbl").alias("community")
    ).transform(pin)
    m = edges.agg(F.count("*").alias("m"))
    lu = labels.select(F.col("partkey").alias("u"), F.col("community").alias("cu"))
    lv = labels.select(F.col("partkey").alias("v"), F.col("community").alias("cv"))
    el = edges.join(lu, "u").join(lv, "v")
    intra = (
        el.filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count("*").alias("intra_edges"))
    )
    sym = edges.select(F.col("u").alias("node")).union(
        edges.select(F.col("v").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count("*").alias("d"))
    comm = (
        labels.join(deg, labels.partkey == deg.node)
        .groupBy("community")
        .agg(F.count("*").alias("n_nodes"), F.sum("d").alias("degree_sum"))
        .join(intra, "community", "left")
        .na.fill({"intra_edges": 0})
    )
    # cast BEFORE the square: a long*long product wraps silently past
    # d_c ~ 3e9 (non-ANSI); decimal*decimal is exact at any degree sum
    d_dec = F.col("degree_sum").cast("decimal(38,0)")
    # r10 (guide §1.2): e_in/s2 via unpartitioned window sums over the
    # per-community frame instead of a second aggregate of `comm`
    # cross-joined back — the totals subtree re-derived `deg` (edge
    # union + groupBy) and `intra` (two label joins + groupBy) wholesale
    # (labels itself is pinned, but nothing downstream of it was). The
    # window's single partition holds one row per COMMUNITY (≤ #parts,
    # LPA-coarsened), not per edge. Long and exact-decimal sums (cast to
    # double only after summing): order-independent, value-identical.
    tw = W.partitionBy()
    comm = comm.withColumn(
        "e_in", F.sum("intra_edges").over(tw)
    ).withColumn("s2", F.sum(d_dec * d_dec).over(tw).cast("double"))
    two_m = 2.0 * F.col("m")
    contrib = (
        F.col("intra_edges") / F.col("m")
        - (F.col("degree_sum") / two_m) * (F.col("degree_sum") / two_m)
    )
    q_total = F.col("e_in") / F.col("m") - F.col("s2") / (
        4.0 * F.col("m") * F.col("m")
    )
    return (
        comm.crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            "intra_edges",
            "degree_sum",
            (F.round(contrib, 6) + 0.0).alias("contribution"),
            (F.round(q_total, 6) + 0.0).alias("q_total"),
        )
    )


def _modularity_oracle() -> str:
    return f"""
WITH labels AS ({ORACLE_LABEL_PROPAGATION}),
pp AS ({capped_pp_sql()}), edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pp a JOIN pp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_LPA_MIN_SUPPORT}
), m AS (SELECT COUNT(*) AS m FROM edges),
el AS (
  SELECT lu.community AS cu, lv.community AS cv
  FROM edges
  JOIN labels lu ON lu.partkey = edges.u
  JOIN labels lv ON lv.partkey = edges.v
), intra AS (
  SELECT cu AS community, COUNT(*) AS intra_edges FROM el
  WHERE cu = cv GROUP BY cu
), deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
), comm AS (
  SELECT community, COUNT(*) AS n_nodes, CAST(SUM(d) AS BIGINT) AS degree_sum
  FROM labels JOIN deg ON deg.node = labels.partkey
  GROUP BY community
), withintra AS (
  SELECT c.community, c.n_nodes, c.degree_sum,
         CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges
  FROM comm c LEFT JOIN intra i ON c.community = i.community
), tot AS (
  SELECT CAST(SUM(intra_edges) AS BIGINT) AS e_in,
         CAST(SUM(CAST(degree_sum AS HUGEINT) * degree_sum) AS DOUBLE) AS s2
  FROM withintra
)
SELECT community, n_nodes, intra_edges, degree_sum,
       ROUND(intra_edges * 1.0 / m
             - (degree_sum / (2.0 * m)) * (degree_sum / (2.0 * m)), 6) + 0.0
         AS contribution,
       ROUND(e_in * 1.0 / m - s2 / (4.0 * m * m), 6) + 0.0 AS q_total
FROM withintra CROSS JOIN m CROSS JOIN tot
"""


ORACLE_GRAPH_MODULARITY = _modularity_oracle()


# ---------------------------------------------------------------------------
# Degree-distribution power-law fit — is the co-purchase graph scale-free?
# ln(degree) regressed on ln(rank) over the degree-ranked nodes (the
# text_zipf_fit recipe on a graph domain): slope ≈ -1/(α-1) for a
# power-law tail, plus r² as the fit check and the hub degree. Uses the
# distributed global rank (range-partitioned sort + P-row offsets), never
# a SinglePartition window; regr_slope/regr_r2 are one-pass aggregates
# with map-side partials, stable under round(4) (the proven zipf-fit
# discipline).
# ---------------------------------------------------------------------------
def q_graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_agent_spark.operators.ranking import with_global_order

    edges = _lpa_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    ranked = with_global_order(
        deg, [F.desc("degree"), F.asc("node")], rank_col="rank"
    )
    return ranked.agg(
        F.count("*").alias("n_nodes"),
        F.max("degree").alias("max_degree"),
        F.round(F.regr_slope(F.log("degree"), F.log("rank")), 4).alias(
            "powerlaw_slope"
        ),
        F.round(F.regr_r2(F.log("degree"), F.log("rank")), 4).alias("r2"),
    )


ORACLE_GRAPH_DEGREE_POWERLAW = f"""
WITH pp AS ({capped_pp_sql()}), edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pp a JOIN pp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_LPA_MIN_SUPPORT}
), deg AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
), ranked AS (
  SELECT degree,
         ROW_NUMBER() OVER (ORDER BY degree DESC, node ASC) AS rank
  FROM deg
)
SELECT COUNT(*) AS n_nodes,
       CAST(MAX(degree) AS BIGINT) AS max_degree,
       ROUND(regr_slope(ln(degree), ln(rank)), 4) AS powerlaw_slope,
       ROUND(regr_r2(ln(degree), ln(rank)), 4) AS r2
FROM ranked
"""


_JACCARD_TOP_K = 20
# Per-center adjacency cap applied BEFORE the wedge self-join: each shared
# neighbor c contributes at most CAP·(CAP-1)/2 wedges, so total wedge count
# is ≤ |sym| · CAP — linear in edges regardless of hub degree (without it a
# single hub of degree d contributes d² wedges). 128 is far above every
# fixture degree (no behavior change at test scale) yet bounds the worst
# 100×-scale hub at 128²/2 wedges per center.
_JACCARD_DEG_CAP = 128


def _capped_adjacency(sym: DataFrame, cap: int) -> DataFrame:
    """Deterministic hub mitigation for wedge enumeration: keep only the
    ``cap`` smallest-id neighbors of each center node ``v``. (v, u) pairs
    are distinct in a symmetrized edge list, so ORDER BY u is a total
    order and both engines select the identical sublist. The per-key
    row_number window is a shuffle-by-v + per-partition sort — linear,
    never quadratic, and the partition key is the center node so no
    SinglePartition window appears in the plan."""
    w = W.partitionBy("v").orderBy("u")
    return (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )


def q_graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 node pairs by neighbor-set Jaccard over the supported
    co-purchase graph — the structural-similarity primitive behind
    link prediction and graph-side near-dup detection (two parts whose
    basket neighborhoods coincide are interchangeable).

    Shape: wedge enumeration — symmetrize the (pruned, `_lpa_edges`)
    adjacency, cap each center's neighbor list at `_JACCARD_DEG_CAP`
    (deterministic smallest-id sample, mirrored verbatim in the oracle),
    self-join on the shared neighbor, count per pair — then one degree
    join; |wedges| ≤ |sym|·CAP by construction (the hub mitigation is
    executable, not advisory — see `_capped_adjacency` and the
    planted-hub regression in tests/test_r4b_additions.py). Degrees in
    the Jaccard denominator stay UNCAPPED (true set sizes); the cap only
    bounds which wedges are enumerated, the standard sampling semantics.
    Jaccard = common/(da+db-common) is a ratio of small exact ints —
    identical IEEE division on both engines, so the ORDER BY on the raw
    ratio (ties → (a, b)) picks the same 20 rows; output rounds to 6
    places (strictly positive, no -0 risk).
    """
    edges = _lpa_edges(spark, sf_dir)
    # r10 (guide §2.4): one explode pass symmetrizes without deriving the
    # co-purchase projection twice (same rewrite as _lpa_labels/BFS).
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u"), F.col("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    capped = _capped_adjacency(sym, _JACCARD_DEG_CAP)
    a = capped.select(F.col("u").alias("a"), F.col("v").alias("c"))
    b = capped.select(F.col("u").alias("b"), F.col("v").alias("c"))
    common = (
        a.join(b, "c")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common_nbrs"))
    )
    joined = (
        common.join(deg.select(F.col("u").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("u").alias("b"), F.col("deg").alias("db")), "b")
        .withColumn("union_nbrs", F.col("da") + F.col("db") - F.col("common_nbrs"))
    )
    ratio = F.col("common_nbrs") / F.col("union_nbrs")
    return (
        joined.orderBy(ratio.desc(), "a", "b")
        .limit(_JACCARD_TOP_K)
        .select(
            "a",
            "b",
            "common_nbrs",
            "union_nbrs",
            F.round(ratio, 6).alias("jaccard"),
        )
    )


ORACLE_GRAPH_JACCARD = f"""
WITH pp AS ({capped_pp_sql()}), edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pp a JOIN pp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_LPA_MIN_SUPPORT}
), sym AS (
  SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
), deg AS (
  SELECT u, COUNT(*) AS deg FROM sym GROUP BY 1
), capped AS (
  SELECT u, v FROM (
    SELECT u, v, ROW_NUMBER() OVER (PARTITION BY v ORDER BY u) AS rn
    FROM sym
  ) WHERE rn <= {_JACCARD_DEG_CAP}
), common AS (
  SELECT x.u AS a, y.u AS b, COUNT(*) AS common_nbrs
  FROM capped x JOIN capped y ON x.v = y.v AND x.u < y.u
  GROUP BY 1, 2
)
SELECT a, b,
       CAST(common_nbrs AS BIGINT) AS common_nbrs,
       CAST(da.deg + db.deg - common_nbrs AS BIGINT) AS union_nbrs,
       ROUND(common_nbrs * 1.0 / (da.deg + db.deg - common_nbrs), 6)
         AS jaccard
FROM common
JOIN deg da ON da.u = a
JOIN deg db ON db.u = b
ORDER BY common_nbrs * 1.0 / (da.deg + db.deg - common_nbrs) DESC, a, b
LIMIT {_JACCARD_TOP_K}
"""


QUERIES = {
    "graph_bfs_hops": q_graph_bfs_hops,
    "dedup_connected_components": q_dedup_connected_components,
    "graph_cc_incremental": q_graph_cc_incremental,
    "graph_pagerank": q_pagerank_trade_graph,
    "graph_triangle_count": q_graph_triangle_count,
    "graph_label_propagation": q_graph_label_propagation,
    "graph_kcore": q_graph_kcore,
    "graph_modularity": q_graph_modularity,
    "graph_degree_powerlaw": q_graph_degree_powerlaw,
    "graph_jaccard_neighbors": q_graph_jaccard_neighbors,
}

ORACLES = {
    "graph_bfs_hops": ORACLE_BFS_HOPS,
    "dedup_connected_components": ORACLE_DEDUP_CONNECTED_COMPONENTS,
    "graph_cc_incremental": ORACLE_GRAPH_CC_INCREMENTAL,
    "graph_pagerank": ORACLE_PAGERANK,
    "graph_triangle_count": ORACLE_TRIANGLE_COUNT,
    "graph_label_propagation": ORACLE_LABEL_PROPAGATION,
    "graph_kcore": ORACLE_GRAPH_KCORE,
    "graph_modularity": ORACLE_GRAPH_MODULARITY,
    "graph_degree_powerlaw": ORACLE_GRAPH_DEGREE_POWERLAW,
    "graph_jaccard_neighbors": ORACLE_GRAPH_JACCARD,
}
