"""Cluster-safe checkpointing (VERDICT r8 item 3): when a checkpoint dir
is configured, ``scratch.pin_checkpoint`` must switch from executor-local
``localCheckpoint`` (fast, NOT preemption-safe — truncated lineage cannot
be recomputed after an executor loss) to reliable ``checkpoint()`` against
that dir, with identical results. Local[-] default stays localCheckpoint.
"""

from __future__ import annotations

import contextlib

from log_agent_spark import scratch

SF = "/root/testdata/sf0.001"


@contextlib.contextmanager
def _checkpoint_dir(spark, path):
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None, "fixture session must start unset"
    sc.setCheckpointDir(str(path))
    try:
        yield
    finally:
        # Option(null) resets the scala-side checkpointDir to None
        sc._jsc.setCheckpointDir(None)
        assert sc.getCheckpointDir() is None


def test_pin_checkpoint_reliable_mode_writes_checkpoint_files(spark, tmp_path):
    df = spark.range(64).selectExpr("id", "id * 2 AS v")
    # default mode: no checkpoint dir → localCheckpoint, dir stays empty
    out_local = scratch.pin_checkpoint(df)
    assert out_local.count() == 64
    assert not any(tmp_path.rglob("*"))
    with _checkpoint_dir(spark, tmp_path):
        out_rel = scratch.pin_checkpoint(df)
        assert sorted(r.v for r in out_rel.collect()) == sorted(
            r.v for r in out_local.collect()
        )
        # evidence the RELIABLE path ran: RDD checkpoint files on disk
        assert any(p.is_file() for p in tmp_path.rglob("*"))


def test_graph_family_identical_under_reliable_checkpoint(spark, tmp_path):
    """The iterative queries (k-core: per-round pin_checkpoint in the peel
    loop) must return byte-identical results in reliable mode."""
    from log_agent_spark.operators import graph

    base = sorted(map(tuple, graph.QUERIES["graph_kcore"](spark, SF).collect()))
    with _checkpoint_dir(spark, tmp_path):
        rel = sorted(
            map(tuple, graph.QUERIES["graph_kcore"](spark, SF).collect())
        )
    assert rel == base and len(base) > 0


def test_pin_checkpoint_observed_both_modes(spark, tmp_path):
    """r10: the fused convergence witness (observe() metrics collected by
    the checkpoint materialization itself) must return the same values as
    a separate agg, in BOTH checkpoint modes — connected_components
    depends on it."""
    from pyspark.sql import functions as F

    df = spark.range(100).selectExpr("id", "id * 3 AS v")
    expected = df.agg(F.sum("v")).first()[0]

    out, m = scratch.pin_checkpoint_observed(df, F.sum("v").alias("s"))
    assert m["s"] == expected
    assert out.count() == 100

    with _checkpoint_dir(spark, tmp_path):
        out_rel, m_rel = scratch.pin_checkpoint_observed(
            df, F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
        )
        assert m_rel["s"] == expected and m_rel["n"] == 100
        assert sorted(r.v for r in out_rel.collect()) == sorted(
            r.v for r in out.collect()
        )


def test_cc_star_identical_under_reliable_checkpoint(spark, tmp_path, monkeypatch):
    """connected_components' witness rides the checkpoint job; results must
    stay identical in reliable mode (which exercises the persist-around-
    checkpoint path of the observed variant), on the union-find path and
    on the star loop (forced by a 0 edge bound)."""
    from log_agent_spark.operators import graph

    nodes = spark.createDataFrame([(i,) for i in range(8)], "id bigint")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (6, 7)], "src bigint, dst bigint"
    )
    for bound in (graph._UNION_FIND_MAX_EDGES, 0):
        monkeypatch.setattr(graph, "_UNION_FIND_MAX_EDGES", bound)
        base = sorted(map(tuple, graph.connected_components(nodes, edges).collect()))
        with _checkpoint_dir(spark, tmp_path):
            rel = sorted(
                map(tuple, graph.connected_components(nodes, edges).collect())
            )
        assert rel == base
        comp = dict(base)
        assert comp[1] == comp[0] and comp[4] == comp[3] and comp[5] == 5
