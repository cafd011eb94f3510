"""The ingested `logfile` table is partitioned by file_date (the Cassandra
partition key, cassandra.go:349). A date-bounded read must show a
PartitionFilter — directory-level pruning, the property that makes
time-bounded queries on a 100 TB logfile table scan one day, not the
table."""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F

from log_agent_spark.plans.agentdemo import build_fixture_tree
from log_agent_spark.plans.ingest import ingest_tree, write_logfile


def test_file_date_partition_pruning(spark, tmp_path):
    tree = str(tmp_path / "tree")
    build_fixture_tree(tree)
    out = str(tmp_path / "logfile")
    write_logfile(ingest_tree(spark, tree, host="h"), out)

    back = spark.read.parquet(out)
    picked = back.filter(F.col("file_date") == "2017-06-07")

    plan = picked._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "file_date" in plan, plan
    # every fixture file carries the same mtime → all rows in one partition
    assert picked.count() == back.count() > 0
    none = back.filter(F.col("file_date") == "1999-01-01")
    assert none.count() == 0


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """When the partition predicate only exists on a joined dimension (the
    100 TB shape: fact partitioned by file_date ⋈ a filtered calendar/biz
    dim), static pruning can't fire — Spark must inject the dim's matching
    keys as a runtime PartitionFilter (DPP). Assert the injected
    dynamicpruning expression is in the scan, and the result is right."""
    path = str(tmp_path / "fact_by_date")
    spark.range(0, 1000).selectExpr(
        "id",
        "concat('2017-06-', lpad(cast(id % 30 + 1 as string), 2, '0')) AS file_date",
    ).write.partitionBy("file_date").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("2017-06-07", "y"), ("2017-06-08", "y"), ("2017-06-09", "n")],
        "file_date string, keep string",
    )
    # hint the dim as build side — on the tiny test fixture Spark would
    # otherwise broadcast the fact itself; at real scale the fact is never
    # the broadcast candidate and the hint is what AQE would pick anyway.
    # The dim filter must be a comparison (EqualTo): DPP's isLikelySelective
    # heuristic ignores bare boolean attributes.
    j = fact.join(F.broadcast(dim.filter(F.col("keep") == "y")), "file_date")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # 1000 ids over 30 days; days 7 and 8 survive the dim filter
    assert j.count() == fact.filter(F.col("file_date").isin("2017-06-07", "2017-06-08")).count()


def test_runtime_bloom_filter_reduces_shuffle_join(spark, sf_dir):
    """When neither join side broadcasts (the fact-fact case at 100 TB),
    Spark can still semi-join-reduce the big side before the shuffle by
    injecting a bloom filter built from the selective side. Local fixture
    sizes are below the production thresholds, so lower them for the test;
    at scale the defaults (10 MB creation / 10 GB application) fire on
    their own."""
    from log_agent_spark.sources.tables import load_table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        l = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = l.join(o, l.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
        # the filter is a pre-shuffle reduction, never a semantics change
        with_bloom = j.count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert with_bloom == l.join(o, l.l_orderkey == o.o_orderkey).count()


def test_zero_byte_files_are_ingested(spark, tmp_path):
    """Spark's file index drops 0-byte files; the tree walk must surface
    them — the reference ships empty files (the '0x' wire convention exists
    for exactly this, kafka.go:323-325) — exactly where Spark's listing
    surfaces a non-empty file at the same place."""
    from log_agent_spark.sources.binary_files import enrich_file_meta, read_binary_tree

    tree = tmp_path / "tree"
    (tree / "sub").mkdir(parents=True)
    (tree / "sub" / "empty.log").write_bytes(b"")
    (tree / "sub" / "full.log").write_bytes(b"x")
    (tree / "sub" / ".hidden").write_bytes(b"")  # hidden stays hidden

    df = read_binary_tree(spark, str(tree))
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"empty.log", "full.log"}
    assert rows["empty.log"].length == 0
    assert bytes(rows["empty.log"].content) == b""
    assert rows["empty.log"].modificationTime is not None

    # the include pattern applies to recovered empties like to read files
    only_log = read_binary_tree(spark, str(tree), pattern=r"\.log$")
    assert only_log.count() == 2

    # FileMeta enrichment reuses its once-built projection across frames
    # of one root, and a second root gets its own
    for frame in (df, only_log):
        meta = {r.filename: r for r in enrich_file_meta(frame, str(tree), "h").collect()}
        assert set(meta) == {"empty.log", "full.log"}
        full = meta["full.log"]
        assert (full.filepath, full.sub_dir, full.folder, full.ext, full.size, full.host) == (
            str(tree / "sub" / "full.log"), "sub/full.log", "sub", "log", 1, "h"
        )
    sub = enrich_file_meta(df, str(tree / "sub"), "h").select("sub_dir", "folder")
    assert sorted(sub.collect()) == [("empty.log", ""), ("full.log", "")]

    # Spark's hidden-path rule holds at every level, for directories too,
    # and a file still being copied (._COPYING_) is not listed: each place
    # holds a 0-byte file and a 1-byte twin with the same mtime
    rules = tmp_path / "rules"
    mtime_ns = 1_700_000_000_123_456_789
    twins = [
        (f"{d}/empty.log", f"{d}/full.log")
        for d in ("sub", "_tmp", ".cache", "_day=1", "_metadata", "x._COPYING_")
    ] + [
        (f"sub/{empty}", f"sub/{full}")
        for empty, full in (
            ("a.log._COPYING_", "b.log._COPYING_"),
            ("_x=1.log", "_y=1.log"),
            ("_metadata", "_metadata2"),
            ("empty.txt", "full.txt"),
        )
    ]
    for empty, full in twins:
        for rel, data in ((empty, b""), (full, b"x")):
            path = rules / rel
            path.parent.mkdir(parents=True, exist_ok=True)
            path.write_bytes(data)
            os.utime(path, ns=(mtime_ns, mtime_ns))

    for pattern in (None, r"\.log$"):
        listed = {
            r.path.removeprefix(f"file:{rules}/"): r
            for r in read_binary_tree(spark, str(rules), pattern=pattern).collect()
        }
        for empty, full in twins:
            assert (empty in listed) == (full in listed), (pattern, empty, sorted(listed))
            if empty in listed:
                assert listed[empty].length == 0
                assert listed[empty].modificationTime == listed[full].modificationTime
        for rel in ("sub/empty.log", "_day=1/empty.log", "sub/_x=1.log"):
            assert rel in listed
        for rel in (".cache/empty.log", "_tmp/empty.log", "sub/a.log._COPYING_"):
            assert rel not in listed
        assert ("sub/empty.txt" in listed) == (pattern is None)


def test_ingest_scan_is_sized_by_bytes(spark, tmp_path):
    """The backfill scan plans ceil(bytes / maxPartitionBytes) partitions —
    one at fixture size, not one per core — and more once the tree's bytes
    exceed maxPartitionBytes; the zero-byte rows are a union input only
    when the tree has an empty file."""
    tree = tmp_path / "tree"
    build_fixture_tree(str(tree))
    files = [os.path.join(d, f) for d, _, fs in os.walk(tree) for f in fs]
    n_bytes = sum(os.path.getsize(f) for f in files)
    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()

    df = ingest_tree(spark, str(tree), host="h")
    assert df.rdd.getNumPartitions() == math.ceil(n_bytes / max_bytes) == 1
    assert "Union" in df._jdf.queryExecution().optimizedPlan().toString()

    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, str(n_bytes // 3))
        narrow = ingest_tree(spark, str(tree), host="h")
        assert 1 < narrow.rdd.getNumPartitions() <= math.ceil(n_bytes / (n_bytes // 3))
        assert narrow.count() == df.count()
    finally:
        spark.conf.set(key, saved)

    for f in files:
        if os.path.getsize(f) == 0:
            os.remove(f)
    no_empties = ingest_tree(spark, str(tree), host="h")
    plan = no_empties._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan, plan
    assert no_empties.rdd.getNumPartitions() == 1
