"""The ingested `logfile` table is partitioned by file_date (the Cassandra
partition key, cassandra.go:349). A date-bounded read must show a
PartitionFilter — directory-level pruning, the property that makes
time-bounded queries on a 100 TB logfile table scan one day, not the
table."""

from __future__ import annotations

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
    """binaryFile cannot plan splits for 0-byte files; the listing-recovery
    pass must surface them — the reference ships empty files (the '0x' wire
    convention exists for exactly this, kafka.go:323-325)."""
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

    # glob applies to recovered empties exactly like pathGlobFilter
    only_log = read_binary_tree(spark, str(tree), glob="*.log")
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
