"""Driver-contract tests: entry()/queries()/oracle_sql() shape and smoke."""

from __future__ import annotations

import __spark_entry__ as entrymod

# Since round 2 every query has an oracle: the three non-SQL-expressible
# entries (ingest_logfile_tree, kafka_envelope, events_approx_sketches)
# hash-check against frozen golden parquet (tools/make_goldens.py).
ROWS_ONLY: set[str] = set()


def test_entry_flagship(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) == 10
    assert df.columns == ["l_orderkey", "revenue", "o_orderdate_ms"]


def test_queries_oracles_aligned():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    missing = set(qs) - set(oracles)
    assert missing == ROWS_ONLY, f"unexpected rows-only queries: {missing - ROWS_ONLY}"


def test_driver_window_invariants():
    """The per-round driver window only earns correctness signal if its
    entries actually occupy the first ~50 queries() slots (the driver
    checks iteration order, not the list) — a rotation typo here silently
    wastes a whole round's driver signal, so pin every invariant: exactly
    50 names, no duplicates, each resolvable, each first in iteration
    order, each with an oracle (rows-only checks are a weaker signal and
    should not spend a window slot)."""
    window = entrymod.DRIVER_WINDOW
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(window) == 50
    assert len(set(window)) == len(window)
    assert set(window) <= set(qs)
    assert set(window) == set(list(qs)[:50])
    assert set(window) <= set(oracles)


def test_all_queries_run_smoke(spark, sf_dir):
    """Every declared query must at least plan + execute at sf0.001, and
    leave no storage pinned in the caller's session once it has run."""
    from log_agent_spark.scratch import _persistent_ids

    leaks = {}
    for name, fn in entrymod.queries().items():
        before = _persistent_ids(spark)
        df = fn(spark, sf_dir)
        n = df.limit(5).count()
        assert n >= 0, name
        pinned = _persistent_ids(spark) - before
        if pinned:
            leaks[name] = len(pinned)
    assert not leaks, f"queries that leave storage pinned: {leaks}"


def test_no_driver_hostile_output_columns(spark, sf_dir):
    """No queries() entry may output array/map/struct or DATE columns.

    The driver's canonicalizer runs pandas ``sort_values`` over every output
    column: array cells crash it (``unhashable type: 'list'`` —
    CORRECTNESS_r02 errors on media_features / text_inverted_index), and
    DATE cells reach pandas as ``datetime.date`` from Spark but
    ``datetime64`` from DuckDB, hashing differently. Flatten arrays
    (posexplode) and format dates as ISO strings instead.
    """
    from pyspark.sql import types as T

    bad: list[tuple[str, str, str]] = []
    for name, fn in entrymod.queries().items():
        for field in fn(spark, sf_dir).schema.fields:
            if isinstance(
                field.dataType, (T.ArrayType, T.MapType, T.StructType, T.DateType)
            ):
                bad.append((name, field.name, field.dataType.simpleString()))
    assert not bad, f"driver-hostile output columns: {bad}"


def test_mirror_canon_rejects_array_cells():
    """tools/oracle_check.py must fail exactly where the driver fails:
    its canon step must throw on array-typed cells (round-2 lesson — the
    mirror stringified lists and passed queries the driver errored on)."""
    import importlib.util
    import os

    import pandas as pd
    import pytest

    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "tools", "oracle_check.py"
    )
    spec = importlib.util.spec_from_file_location("oracle_check_mod", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    pdf = pd.DataFrame({"a": [[1, 2], [3]], "b": [1, 2]})
    with pytest.raises(TypeError):
        mod.frame_hash(pdf)
    # scalar frames still hash fine
    n, h, _ = mod.frame_hash(pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}))
    assert n == 2 and isinstance(h, str)
