"""Degenerate-input crash sweep: run every queries() entry against a
minimal/pathological fixture under Spark's vanilla ANSI defaults.

Why: the fixtures the oracle gate uses are healthy — every group has
variance, every key joins, every series has more than one level. Real
100 TB inputs contain degenerate slices (a flat daily series, a 1-row
partition, an empty join intersection), and Spark 4's ANSI default turns
the resulting division-by-zero into a QUERY-KILLING crash where DuckDB
(and the pre-4.x non-ANSI behavior) returns NULL. Round 4's review found
exactly one such latent crash (ts_autocorrelation on a zero-variance
series); this sweep hunts the rest of the class mechanically.

The degenerate fixture: the first few rows of every real sf0.001 table —
small enough that single-group/single-day/zero-variance shapes actually
occur (events collapses to 1-2 days; most joins lose their matches) while
every schema stays byte-identical to the real fixtures.

Usage::

    python tools/degenerate_sweep.py          # build fixture + run all
    python tools/degenerate_sweep.py q1 q2    # subset

Prints one line per query: ok/EMPTY/DIVERGE/CRASH (+ the exception class
and first line). Exit code 1 if any CRASH or DIVERGE. EMPTY (0 rows) is
fine — a degenerate slice may legitimately produce nothing.

Round-6 upgrade: the sweep is now a full PARITY gate, not crash-only —
each query's DuckDB oracle runs over the SAME degenerate fixture and the
two frames are hash-compared exactly like tools/oracle_check.py. The
round-6 review found a live Spark-vs-oracle divergence on the planted
NULL-text doc (corpus_snapshot_diff labeled it 'added' vs 'unchanged')
that the crash-only sweep could never see. Golden-pinned oracles whose
Spark side DOES read the sf_dir tables (events_approx_sketches) fall
back to crash-only here — their frozen parquet describes the real
fixture, not this one.
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC_SF = "/root/testdata/sf0.001"
# rows kept per table — small enough to create degenerate shapes, large
# enough that per-table NOT-NULL/FK structure survives for the happy path
_KEEP = {
    "region": 5,
    "nation": 25,
    "customer": 3,
    "supplier": 2,
    "part": 3,
    "orders": 4,
    "lineitem": 6,
    "events": 8,
    "documents": 3,
    "embeddings": 12,  # >= N_QUERIES(10) so ANN query/candidate split is non-empty
}


def build_fixture(dst: str) -> None:
    import duckdb

    con = duckdb.connect()
    for name, k in _KEEP.items():
        src = os.path.join(SRC_SF, f"{name}.parquet")
        out = os.path.join(dst, f"{name}.parquet")
        base = f"SELECT * FROM read_parquet('{src}') LIMIT {k}"
        if name == "documents":
            # plant the degenerate-text class the healthy fixtures never
            # contain: an empty doc (Spark sequence(1,0) → [1,0] phantom
            # rows without a guard) and a whitespace-only doc (0 tokens →
            # ANSI DIVIDE_BY_ZERO in any unguarded per-token ratio)
            base = (
                f"SELECT * FROM ({base}) UNION ALL "
                f"SELECT 9000001, '', 'en', 'srcX', 0 UNION ALL "
                f"SELECT 9000002, '   ', 'en', 'srcX', 3 UNION ALL "
                # NULL text from a restricted source: md5(NULL) is NULL, so
                # any null-unsafe cluster join silently drops the row (the
                # round-5 license-taint review finding)
                f"SELECT 9000003, NULL, 'en', 'src3', 5"
            )
        if name == "customer":
            # a name not shaped 'Customer#%09d': any ANSI cast of its digit
            # tail must be a try_cast (round-5 ER review finding)
            base = (
                f"SELECT * FROM ({base}) UNION ALL "
                f"SELECT 9000001, 'Anon', 0, -0.01, 'BUILDING'"
            )
        con.execute(f"COPY ({base}) TO '{out}' (FORMAT parquet)")


# golden-pinned oracles that read sf_dir-dependent data on the Spark side:
# the frozen parquet can't describe the degenerate fixture — crash-only.
# (ingest_logfile_tree / kafka_envelope read only the /tmp fixture tree on
# BOTH sides, so their parity still holds and they are compared.)
_GOLDEN_SKIP = {"events_approx_sketches"}


def main() -> None:
    import duckdb
    from pyspark.sql import SparkSession

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from oracle_check import frame_hash

    dst = tempfile.mkdtemp(prefix="degen_sf_")
    build_fixture(dst)
    con = duckdb.connect()
    for t in _KEEP:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{dst}/{t}.parquet'")

    # vanilla session on purpose: ANSI stays at the 4.x default (on), the
    # same environment the driver's correctness harness uses
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .appName("degenerate-sweep")
        .getOrCreate()
    )
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = sys.argv[1:] or list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    crashes: dict[str, str] = {}
    diverged: dict[str, str] = {}
    for name in names:
        try:
            # toPandas(), NOT count(): count() lets Catalyst prune the final
            # projection, so ANSI crashes in output expressions (ratios,
            # rounds) are silently skipped — the exact class this sweep
            # exists to catch (round-5 review finding: 4 masked crashes)
            spdf = qs[name](spark, dst).toPandas()
            n = len(spdf)
        except Exception as e:  # noqa: BLE001 — triage sweep, report all
            first = (str(e).strip().splitlines() or [""])[0][:160]
            crashes[name] = f"{type(e).__name__}: {first}"
            print(f"CRASH  {name}: {crashes[name]}")
            continue
        finally:
            spark.catalog.clearCache()
        osql = oracles.get(name)
        if osql is None or name in _GOLDEN_SKIP:
            print(f"ok     {name}: {n} rows (rows-only)" if n else f"EMPTY  {name}")
            continue
        try:
            dpdf = con.sql(osql).df()
        except Exception as e:  # noqa: BLE001 — an oracle crash on the
            # degenerate fixture is a divergence too (Spark side survived)
            first = (str(e).strip().splitlines() or [""])[0][:160]
            diverged[name] = f"oracle crash: {type(e).__name__}: {first}"
            print(f"DIVERGE {name}: {diverged[name]}")
            continue
        sn, sh, _ = frame_hash(spdf)
        dn, dh, _ = frame_hash(dpdf)
        if sorted(spdf.columns) != sorted(dpdf.columns):
            diverged[name] = "column mismatch"
        elif sn != dn:
            diverged[name] = f"rows spark={sn} duck={dn}"
        elif sh != dh:
            diverged[name] = "value-hash mismatch"
        if name in diverged:
            print(f"DIVERGE {name}: {diverged[name]}")
        else:
            print(f"ok     {name}: {n} rows" if n else f"EMPTY  {name} (parity ok)")

    print(
        f"\n{len(names) - len(crashes) - len(diverged)} ok, "
        f"{len(crashes)} crash, {len(diverged)} diverge"
    )
    if crashes or diverged:
        sys.exit(1)


if __name__ == "__main__":
    main()
