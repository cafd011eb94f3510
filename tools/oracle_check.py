"""Local mirror of the driver's correctness gate (strict, type-sensitive).

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at sf0.01 and compares row count + column names + an order-insensitive
value hash. Round-1 lesson (VERDICT.md "What's wrong"): the driver's hash
is *type-sensitive* — DuckDB ``SUM(integer)`` returns HUGEINT which lands
in pandas as float64 while Spark returns int64, and the two hash
differently even when values are equal. So this mirror now:

  * fetches BOTH sides through pandas (``sdf.toPandas()`` /
    ``rel.df()``) so dtype coercions match what the driver sees;
  * normalizes ints and floats to *different* reprs (``5`` vs ``5.0``);
  * reports per-column dtype mismatches explicitly.

Usage::

    python tools/oracle_check.py [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# default mirrors the driver's correctness SF; override for the sf0.001
# edge-case sweep (tiny groups, empty join slices):
#   SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.001 python tools/oracle_check.py
SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    import datetime
    import decimal

    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return repr(f)
    if isinstance(v, (np.bool_, bool)):
        return "true" if v else "false"
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, np.datetime64):
        # normalize to isoformat; dates have no time component
        ts = v.astype("datetime64[us]").item()
        if isinstance(ts, datetime.datetime) and ts.time() == datetime.time(0, 0):
            return ts.date().isoformat()
        return ts.isoformat()
    if isinstance(v, datetime.datetime):
        if v.time() == datetime.time(0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, np.ndarray):
        return "[" + ",".join(_norm(x) for x in v.tolist()) + "]"
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, decimal.Decimal):
        return "dec:" + str(v)
    return str(v)


def driver_canon(pdf):
    """Replicate the driver's canonicalization step verbatim.

    The driver sorts the frame with pandas ``sort_values`` over all columns
    (CORRECTNESS_r02 traceback, ``_canon`` line 16) — which THROWS
    ``TypeError: unhashable type: 'list'`` on array cells. Round-2 lesson:
    this mirror stringified lists and passed two queries the driver
    errored on, so the mirror must fail exactly where the driver fails.
    Any exception here is reported as a DRIVER-CANON error.
    """
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(by=cols).reset_index(drop=True)


def frame_hash(pdf) -> tuple[int, str, dict]:
    """(n_rows, order-insensitive md5, {col: dtype_str}) for a pandas frame."""
    import hashlib

    pdf = driver_canon(pdf)
    cols = sorted(pdf.columns)
    dtypes = {c: str(pdf[c].dtype) for c in pdf.columns}
    # NaN in object columns arrives as float('nan'); pandas NA as pd.NA
    import pandas as pd

    def cell(v):
        if v is pd.NaT or v is pd.NA:
            return "NULL"
        return _norm(v)

    # Per-COLUMN extraction (never iterrows): iterrows materializes each
    # row as a Series, which upcasts int64 cells to float64 whenever any
    # other column is float — silently defeating the int-vs-float hash
    # distinction this mirror exists to enforce (5 would hash as '5.0').
    col_values = [pdf[c].tolist() for c in cols]
    lines = sorted(
        "|".join(cell(col_values[j][i]) for j in range(len(cols)))
        for i in range(len(pdf))
    )
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return len(pdf), h, dtypes


def main() -> int:
    only = set(sys.argv[1:])
    import __spark_entry__ as entrymod

    # loud on unknowns BEFORE starting Spark (ported from skew_probe.py,
    # VERDICT r7 item 2): `oracle_check.py --help` or a typo'd/renamed
    # query name used to filter EVERYTHING out and print ALL PASS — a
    # green mirror step that checked nothing, in the round gate's path.
    known = set(entrymod.queries())
    unknown = sorted(only - known)
    if unknown:
        print(f"unknown queries: {unknown} (not in queries())")
        return 2

    from log_agent_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        # queries that persist/checkpoint would otherwise pin storage for
        # the remaining ~190 queries of the run (bench.py hygiene note)
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            spdf = sdf.toPandas()
            sn, sh, sdt = frame_hash(spdf)
        except Exception:
            print(f"FAIL {name}: SPARK ERROR")
            traceback.print_exc()
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({sn} rows, {time.time()-t0:.1f}s)")
            if sn == 0 and name != "join_anti":
                print("     WARNING: zero rows")
            continue
        try:
            osql = oracles[name]
            # SF-dependent frozen goldens: when sweeping a non-default SF,
            # redirect golden-parquet reads to the per-SF snapshot if one
            # exists (tools/make_goldens.py SF_DEPENDENT)
            if SF_DIR != "/root/testdata/sf0.01" and "goldens" in osql:
                import re as _re

                sfx = os.path.basename(SF_DIR.rstrip("/"))

                def _alt(m):
                    alt = f"{m.group(1)}.{sfx}.parquet"
                    return alt if os.path.exists(alt) else m.group(0)

                # [\w/.-]+ (not \S+): must NOT swallow the SQL quote char,
                # or the existence probe sees a path starting with '
                osql = _re.sub(r"([\w/.-]+goldens/\w+)\.parquet", _alt, osql)
            dpdf = con.sql(osql).df()
            dn, dh, ddt = frame_hash(dpdf)
        except Exception:
            print(f"FAIL {name}: DUCKDB ERROR")
            traceback.print_exc()
            failures += 1
            continue
        status = []
        if sorted(spdf.columns) != sorted(dpdf.columns):
            status.append(
                f"cols spark={sorted(spdf.columns)} duck={sorted(dpdf.columns)}"
            )
        if sn != dn:
            status.append(f"rows spark={sn} duck={dn}")
        if sh != dh:
            status.append("value-hash mismatch")
        dt_diff = {
            c: (sdt.get(c), ddt.get(c))
            for c in sdt
            if c in ddt and sdt[c] != ddt[c]
        }
        if status:
            failures += 1
            print(f"FAIL {name}: {'; '.join(status)} ({time.time()-t0:.1f}s)")
            if dt_diff:
                print(f"     dtype diff (spark,duck): {dt_diff}")
            if sn and dn and sorted(spdf.columns) == sorted(dpdf.columns):
                _, _, _ = sdt, ddt, None
                cols = sorted(spdf.columns)

                def _lines(pdf_):
                    vals = [pdf_[c].tolist() for c in cols]
                    return sorted(
                        "|".join(_norm(vals[j][i]) for j in range(len(cols)))
                        for i in range(len(pdf_))
                    )

                ls = _lines(spdf)
                ld = _lines(dpdf)
                shown = 0
                for a, b in zip(ls, ld):
                    if a != b:
                        print(f"     spark: {a}\n     duck : {b}")
                        shown += 1
                        if shown >= 2:
                            break
        else:
            extra = f" [dtype diff: {dt_diff}]" if dt_diff else ""
            print(f"ok   {name}: {sn} rows match ({time.time()-t0:.1f}s){extra}")
    # an empty selection must never print ALL PASS (defense in depth
    # behind the unknown-name check above)
    if checked == 0:
        print("\nNO QUERIES CHECKED")
        return 2
    print(f"\n{'ALL PASS' if failures == 0 else f'{failures} FAILURES'}"
          f" ({checked} checked)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
