"""Mechanized driver-materialization audit (the per-round manual check):
every ``.collect()`` / ``.toPandas()`` / ``.toLocalIterator()`` in the
engine source must be a known, bounded, adjudicated site — an operator
that iterates a data-scaled frame on the driver isn't distributed. 1-row
scalar reads (``agg(...).first()``) are a separate, benign class and are
not audited here.

Adding a new materialization site = add it to the allowlist WITH its
boundedness argument, or the audit fails.

The second audit runs the other way, over the agent's row path: a
``createDataFrame(`` / ``parallelize(`` there ships driver data through
an RDD whose every slice starts a Python worker, a fixed cost paid on each
backfill pass or live batch; in-plan literals carry such rows instead.
"""

from __future__ import annotations

import os
import re

ROOT = os.path.join(os.path.dirname(__file__), "..", "log_agent_spark")

# (relative path, substring that must appear on the flagged line) -> why bounded
ALLOWED = {
    ("sinks/upsert.py", "incoming.select(partition_col).distinct().collect()"):
        "distinct partition VALUES of one micro-batch — bounded by the "
        "partition-key cardinality (dates), never by row count",
    ("sinks/filecopy.py", "df.toLocalIterator()"):
        "K3 driver-side file copy, the one file-copy sink: streams one "
        "partition at a time (never the whole frame in memory), and the "
        "live read sizes a batch to one partition per maxPartitionBytes",
    ("__main__.py", 'live.select("path").collect()'):
        "the micro-batch's settled paths (strings only, no content) — "
        "bounded by the paths whose debounce windows expired in the "
        "source before that batch",
}

_PATTERN = re.compile(r"\.collect\(\)|\.toPandas\(\)|\.toLocalIterator\(\)")


def _source_files():
    for dirpath, _dirs, files in os.walk(ROOT):
        if "__pycache__" in dirpath:
            continue
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def test_every_driver_materialization_is_allowlisted():
    hits = []
    for path in _source_files():
        rel = os.path.relpath(path, ROOT)
        with open(path) as fh:
            for lineno, line in enumerate(fh, 1):
                stripped = line.strip()
                if stripped.startswith("#") or not _PATTERN.search(line):
                    continue
                if not any(
                    rel == arel and snippet in line
                    for (arel, snippet) in ALLOWED
                ):
                    hits.append(f"{rel}:{lineno}: {stripped[:100]}")
    assert not hits, (
        "unadjudicated driver-side materialization site(s) — add to "
        f"ALLOWED with a boundedness argument:\n" + "\n".join(hits)
    )


def test_allowlist_is_not_stale():
    stale = []
    for (rel, snippet), _why in ALLOWED.items():
        path = os.path.join(ROOT, rel)
        with open(path) as fh:
            if snippet not in fh.read():
                stale.append(f"{rel}: {snippet}")
    assert not stale, f"allowlisted sites no longer in source: {stale}"


# the agent's row path, relative to ROOT: a directory or a file
ROW_PATH = ("sources", "plans/ingest.py", "sinks", "streaming", "__main__.py")

DRIVER_DATA_ALLOWED = {
    ("sources/incremental.py", "spark.createDataFrame([], STATE_SCHEMA)"):
        "the incremental backfill's empty state table (no rows); no entry "
        "point reads it until ROADMAP direction 2 wires the incremental "
        "backfill",
}

_DRIVER_DATA = re.compile(r"\bcreateDataFrame\(|\bparallelize\(")


def test_no_driver_data_frame_in_the_row_path():
    hits = []
    for path in _source_files():
        rel = os.path.relpath(path, ROOT)
        if not any(rel == p or rel.startswith(p + os.sep) for p in ROW_PATH):
            continue
        with open(path) as fh:
            for lineno, line in enumerate(fh, 1):
                stripped = line.strip()
                if stripped.startswith("#") or not _DRIVER_DATA.search(line):
                    continue
                if not any(
                    rel == arel and snippet in line
                    for (arel, snippet) in DRIVER_DATA_ALLOWED
                ):
                    hits.append(f"{rel}:{lineno}: {stripped[:100]}")
    assert not hits, (
        "driver data turned into a frame in the agent's row path — build the "
        "rows as in-plan literals, or add the site to DRIVER_DATA_ALLOWED with "
        "a reason:\n" + "\n".join(hits)
    )


def test_driver_data_allowlist_is_not_stale():
    stale = []
    for (rel, snippet), _why in DRIVER_DATA_ALLOWED.items():
        with open(os.path.join(ROOT, rel)) as fh:
            if snippet not in fh.read():
                stale.append(f"{rel}: {snippet}")
    assert not stale, f"allowlisted sites no longer in source: {stale}"
