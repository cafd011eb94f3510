"""Self-tests of the benchmark's own helpers (no Spark session needed).

    python3 perfbench/selftest.py

Checks that the generators are byte-deterministic per seed, that the
percentile helper refuses an unsupported tail, that every metric name is
well formed and BENCHMARK.json matches spec.py, and that the output checks
catch planted faults.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import spec  # noqa: E402
from instrument import Tracer, _busy_span  # noqa: E402
from stats import NAME_RE, Metrics, percentile  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    stack = [cmp]
    while stack:
        c = stack.pop()
        if c.left_only or c.right_only or c.diff_files or c.funny_files:
            return False
        _, mismatch, errors = filecmp.cmpfiles(c.left, c.right, c.common_files, shallow=False)
        if mismatch or errors:
            return False
        stack.extend(c.subdirs.values())
    return True


def test_generators_deterministic(tmp: str) -> None:
    m1 = gen.make_bsi_tree(os.path.join(tmp, "a"), 7, 60)
    m2 = gen.make_bsi_tree(os.path.join(tmp, "b"), 7, 60)
    m3 = gen.make_bsi_tree(os.path.join(tmp, "c"), 8, 60)
    assert _same_tree(os.path.join(tmp, "a"), os.path.join(tmp, "b")), "BSI tree differs"
    assert m1["files"] == m2["files"] and m1["files"] != m3["files"]
    kinds = {f["kind"] for f in gen.make_bsi_tree(os.path.join(tmp, "d"), 7, 400)["files"]}
    assert kinds == {"plain", "image", "zip", "empty", "ignored"}, kinds

    s1 = gen.make_schedule(7, 4, 2)
    s2 = gen.make_schedule(7, 4, 2)
    assert s1 == s2 and s1 != gen.make_schedule(8, 4, 2)
    assert [gen.event_bytes(e) for e in s1] == [gen.event_bytes(e) for e in s2]
    assert len({e["rel"] for e in s1}) == 4 * 2 * 4


def test_percentile_refuses_thin_tail() -> None:
    try:
        percentile([float(i) for i in range(199)], 95)
    except ValueError:
        pass
    else:
        raise AssertionError("p95 of 199 samples must be refused")
    assert percentile([float(i) for i in range(200)], 95) == 189.0
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_metric_names() -> None:
    names = [n for n, *_ in spec.END_TO_END + spec.PER_LAYER] + list(spec.WORKLOADS)
    assert len(names) == len(set(names)), "duplicate name"
    for n in names:
        assert NAME_RE.match(n), n
    m = Metrics()
    try:
        m.add("bad name", 1.0, "s")
    except ValueError:
        pass
    else:
        raise AssertionError("metric name with a space accepted")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == spec.benchmark_json(), "BENCHMARK.json out of date with spec.py"


def test_tracer_self_time() -> None:
    tr = Tracer(True)
    with tr.span("outer", op="1"):
        with tr.span("inner"):
            pass
    s = tr.summary()
    assert s["outer"]["n"] == 1 and s["inner"]["n"] == 1
    assert abs(s["outer"]["self_s"] - (s["outer"]["total_s"] - s["inner"]["total_s"])) < 1e-5
    assert all(sp["op"] == "1" for sp in tr.spans)
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []
    assert _busy_span([(0, 2), (1, 3), (5, 6)]) == 4


def test_checks_catch_faults(tmp: str) -> None:
    import wl_live_tail as live

    root, dest = os.path.join(tmp, "w"), os.path.join(tmp, "m")
    os.makedirs(os.path.join(dest, "d"))
    with open(os.path.join(dest, "d", "f.log"), "wb") as f:
        f.write(b"v1")
    log = [{"rel": "d/f.log", "version": 0, "md5": gen.md5(b"v0"), "due_at": 0.0},
           {"rel": "d/f.log", "version": 1, "md5": gen.md5(b"v1"), "due_at": 0.5}]
    path = os.path.join(root, "d/f.log")
    ok = [(path, gen.md5(b"v1"), 5.0, False)]
    done, errors = live.check_deliveries(log, root, dest, ok)
    assert not errors and done == {"d/f.log": 5.0}
    twice = ok + [(path, gen.md5(b"v1"), 6.0, False)]
    assert live.check_deliveries(log, root, dest, twice)[1], "double copy not caught"
    stale = [(path, gen.md5(b"v0"), 5.0, False)]
    assert live.check_deliveries(log, root, dest, stale)[1], "stale copy not caught"


def main() -> int:
    scratch = os.path.join(ROOT, ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=scratch)
    try:
        tests = [
            lambda: test_generators_deterministic(tmp),
            test_percentile_refuses_thin_tail,
            test_metric_names,
            test_tracer_self_time,
            lambda: test_checks_catch_faults(tmp),
        ]
        for t in tests:
            t()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"selftest ok ({len(tests)} checks)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
