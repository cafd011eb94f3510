"""Benchmark launcher: one seeded run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The launcher pins the run environment
(cores, driver memory, PYTHONPATH for Spark's Python workers, local dirs
inside the checkout), samples the host-steal canary before the run, and
runs the workload in a child process whose own output (including the
console sink's ``show()``) goes to a log file. It prints the environment,
the canary, per-metric sample counts and details, and as its last line one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. Exits non-zero without a result line if the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spec import WORKLOADS  # noqa: E402

CHILD_TIMEOUT_S = 140
STATE_DIR = ".perfbench"


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _phys_gb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30


def pinned_env(workdir: str) -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(workdir, "tmp")
    env.update(
        # temp files stay in the checkout: Python's, and the JVM's (it
        # extracts native libraries to java.io.tmpdir and would keep a
        # perf-data file under /tmp)
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=" ".join(
            o for o in (env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if o
        ),
        SPARK_GRAFT_CPUS=str(_nproc()),
        # the engine defaults to a 48g driver; stay well under the host's RAM
        SPARK_GRAFT_DRIVER_MEM=f"{max(1, min(4, _phys_gb() // 4))}g",
        # Spark's Python workers import log_agent_spark from the checkout
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_LOCAL_DIRS=os.path.join(workdir, "local"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env.pop("SPARK_GRAFT_SF_DIR", None)
    return env


def canary(nproc: int) -> tuple[float, float]:
    """One round of each of bench's canaries: its single-threaded spin
    (``bench._canary_sample`` keeps the best of three) and its ``nproc``
    concurrent spins in separate processes (``bench._canary_mc_sample``
    keeps the best of two). One round each reads the same host speed,
    comparable with ``bench.CANARY_BASELINE_SEC``, in about 2 s instead of
    about 6 s, which the runs' time budget cannot spare."""
    import gc
    import multiprocessing as mp

    import bench

    gc.disable()
    try:
        t = time.perf_counter()
        bench._mc_spin(bench._CANARY_ITERS)
        single = time.perf_counter() - t
    finally:
        gc.enable()
    t = time.perf_counter()
    with mp.Pool(nproc) as pool:
        pool.map(bench._mc_spin, [bench._CANARY_ITERS] * nproc)
    return single, time.perf_counter() - t


def cpu_times() -> list[int]:
    """The host-wide CPU time counters of /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def bench_baseline() -> float:
    import bench

    return bench.CANARY_BASELINE_SEC


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _end_group(pgid: int) -> None:
    """Kill what is left of the child's process group (the JVM, Python
    workers, a lander) and wait until every member has ended."""
    if _group_alive(pgid):
        os.killpg(pgid, signal.SIGKILL)
    while _group_alive(pgid):
        time.sleep(0.05)


def run_child(args, workdir: str) -> tuple[int, float]:
    cmd = [
        sys.executable, os.path.join(HERE, "harness.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--workdir", workdir,
    ]
    with open(os.path.join(workdir, "agent.log"), "wb") as out, open(
        os.path.join(workdir, "agent.err"), "wb"
    ) as err:
        spawned_at = time.time()
        proc = subprocess.Popen(
            cmd + ["--spawned-at", repr(spawned_at)],
            cwd=ROOT, env=pinned_env(workdir), stdout=out, stderr=err,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )

        def _stop(signum, frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            _end_group(proc.pid)
            raise SystemExit(128 + signum)

        signal.signal(signal.SIGTERM, _stop)
        signal.signal(signal.SIGINT, _stop)
        try:
            rc = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            rc = proc.wait()
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
            signal.signal(signal.SIGINT, signal.default_int_handler)
        _end_group(proc.pid)
    return rc, time.time() - spawned_at


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="run.py")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "log_agent_spark", "__init__.py")) or not (
        os.path.isfile(os.path.join(ROOT, "bench.py"))
    ):
        print(f"run.py: no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    nproc = _nproc()
    workdir = os.path.join(ROOT, STATE_DIR, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    try:
        # report-only host-speed readings: the canary, sampled once, before
        # the run, as an end-of-run sample too would not fit the runs' time
        # budget; and the CPU time stolen by other guests during the run
        c0 = canary(nproc)
        t0 = cpu_times()
        rc, child_s = run_child(args, workdir)
        steal = steal_share(t0, cpu_times())
        res_path = os.path.join(workdir, "result.json")
        if rc != 0 or not os.path.exists(res_path):
            with open(os.path.join(workdir, "agent.err"), "rb") as f:
                tail = f.read()[-4000:].decode(errors="replace")
            print(f"run.py: workload exited {rc}\n{tail}", file=sys.stderr)
            return 1
        with open(res_path) as f:
            res = json.load(f)
        if args.trace:
            traces = os.path.join(ROOT, STATE_DIR, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(
                os.path.join(workdir, "spans.json"),
                os.path.join(traces, f"{args.workload}-{args.seed}.json"),
            )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    env = pinned_env(workdir)
    print("env " + json.dumps({
        k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "PYTHONPATH")
    } | {"nproc": nproc, "phys_gb": _phys_gb(), "python": sys.version.split()[0]}))
    print("canary " + json.dumps({
        "start": round(c0[0], 4), "mc_start": round(c0[1], 4),
        "vs_baseline": round(c0[0] / bench_baseline(), 4),
        "steal_during_run": round(steal, 4),
    }))
    print("samples " + json.dumps(res["samples"]))
    print("details " + json.dumps(res["details"] | {"child_s": round(child_s, 3)}))
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"], "metrics": res["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
