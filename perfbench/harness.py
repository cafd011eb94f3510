"""One workload run, in its own process (started by run.py with the run
environment already pinned). Writes ``result.json`` into its work dir.

    python3 perfbench/harness.py --workload NAME --seed N --seconds S
        --trace 0|1 --workdir DIR --spawned-at EPOCH
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from spec import PER_LAYER  # noqa: E402
from stats import Metrics, median  # noqa: E402
from instrument import Tracer, engine_totals, read_jobs  # noqa: E402

OP_GROUP = "pb-op"


class Context:
    """What a workload needs: its inputs' seed, the clock, the tracer and
    the metric sink."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.workdir = args.workdir
        self.spawned_at = args.spawned_at
        self.metrics = Metrics()
        self.tracer = Tracer(self.trace)
        self.details: dict = {}
        self.gen_s = 0.0
        self.first_op_at: float | None = None
        self.spark = None
        self.jvm_pid: int | None = None

    def phase(self, name: str) -> None:
        """Note when a set-up phase ended, in seconds since process spawn."""
        self.details.setdefault("phases_s", {})[name] = round(time.time() - self.spawned_at, 3)

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def start_spark(self):
        from log_agent_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.session_start_s = time.perf_counter() - t
        self.phase("spark_started")
        try:
            mx = self.spark._jvm.java.lang.management.ManagementFactory
            self.jvm_pid = int(mx.getRuntimeMXBean().getName().split("@")[0])
        except Exception:  # noqa: BLE001 — RSS is report-only
            self.jvm_pid = None
        return self.spark

    def jvm_rss_peak_mb(self) -> float:
        try:
            with open(f"/proc/{self.jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except (OSError, TypeError):
            pass
        return 0.0

    def mark_setup_done(self) -> None:
        self.first_op_at = time.time()
        self.phase("setup_done")

    def setup_s(self) -> float:
        """Process start to first timed operation, less input generation."""
        return self.first_op_at - self.spawned_at - self.gen_s

    def set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    def run_ops(self, op, warmups: tuple[str, ...]) -> list[dict]:
        """Untimed warm-up operations, then operations back to back for
        ``seconds``: a new one starts while it would end, at its median
        duration, no more than half an operation past the deadline. In a
        traced run every other operation is traced (job group plus spans),
        so tracing overhead is an interleaved A/B."""
        self.tracer.active = False
        for w in warmups:
            op(w)
        self.mark_setup_done()
        ops = []
        start = time.perf_counter()
        deadline = start + self.seconds
        i = 0
        while not ops or time.perf_counter() + median([o["s"] for o in ops]) / 2 < deadline:
            traced = self.trace and i % 2 == 0
            self.tracer.active = traced
            if traced:
                self.set_group(f"{OP_GROUP}{i}")
            t = time.perf_counter()
            with self.tracer.span(f"{self.workload}.op", op=str(i)):
                op(i)
            ops.append({"i": i, "s": time.perf_counter() - t, "traced": traced})
            if traced:
                self.set_group(None)
            i += 1
        self.window_s = time.perf_counter() - start
        self.tracer.active = self.trace
        self.details["op_s"] = [round(o["s"], 4) for o in ops]
        return ops

    def report_overhead(self, traced: list[float], plain: list[float]) -> None:
        if traced and plain:
            pct = 100.0 * (median(traced) - median(plain)) / median(plain)
            self.metrics.add("trace.overhead_pct", pct, "%", len(traced) + len(plain))

    def traced_op_engine(self, ops: list[dict]) -> list[dict]:
        """Engine totals of each traced operation, found by its job group."""
        jobs = read_jobs(self.spark, OP_GROUP)
        return [
            engine_totals([j for j in jobs if j["group"] == f"{OP_GROUP}{o['i']}"], o["s"])
            for o in ops
            if o["traced"]
        ]

    def report_engine(self, per_op: list[dict]) -> None:
        """spark.* per-layer metrics: medians over the traced operations."""
        units = {"jobs": "count", "tasks": "count", "shuffle_write_mb": "MB", "spill_mb": "MB"}
        for key in per_op[0] if per_op else ():
            self.metrics.add(
                f"spark.{key}", median([p[key] for p in per_op]), units.get(key, "s"), len(per_op)
            )

    def report_common_layers(self) -> None:
        self.metrics.add("session.start_s", self.session_start_s, "s")
        self.metrics.add("session.jvm_rss_peak_mb", self.jvm_rss_peak_mb(), "MB")

    def fill_idle_layers(self) -> None:
        """A traced run reports every per-layer metric; a layer this
        workload does not exercise reports 0 from 0 samples."""
        for name, unit, _ in PER_LAYER:
            if name not in self.metrics.values:
                self.metrics.add(name, 0.0, unit, 0)


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="harness.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--workdir", required=True)
    p.add_argument("--spawned-at", type=float, required=True)
    args = p.parse_args(argv)
    ctx = Context(args)
    ctx.phase("harness_started")
    mod = importlib.import_module(f"wl_{args.workload}")
    outcome = mod.run(ctx)
    if ctx.trace:
        ctx.fill_idle_layers()
        ctx.tracer.dump(ctx.path("spans.json"))
        ctx.details["spans"] = ctx.tracer.summary()
    result = {
        **outcome,
        "metrics": ctx.metrics.result(),
        "samples": ctx.metrics.samples(),
        "details": ctx.details,
    }
    with open(ctx.path("result.json"), "w") as f:
        json.dump(result, f)
    # run.py ends the JVM together with the rest of this process group; a
    # graceful spark.stop() would only add seconds to every run
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
