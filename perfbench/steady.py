"""Steadiness check: run one workload under several seeds and report, per
end-to-end metric, the median and the interquartile range as a share of
the median (the spread that must stay under a third of the metric's bound).

    python3 perfbench/steady.py --workload NAME [--runs 10] [--first-seed 1]
        [--seconds S] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spec import END_TO_END, RUN_SECONDS  # noqa: E402


def spread(values: list[float]) -> tuple[float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="steady.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=RUN_SECONDS)
    p.add_argument("--out", help="append each run's result line here (JSON lines)")
    args = p.parse_args(argv)
    values: dict[str, list[float]] = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True, cwd=os.path.dirname(HERE),
        )
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed,
                                    "wall_s": time.time() - t, "lines": lines}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {time.time() - t:.1f}s correct={res['correct']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    bounds = {n: b for n, _, _, b in END_TO_END}
    for k, vs in values.items():
        if len(vs) >= 2:
            med, sp = spread(vs)
            print(f"{k}: median {med:.5g}  spread {sp:.4f}  bound/3 {bounds[k] / 3:.4f}"
                  f"  {'OK' if sp < bounds[k] / 3 else 'NOISY'}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
