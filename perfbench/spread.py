"""Run the benchmark on several seeds and report each metric's median and
quartile spread (IQR / median), the steadiness test a benchmark run set
has to pass:

    python3 perfbench/spread.py --workload many_small_groups \
        --seeds 1 2 3 4 5 [--seconds 22] [--trace 0]

Run from the root of a checkout. ``--seconds`` defaults to
BENCHMARK.json's run_seconds. Raw results are appended, one JSON line per
run, to ``.perfbench/spread.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(q1, median, q3, (q3 - q1) / median) as statistics.quantiles(n=4)
    gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    declared = bench["per_layer" if a.trace else "end_to_end"]
    values: dict[str, list[float]] = {m["name"]: [] for m in declared}
    log = os.path.join(ROOT, ".perfbench", "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for seed in a.seeds:
        cmd = [*bench["command"], "--workload", a.workload, "--seed",
               str(seed), "--seconds", str(a.seconds), "--trace",
               str(a.trace)]
        res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                             timeout=900)
        lines = res.stdout.strip().splitlines()
        if res.returncode != 0 or not lines:
            print(f"seed {seed}: exit {res.returncode}\n{res.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        out = json.loads(lines[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": seed,
                                "trace": a.trace, **out}) + "\n")
        print(f"seed {seed}: correct={out['correct']} "
              f"failed={out['failed']}/{out['attempted']}", flush=True)
        for k, v in out["metrics"].items():
            values[k].append(v["value"])
    if len(a.seeds) < 2:
        return 0
    bounds = {m["name"]: m.get("bound") for m in declared}
    print(f"{'metric':32s} {'q1':>12s} {'median':>12s} {'q3':>12s} "
          f"{'spread':>7s} {'bound':>6s}")
    for k, vs in values.items():
        q1, med, q3, sp = spread(vs)
        b = bounds[k]
        print(f"{k:32s} {q1:12.4g} {med:12.4g} {q3:12.4g} {sp:7.3f} "
              f"{'' if b is None else format(b, '.2f'):>6s}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
