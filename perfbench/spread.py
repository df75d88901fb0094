"""Run-to-run spread of the benchmark.

    python3 perfbench/spread.py --workloads social_batch,social_stream --runs 10 [--first-seed 1] [--trace 0]

Runs ``perfbench/run.py`` once per seed and workload, one after another,
and prints for each workload and metric the median, the quartiles
(``statistics.quantiles(values, n=4)``), the spread (third minus first
quartile, as a share of the median) and the metric's bound from
BENCHMARK.json, plus each run's elapsed time and the share of busy CPU
time the hypervisor stole from this machine meanwhile (on a shared host a
high share explains a wide spread). Appends every run's result line to
``.perfbench/spread.jsonl``.
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
ROOT = os.path.dirname(HERE)


def _cpu_jiffies() -> tuple[int, int]:
    """(busy including steal, steal) from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]) - f[3] - f[4], f[7]  # minus idle and iowait


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "spread.jsonl"), "a") as log:
        ok = True
        for w in args.workloads.split(","):
            values: dict[str, list[float]] = {}
            elapsed = []
            busy0, steal0 = _cpu_jiffies()
            for seed in range(args.first_seed, args.first_seed + args.runs):
                t0 = time.monotonic()
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                     "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                     "--trace", str(args.trace)],
                    cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                )
                elapsed.append(time.monotonic() - t0)
                lines = p.stdout.strip().splitlines()
                if p.returncode != 0 or not lines:
                    print(f"{w} seed {seed}: exit {p.returncode}", flush=True)
                    ok = False
                    continue
                res = json.loads(lines[-1])
                log.write(json.dumps({"workload": w, "seed": seed, "elapsed_s": elapsed[-1], **res}) + "\n")
                log.flush()
                ok &= res["correct"]
                for k, v in res["metrics"].items():
                    values.setdefault(k, []).append(v["value"])
            busy1, steal1 = _cpu_jiffies()
            print(f"== {w}: {len(elapsed)} runs, elapsed s min/median/max "
                  f"{min(elapsed):.1f}/{statistics.median(elapsed):.1f}/{max(elapsed):.1f}, "
                  f"{(steal1 - steal0) / max(busy1 - busy0, 1):.1%} of busy CPU time stolen")
            for k, vs in sorted(values.items()):
                med = statistics.median(vs)
                if len(vs) >= 2:
                    q1, _, q3 = statistics.quantiles(vs, n=4)
                else:
                    q1 = q3 = med
                spread = (q3 - q1) / med if med else float("nan")
                print(f"  {k:42s} median {med:14.4f}  q1 {q1:14.4f}  q3 {q3:14.4f}  "
                      f"spread {spread:6.3f}  bound {bounds.get(k)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
