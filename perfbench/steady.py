"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/steady.py --workload cdc_merge --seeds 1 2 3 4 5

Runs ``perfbench/run.py`` untraced once per seed from the repository
root with ``run_seconds`` from BENCHMARK.json, then prints, per
end-to-end metric, the median, the first and third quartiles
(``statistics.quantiles(n=4)``) and the spread (Q3 - Q1) / median next
to the metric's bound. Each run's details are in
``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict = {}
    for seed in args.seeds:
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t = time.perf_counter()
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        took = time.perf_counter() - t
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(last)
        print(f"seed {seed}: {took:.1f} s, correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']}", flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':<44} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(k)
        flag = "" if bound is None else ("ok" if spread < bound / 3 else ("within" if spread <= bound else "WIDE"))
        print(f"{k:<44} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} {spread:>7.3f} {bound if bound else '':>6} {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
