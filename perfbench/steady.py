"""Steadiness of the benchmark: repeat one workload in fresh processes and
print, for every metric, the median, the quartiles and the spread (distance
between the quartiles as a share of the median), plus the share of failed
operations. The bounds in BENCHMARK.json are set from this output.

    python3 perfbench/steady.py --workload connector_etl --runs 10 [--first-seed 1] [--trace 0]

Run it from the repository root. Each run uses the next seed and the
``run_seconds`` of BENCHMARK.json; every result line is also appended to
``.perfbench/steady-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    log = os.path.join(ROOT, ".perfbench", f"steady-{args.workload}.jsonl")
    results = []
    for i in range(args.runs):
        seed = args.first_seed + i
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        stolen = re.search(r"stolen by the hypervisor during the run: ([0-9.]+)%", proc.stderr)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}, no result", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        res["seed"] = seed
        res["wall_s"] = wall
        res["steal_share"] = float(stolen.group(1)) / 100 if stolen else None
        results.append(res)
        with open(log, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, **res}) + "\n")
        print(f"seed {seed} ({wall:.0f} s, steal {res['steal_share']}): " + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                                            if k in bounds or args.trace), file=sys.stderr)
    if not results:
        return 1
    shares = sorted({r["failed"] / r["attempted"] for r in results})
    walls = [r["wall_s"] for r in results]
    print(f"{args.workload}: {len(results)} runs, {statistics.mean(walls):.1f} s each on average; "
          f"failed share per run: {shares}")
    print(f"{'metric':40s} {'unit':6s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name)
        print(f"{name:40s} {results[0]['metrics'][name]['unit']:6s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{spread:8.3f} {bound if bound is not None else '':>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
