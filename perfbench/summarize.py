#!/usr/bin/env python3
"""Run a workload over several seeds and report each metric's spread.

    python3 perfbench/summarize.py --workload daily_refresh --seeds 1-10 \
        --out perfbench/results/spread.jsonl
    python3 perfbench/summarize.py --report perfbench/results/spread.jsonl

For every metric the report gives the median over the runs and the
distance between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound in
BENCHMARK.json.  Runs go one after another, from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited "
                           f"{out.returncode}: {out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    return {"workload": workload, "seed": seed, "trace": trace,
            "wall_s": wall, "host": json.loads(lines[-2])["host"],
            "result": json.loads(lines[-1])}


def report(rows: list[dict]) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m.get("bound")
                  for m in json.load(f)["end_to_end"]}
    by_wl: dict[str, list[dict]] = {}
    for r in rows:
        by_wl.setdefault(r["workload"], []).append(r)
    for wl, rs in sorted(by_wl.items()):
        ok = all(r["result"]["correct"] for r in rs)
        walls = [r["wall_s"] for r in rs]
        print(f"{wl}: {len(rs)} runs, all correct: {ok}, wall per run "
              f"median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        probes = [r["host"]["probe_ms"] for r in rs if "host" in r]
        if probes:
            print("  host probe ms per run: "
                  + " ".join(f"{p:.0f}" for p in probes))
        names = sorted({k for r in rs for k in r["result"]["metrics"]})
        for k in names:
            vals = [r["result"]["metrics"][k]["value"] for r in rs
                    if k in r["result"]["metrics"]]
            med = statistics.median(vals)
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med if med else float("nan")
            else:
                spread = float("nan")
            b = bounds.get(k)
            print(f"  {k:32s} median {med:12.4f}  iqr/median {spread:6.3f}"
                  + (f"  bound {b}" if b is not None else ""))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--report", nargs="*", default=[])
    args = ap.parse_args()
    rows = []
    for path in args.report:
        with open(path) as f:
            rows += [json.loads(line) for line in f if line.strip()]
    if args.workload:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            seconds = args.seconds or json.load(f)["run_seconds"]
        for seed in seeds(args.seeds):
            for wl in args.workload:
                r = run(wl, seed, seconds, args.trace)
                print(f"{wl} seed {seed}: {r['wall_s']:.1f}s "
                      f"{json.dumps(r['result']['metrics'])[:300]}",
                      file=sys.stderr, flush=True)
                rows.append(r)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps(r) + "\n")
    report(rows)
    return 0


if __name__ == "__main__":
    sys.exit(main())
