#!/usr/bin/env python
"""Interleaved A/B bench protocol, machine-readable (VERDICT r16 #4).

The sandbox host's effective core speed flaps ~2x within minutes
(BENCHNOISE.md), so single before/after pairs are useless: the only
valid evidence is alternating fresh-process runs of a baseline tree
(A) and the working tree (B), compared pairwise / by median.  This
tool runs that protocol and appends ONE JSON line per run to
BENCHNOISE_raw.jsonl so the next judge can recompute every claimed
median from an artifact instead of prose:

    {"_tag": "<tag>-<round><A|B>", "tree": "<head sha or WORKING>",
     "order": <seq>, "wall_sec": ..., "load_before": "...",
     "load_after": "...", ...bench.py's own JSON line, or the
     perfbench run's workload, seed, host and result...}

Usage:
    python tools/ab.py --baseline <git-ref> [--rounds 3]
        [--tag r17-ab] [--queries q1,q2] [--out BENCHNOISE_raw.jsonl]
    python tools/ab.py --baseline <git-ref> --perfbench <workload>
        [--rounds 10] [--tag <tag>] [--baseline-dir DIR]

The baseline ref is exported once (``git archive``) into
``--baseline-dir`` (default /tmp/ab_baseline_<sha>); both trees run the
SAME contract in fresh processes.

bench.py mode: $SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS, min-of-2 reps.
--queries sets SPARK_GRAFT_BENCH_QUERIES for BOTH trees — comparable
subsets, cheaper rounds; per-query values stay comparable to full
runs, the subset total is not a headline total.  If the baseline
tree's bench.py predates that env var it simply runs the full roster —
per-query comparisons still hold.

--perfbench mode: each run is ``perfbench/run.py --workload <workload>
--seed <round> --seconds 10 --trace 0`` from that tree's root; the
line records the run's ``host`` and ``result`` lines.  The summary
gives each end-to-end metric's median and quartiles per arm, how many
rounds B won, and whether the medians differ by more than A's
interquartile range (BENCHMARK.json says which direction is better).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def loadavg() -> str:
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def run_json(cmd: list[str], tree: str, env: dict) -> tuple:
    """Run ``cmd`` in ``tree``.  Returns its last stdout line parsed as
    JSON, the lines before it, and the run's wall time and load."""
    t0, lb = time.perf_counter(), loadavg()
    p = subprocess.run(cmd, cwd=tree, env=env, capture_output=True,
                       text=True, timeout=1800)
    wall, la = time.perf_counter() - t0, loadavg()
    lines = p.stdout.strip().splitlines() or [""]
    try:
        last = json.loads(lines[-1])
    except json.JSONDecodeError:
        raise RuntimeError(
            f"{cmd[1]} in {tree} emitted no JSON (rc={p.returncode}): "
            f"{p.stderr[-2000:]}")
    return last, lines[:-1], {"wall_sec": round(wall, 1),
                              "load_before": lb, "load_after": la}


def run_bench(tree: str, env: dict, rnd: int, args) -> dict:
    d, _, timing = run_json([sys.executable, "bench.py"], tree, env)
    return {**d, **timing}


def run_perfbench(tree: str, env: dict, rnd: int, args) -> dict:
    result, before, timing = run_json(
        [sys.executable, "perfbench/run.py", "--workload", args.perfbench,
         "--seed", str(rnd), "--seconds", "10", "--trace", "0"],
        tree, env)
    return {"workload": args.perfbench, "seed": rnd, **timing,
            "host": json.loads(before[-1])["host"] if before else {},
            "result": result}


def med(vals):
    return round(statistics.median(vals), 3)


def bench_summary(rows, args, sha) -> dict:
    """Per-query medians over each arm."""
    names = sorted({q for _, d in rows for q in d["queries"]})
    summary = {"tag": args.tag, "rounds": args.rounds,
               "baseline": sha, "queries": {}}
    for q in names:
        a = [d["queries"][q] for l, d in rows
             if l == "A" and q in d["queries"]]
        b = [d["queries"][q] for l, d in rows
             if l == "B" and q in d["queries"]]
        if a and b:
            summary["queries"][q] = {
                "A_median": med(a), "B_median": med(b),
                "speedup": round(med(a) / med(b), 3) if med(b) else None}
    summary["total"] = {
        "A_median": med([d["value"] for l, d in rows if l == "A"]),
        "B_median": med([d["value"] for l, d in rows if l == "B"])}
    return summary


def perfbench_summary(rows, args, sha) -> dict:
    """Per end-to-end metric: each arm's median and quartiles, the
    rounds B won, and whether |median A - median B| exceeds A's IQR."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"]
                  for m in json.load(f)["end_to_end"]}
    by_round: dict[int, dict] = {}
    for label, d in rows:
        by_round.setdefault(d["seed"], {})[label] = d["result"]
    summary = {"tag": args.tag, "workload": args.perfbench,
               "rounds": args.rounds, "baseline": sha,
               "correct": all(d["result"]["correct"] for _, d in rows),
               "failed": sum(d["result"]["failed"] for _, d in rows),
               "metrics": {}}
    for name, direction in better.items():
        arms = {label: [d["result"]["metrics"][name]["value"]
                        for l, d in rows if l == label]
                for label in "AB"}
        if len(arms["A"]) < 2 or len(arms["B"]) < 2:
            continue
        q = {label: statistics.quantiles(v, n=4)
             for label, v in arms.items()}
        sign = -1 if direction == "lower" else 1
        wins = sum(1 for r in by_round.values() if len(r) == 2 and
                   sign * (r["B"]["metrics"][name]["value"]
                           - r["A"]["metrics"][name]["value"]) > 0)
        summary["metrics"][name] = {
            **{f"{label}_{k}": round(v, 3) for label in "AB"
               for k, v in zip(("q1", "median", "q3"), q[label])},
            "B_wins": f"{wins}/{len(by_round)}",
            "beyond_A_iqr": abs(statistics.median(arms["B"])
                                - statistics.median(arms["A"]))
                            > q["A"][2] - q["A"][0],
        }
    return summary


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--baseline", required=True,
                    help="git ref for the A tree")
    ap.add_argument("--baseline-dir",
                    help="where to export the A tree "
                         "(default /tmp/ab_baseline_<sha>)")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--tag", default="r17-ab")
    ap.add_argument("--queries", default="",
                    help="comma-separated bench subset for both trees")
    ap.add_argument("--perfbench", metavar="WORKLOAD",
                    help="run perfbench/run.py on WORKLOAD, seed = round, "
                         "instead of bench.py")
    ap.add_argument("--out",
                    default=os.path.join(REPO, "BENCHNOISE_raw.jsonl"))
    args = ap.parse_args()

    sha = subprocess.run(["git", "rev-parse", "--short",
                          args.baseline], cwd=REPO, check=True,
                         capture_output=True, text=True).stdout.strip()
    base_dir = args.baseline_dir or f"/tmp/ab_baseline_{sha}"
    if not os.path.isdir(base_dir):
        os.makedirs(base_dir)
        archive = subprocess.run(["git", "archive", sha], cwd=REPO,
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", base_dir], input=archive,
                       check=True)
        log(f"ab: baseline tree {base_dir} @ {sha}")

    env = dict(os.environ)
    if args.queries:
        env["SPARK_GRAFT_BENCH_QUERIES"] = args.queries
    else:
        env.pop("SPARK_GRAFT_BENCH_QUERIES", None)
    run = run_perfbench if args.perfbench else run_bench

    seq = 0
    rows = []
    with open(args.out, "a") as f:
        for rnd in range(1, args.rounds + 1):
            # alternate which arm runs first each round: a host whose
            # speed drifts WITHIN a round (quota replenishment,
            # thermal) otherwise systematically penalizes the
            # second-run arm — observed as ±15-20% scatter on
            # UNTOUCHED queries when A always ran first
            arms = [("A", base_dir, sha), ("B", REPO, "WORKING")]
            if rnd % 2 == 0:
                arms.reverse()
            for label, tree, tid in arms:
                seq += 1
                d = run(tree, env, rnd, args)
                d["_tag"] = f"{args.tag}-{rnd}{label}"
                d["tree"] = tid
                d["order"] = seq
                f.write(json.dumps(d) + "\n")
                f.flush()
                rows.append((label, d))
                shown = (d["result"]["metrics"] if args.perfbench
                         else f"total={d['value']}")
                log(f"ab: {d['_tag']} {shown} wall={d['wall_sec']}s")

    summarize = perfbench_summary if args.perfbench else bench_summary
    print(json.dumps(summarize(rows, args, sha), indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
