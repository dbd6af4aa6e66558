#!/usr/bin/env python3
"""Alternated parent/change pairs of the repo benchmark, with the gain rule.

    python3 tools/bench_pairs.py --parent ../parent --change . \\
        --workload serve_mix --pairs 10 --seeds 1,2,3,4,5,6,7,8,9,11

Each pair runs `python3 perfbench/run.py --workload W --seed S --seconds T
--trace 0` once in each checkout, alternating which side runs first (pair 0
runs the parent first). Seeds are taken from `--seeds` in turn. `T` is
`run_seconds` from BENCHMARK.json unless `--seconds` is given. Both
checkouts must already build; the first run in each builds it.

For each end-to-end metric of BENCHMARK.json it prints each side's median
and interquartile range (IQR), the pairs the change won (ties count for
neither side), the change's worsening of the median against the metric's
bound, and whether the gain rule holds: the change wins at least nine tenths
of the pairs and the medians differ, in the better direction, by more than
the parent's IQR. `--out` also writes every run's figures as JSON. The
script reads BENCHMARK.json and runs perfbench/ but changes neither.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.exit(f"{checkout}: no result from seed {seed} (exit {proc.returncode})")
    final = json.loads(lines[-1])
    return {"seed": seed, "correct": final["correct"], "attempted": final["attempted"],
            "failed": final["failed"],
            "metrics": {k: v["value"] for k, v in final["metrics"].items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent commit checkout")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", required=True, help="comma-separated seed list, used in turn")
    ap.add_argument("--seconds", type=int, help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--out", help="write every run's figures here as JSON")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    seeds = [int(s) for s in args.seeds.split(",")]
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = seeds[i % len(seeds)]
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(getattr(args, side), args.workload, seed, seconds)
            runs[side].append(r)
            print(f"pair {i} seed {seed} {side}: failed {r['failed']}/{r['attempted']} "
                  + " ".join(f"{k}={v:.4g}" for k, v in sorted(r["metrics"].items())),
                  file=sys.stderr, flush=True)

    print(f"{args.workload}: {args.pairs} pairs, seeds {seeds[:args.pairs]}, {seconds} s runs")
    print(f"failed ops: parent {sum(r['failed'] for r in runs['parent'])}, "
          f"change {sum(r['failed'] for r in runs['change'])}; all correct: "
          f"{all(r['correct'] for side in runs.values() for r in side)}")
    summary = {}
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"][name] for r in runs["parent"]]
        c = [r["metrics"][name] for r in runs["change"]]
        pm, cm = statistics.median(p), statistics.median(c)
        pq, cq = quartiles(p), quartiles(c)
        p_iqr = pq[1] - pq[0]
        wins = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
        gain = (pm - cm) if lower else (cm - pm)
        worse = -gain / abs(pm) if pm else 0.0
        holds = wins * 10 >= 9 * len(p) and gain > p_iqr
        summary[name] = {"parent_median": pm, "parent_iqr": p_iqr, "change_median": cm,
                         "change_iqr": cq[1] - cq[0], "change_wins": wins,
                         "worse_frac": worse, "bound": m["bound"], "gain_rule": holds}
        print(f"  {name:20s} parent {pm:10.4g} [IQR {p_iqr:.3g}]  change {cm:10.4g} "
              f"[IQR {cq[1] - cq[0]:.3g}]  change wins {wins}/{len(p)}  "
              f"worse {worse:+.1%} (bound {m['bound']:.0%})  gain rule {'holds' if holds else 'no'}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "seconds": seconds, "runs": runs,
                       "summary": summary}, fh, indent=1)


if __name__ == "__main__":
    main()
