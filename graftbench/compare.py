#!/usr/bin/env python3
"""Compare benchmark runs of a parent commit and a change.

Run pairs (same seed on both sides, alternating which side goes first):

    python3 graftbench/compare.py run --parent ../parent --change . \\
        --workloads star_serve,iter_tier --pairs 10 --out pairs.jsonl

Report on recorded pairs:

    python3 graftbench/compare.py report pairs.jsonl

Each `run` line records one run: side, workload, seed and the runner's
final JSON. `report` prints one row per workload and end-to-end metric:
each side's median and quartiles, the share of pairs the change won
(ties count for neither side) and a verdict:

  (fewer than ten pairs: unresolved)
  improved    the change won at least 9 of 10 pairs and the medians differ
              by more than the parent's own quartile spread;
  unresolved  the parent's quartile spread exceeds the metric's bound, so
              "no worse" cannot be shown (unless every change run beats
              every parent run, which reads as improved);
  worse       the change's median is worse than the parent's by more than
              the bound BENCHMARK.json fixes for the metric;
  no worse    otherwise.
A run that failed or reported incorrect outputs makes its side "failed".
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_one(checkout, workload, seed, seconds):
    p = subprocess.run(["python3", "graftbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]), p.returncode
    except (IndexError, ValueError):
        return None, p.returncode


def cmd_run(a):
    bench = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    seconds = a.seconds or bench["run_seconds"]
    with open(a.out, "a") as out:
        for i in range(a.pairs):
            seed = a.first_seed + i
            for w in a.workloads.split(","):
                sides = [("parent", a.parent), ("change", a.change)]
                if i % 2:
                    sides.reverse()
                for side, checkout in sides:
                    res, rc = run_one(checkout, w, seed, seconds)
                    rec = {"side": side, "workload": w, "seed": seed, "rc": rc, "result": res}
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    print(f"pair {i + 1}/{a.pairs} {w} seed {seed} {side}: rc {rc}", file=sys.stderr)


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(p, c, better, bound, pairs):
    lo = better == "lower"
    wins = sum(1 for x, y in pairs if (y < x if lo else y > x))
    share = wins / len(pairs) if pairs else 0.0
    if len(pairs) < 10:  # the rule needs at least ten pairs
        return "unresolved", share
    p1, pm, p3 = quartiles(p)
    _, cm, _ = quartiles(c)
    gain = (pm - cm) if lo else (cm - pm)
    if share >= 0.9 and gain > (p3 - p1):
        return "improved", share
    if pm and (p3 - p1) / abs(pm) > bound:
        every = all((y < min(p) if lo else y > max(p)) for y in c)
        return ("improved" if every else "unresolved"), share
    worse_by = (cm - pm) if lo else (pm - cm)
    return ("worse" if pm and worse_by / abs(pm) > bound else "no worse"), share


def cmd_report(a):
    bench = json.load(open(a.benchmark))
    recs = [json.loads(l) for l in open(a.pairs_file) if l.strip()]
    print(f"{'workload':<12} {'metric':<12} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} "
          f"{'won':>5} verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        rows = [r for r in recs if r["workload"] == w]
        if not rows:
            continue
        bad = {r["side"] for r in rows if r["rc"] != 0 or not r["result"] or not r["result"]["correct"]}
        for m in bench["end_to_end"]:
            name = m["name"]

            def vals(side):
                return {r["seed"]: r["result"]["metrics"][name]["value"] for r in rows
                        if r["side"] == side and r["result"] and name in r["result"]["metrics"]}
            p, c = vals("parent"), vals("change")
            seeds = sorted(set(p) & set(c))
            v, share = verdict(list(p.values()), list(c.values()), m["better"], m["bound"],
                               [(p[s], c[s]) for s in seeds])
            if bad:
                v = "failed (" + ",".join(sorted(bad)) + ")"
            fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(list(xs.values())))
            print(f"{w:<12} {name:<12} {fmt(p):>28} {fmt(c):>28} {share:>5.0%} {v}"
                  f"  (n={len(p)}/{len(c)})")


def main():
    ap = argparse.ArgumentParser(description="compare a parent and a change")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run alternating pairs and record them")
    r.add_argument("--parent", required=True, help="checkout of the parent commit")
    r.add_argument("--change", required=True, help="checkout of the change")
    r.add_argument("--workloads", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1000)
    r.add_argument("--seconds", type=int, default=0, help="default: BENCHMARK.json run_seconds")
    r.add_argument("--out", required=True)
    p = sub.add_parser("report", help="report recorded pairs")
    p.add_argument("pairs_file")
    p.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    cmd_run(a) if a.cmd == "run" else cmd_report(a)


if __name__ == "__main__":
    main()
