#!/usr/bin/env python3
"""Steadiness check: two sets of runs of one checkout, compared.

    python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--seconds S]

Runs `run.py` --runs times per workload in each of two sets (set A with
seeds 1..runs, set B with seeds 101..100+runs), then prints, per workload
and end-to-end metric, both medians, their quartiles, the spread of each
set (distance between the quartiles as a share of the median) and whether
the sets agree: the two medians apart by no more than the metric's bound,
in either direction (both sets run the same code), and both spreads within
the bound. It also compares the share of failed operations of the two
sets, which must be identical. Every run's result is appended to
perfbench/results/steady.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited with {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    a = ap.parse_args()
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    log = open(os.path.join(HERE, "results", "steady.jsonl"), "a")
    ok = True
    for w in a.workloads.split(","):
        sets = []
        for base in (0, 100):
            rs = []
            for seed in range(base + 1, base + a.runs + 1):
                r = run(w, seed, a.seconds)
                log.write(json.dumps({"workload": w, "seed": seed, **r}) + "\n")
                log.flush()
                rs.append(r)
            sets.append(rs)
        shares = [sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs)
                  for rs in sets]
        print(f"{w}: failed share A={shares[0]:.6f} B={shares[1]:.6f}"
              f" {'same' if shares[0] == shares[1] else 'DIFFERENT'}")
        ok &= shares[0] == shares[1]
        for m in spec["end_to_end"]:
            row = []
            for rs in sets:
                v = [r["metrics"][m["name"]]["value"] for r in rs]
                q1, med, q3 = statistics.quantiles(v, n=4)
                row.append((statistics.median(v), q1, q3, (q3 - q1) / statistics.median(v)))
            (ma, q1a, q3a, sa), (mb, q1b, q3b, sb) = row
            agree = (abs(mb - ma) / ma <= m["bound"] and sa <= m["bound"]
                     and sb <= m["bound"])
            ok &= agree
            print(f"  {m['name']:28s} A {ma:.4g} [{q1a:.4g}, {q3a:.4g}] spread {sa:.3f}"
                  f" | B {mb:.4g} [{q1b:.4g}, {q3b:.4g}] spread {sb:.3f}"
                  f" | B vs A {(mb - ma) / ma:+.3f}"
                  f" | bound {m['bound']} {'agree' if agree else 'DISAGREE'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
