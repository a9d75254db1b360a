#!/usr/bin/env python3
"""Steadiness check: two sets of benchmark runs of one commit.

    python3 perfbench/steady.py [--runs 10] [--workloads ask,curate]
                                [--seed0 1] [--json FILE]

For each workload it makes `runs` pairs of runs, one run of set A and
one of set B per pair, alternating which set goes first, each pair on
its own seed (seed0, seed0 + 1, ...). It then prints, per (workload,
end-to-end metric), each set's median and quartiles
(`statistics.quantiles(n=4)`), the spread (quartile distance over the
median) and whether the sets agree: both sets' spreads within the
metric's bound, the two medians apart by at most the bound (as a share
of set A's, in either direction), and the same share of failed
operations in both sets.
`--json` also writes every run's numbers.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"run failed ({workload}, seed {seed}):\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def worse(m, a, b):
    """How much worse b is than a, as a share of a (negative: better)."""
    return (b - a) / a if m["better"] == "lower" else (a - b) / a


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--json")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    runs = {w: {"A": [], "B": []} for w in workloads}
    for w in workloads:
        for i in range(args.runs):
            seed = args.seed0 + i
            for s in (("A", "B") if i % 2 == 0 else ("B", "A")):
                r = one_run(w, seed, spec["run_seconds"])
                r["seed"] = seed
                runs[w][s].append(r)
                print(f"{w} set {s} seed {seed}: " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()) +
                    f", correct={r['correct']}, failed={r['failed']}/{r['attempted']}",
                    flush=True)
    ok = True
    print(f"\n| workload | metric | bound | A median [q1, q3] | A spread | "
          f"B median [q1, q3] | B spread | B vs A | agree |")
    print("|---|---|---|---|---|---|---|---|---|")
    for w in workloads:
        for m in spec["end_to_end"]:
            sa, sb = (summary([r["metrics"][m["name"]]["value"] for r in runs[w][s]])
                      for s in ("A", "B"))
            d = worse(m, sa["median"], sb["median"])
            agree = abs(d) <= m["bound"] and max(sa["spread"], sb["spread"]) <= m["bound"]
            ok &= agree
            print(f"| {w} | {m['name']} | {m['bound']} | "
                  f"{sa['median']:.4g} [{sa['q1']:.4g}, {sa['q3']:.4g}] | {sa['spread']:.3f} | "
                  f"{sb['median']:.4g} [{sb['q1']:.4g}, {sb['q3']:.4g}] | {sb['spread']:.3f} | "
                  f"{d:+.3f} | {'yes' if agree else 'NO'} |")
        share = {s: (sum(r["failed"] for r in runs[w][s]), sum(r["attempted"] for r in runs[w][s]))
                 for s in ("A", "B")}
        same = share["A"][0] * share["B"][1] == share["B"][0] * share["A"][1]
        correct = all(r["correct"] for s in ("A", "B") for r in runs[w][s])
        ok &= same and correct
        print(f"| {w} | failed/attempted | exact | {share['A'][0]}/{share['A'][1]} | | "
              f"{share['B'][0]}/{share['B'][1]} | | | {'yes' if same else 'NO'} |")
        if not correct:
            print(f"| {w} | correct | | some run was NOT correct | | | | | NO |")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(runs, f, indent=1)
    print("\nsteady" if ok else "\nNOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
