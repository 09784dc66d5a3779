"""Steadiness report: two sets of benchmark runs of the same checkout.

    python3 perfbench/steadiness.py [--runs 10] [--sets 2] [--workloads star_etl,...]

Each set runs every workload --runs times, each run with its own seed (set A
uses seeds 1..N, set B 1001..1000+N). For every metric and workload it prints
both sets' medians and quartiles and the spread (Q3 - Q1) / median, and flags

  SPREAD  a set's spread above the metric's bound (setup_s is exempt),
  DRIFT   set B's median worse than set A's by more than the bound,

with bounds from BENCHMARK.json. Spreads under a third of the bound are the
target. Exits 1 if anything is flagged or any run failed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        print("run failed: %s seed %d\n%s" % (workload, seed, r.stderr[-2000:]), file=sys.stderr)
        return None
    return json.loads(r.stdout.strip().splitlines()[-1])


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--sets", type=int, default=2, choices=(1, 2))
    a = ap.parse_args()
    spec = {m["name"]: m for m in bench["end_to_end"]}

    flagged, failures = [], 0
    for w in a.workloads.split(","):
        sets = []
        for s in range(a.sets):
            vals = {}
            for i in range(a.runs):
                seed = 1 + 1000 * s + i
                r = run_once(w, seed, a.seconds)
                if r is None or not r["correct"]:
                    failures += 1
                    continue
                for name, m in r["metrics"].items():
                    vals.setdefault(name, []).append(m["value"])
                print("%s set %s seed %d: %s" % (w, "AB"[s], seed, " ".join(
                    "%s=%.5g" % (k, v["value"]) for k, v in r["metrics"].items())), file=sys.stderr)
            sets.append(vals)
        print("\n== %s ==" % w)
        print("%-34s %-4s %12s %12s %12s %8s %7s" % ("metric", "set", "median", "q1", "q3", "spread", "bound"))
        for name, m in spec.items():
            rows = []
            bound = m["bound"]
            for s, vals in enumerate(sets):
                v = vals.get(name, [])
                if len(v) < 2:
                    continue
                med, q1, q3, spread = summary(v)
                rows.append(med)
                flag = ""
                if name != "setup_s" and spread > bound:
                    flag = "SPREAD"
                    flagged.append((w, name, "spread set %s" % "AB"[s]))
                print("%-34s %-4s %12.5g %12.5g %12.5g %8.4f %7s %s" % (
                    name, "AB"[s], med, q1, q3, spread, bound, flag))
            if len(rows) == 2 and rows[0]:
                worse = (rows[1] - rows[0]) / rows[0] * (1 if m["better"] == "lower" else -1)
                if worse > bound:
                    flagged.append((w, name, "drift %.4f" % worse))
                    print("%-34s DRIFT set B worse by %.4f > %.2f" % (name, worse, bound))
    print()
    for f in flagged:
        print("FLAGGED %s %s: %s" % f)
    if failures:
        print("FAILED RUNS: %d" % failures)
    return 1 if flagged or failures else 0


if __name__ == "__main__":
    sys.exit(main())
