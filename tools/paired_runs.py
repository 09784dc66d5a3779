"""Paired benchmark runs of two checkouts, reported the way a gain claim is judged.

    python3 tools/paired_runs.py --parent DIR --change DIR --workload llm_curate \
        --seeds 101-110 --claim job_s,rows_per_s --out runs.jsonl [--trace-seed 3]

Each DIR is a checkout holding perfbench/ and BENCHMARK.json, built from
committed files only (see .claude/skills/verify/SKILL.md). Pair i runs
`perfbench/run.py --trace 0` on seed i in both checkouts, the parent first on
odd pairs and the change first on even ones. One untimed run per side
(--warm-seed, 0 to skip) comes first, so both harness builds are done before
any timed run. Every run's result line is appended to --out as JSON, with
its side, pair, seed and position.

For every end-to-end metric it prints each side's median and Q1/Q3, the
pairs the change won (ties count for neither side) and:
  - for a claimed metric: whether the change won at least 9/10 of the pairs
    and the median gap, in the better direction, exceeds the parent's Q3-Q1;
  - for any other metric: the change median against the parent's, and
    whether it stays within the metric's BENCHMARK.json bound ("unresolved"
    when the parent's own spread is wider than the bound).
With --trace-seed it also runs one --trace 1 pass per side on that seed and
prints the per-layer metrics side by side.

It only reports: the exit status is 1 only when a run gave no result line.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        print("run failed: %s seed %d in %s\n%s" % (workload, seed, checkout, r.stderr[-2000:]),
              file=sys.stderr)
        return None
    return json.loads(lines[-1])


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3


def better(a, b, direction):
    """1 if a is better than b, -1 if worse, 0 on a tie."""
    if a == b:
        return 0
    return 1 if (a < b) == (direction == "lower") else -1


def report(pairs, spec, claims):
    print("%-14s %28s %28s %7s  %s" % ("metric", "parent median [Q1, Q3]",
                                       "change median [Q1, Q3]", "wins", "verdict"))
    for name, m in spec.items():
        par = [p[name] for p, c in pairs if name in p and name in c]
        chg = [c[name] for p, c in pairs if name in p and name in c]
        if not par:
            continue
        pm, pq1, pq3 = quartiles(par)
        cm, cq1, cq3 = quartiles(chg)
        wins = sum(1 for p, c in zip(par, chg) if better(c, p, m["better"]) > 0)
        gap = (pm - cm) if m["better"] == "lower" else (cm - pm)
        if name in claims:
            met = wins >= 0.9 * len(par) and gap > pq3 - pq1
            verdict = "claim %s: %d/%d wins, median gap %.4g %s parent Q3-Q1 %.4g" % (
                "MET" if met else "NOT MET", wins, len(par), gap,
                ">" if gap > pq3 - pq1 else "<=", pq3 - pq1)
        else:
            worse = -gap / pm if pm else 0.0
            if pm and (pq3 - pq1) / pm > m["bound"] and not all(
                    better(c, p, m["better"]) > 0 for c in chg for p in par):
                verdict = "unresolved: parent spread %.3f > bound %.2f" % ((pq3 - pq1) / pm, m["bound"])
            else:
                verdict = "%s bound: change median %.1f%% %s (bound %.0f%%)" % (
                    "within" if worse <= m["bound"] else "OUTSIDE", 100 * abs(worse),
                    "worse" if worse > 0 else "better", 100 * m["bound"])
        print("%-14s %10.4g [%7.4g, %7.4g] %10.4g [%7.4g, %7.4g] %3d/%-3d  %s" % (
            name, pm, pq1, pq3, cm, cq1, cq3, wins, len(par), verdict))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 5,7,9")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--claim", default="", help="comma-separated claimed metrics")
    ap.add_argument("--out", required=True, help="JSON-lines file every run is appended to")
    ap.add_argument("--warm-seed", type=int, default=900)
    ap.add_argument("--trace-seed", type=int, default=0)
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"]}
    seconds = a.seconds or bench["run_seconds"]
    claims = {c for c in a.claim.split(",") if c}
    unknown = claims - set(spec)
    if unknown:
        ap.error("unknown claimed metrics: %s" % ", ".join(sorted(unknown)))
    sides = {"parent": a.parent, "change": a.change}

    missing = 0
    out = open(a.out, "a")

    def record(side, seed, pair, position, trace):
        nonlocal missing
        r = run(sides[side], a.workload, seed, seconds, trace)
        line = {"side": side, "workload": a.workload, "seed": seed, "pair": pair,
                "position": position, "trace": trace, "result": r}
        out.write(json.dumps(line) + "\n")
        out.flush()
        print(json.dumps(line))
        if r is None:
            missing += 1
        return r

    if a.warm_seed:
        for side in sides:
            record(side, a.warm_seed, 0, 0, 0)

    pairs = []
    for i, seed in enumerate(parse_seeds(a.seeds), start=1):
        order = ("parent", "change") if i % 2 else ("change", "parent")
        got = {side: record(side, seed, i, pos, 0) for pos, side in enumerate(order, start=1)}
        if got["parent"] and got["change"]:
            pairs.append(tuple({k: v["value"] for k, v in got[s]["metrics"].items()}
                               for s in ("parent", "change")))
            for s in ("parent", "change"):
                if got[s]["failed"] or not got[s]["correct"]:
                    print("pair %d %s: failed %d of %d, correct %s" % (
                        i, s, got[s]["failed"], got[s]["attempted"], got[s]["correct"]))

    print("\n%s, %d pairs, --seconds %g" % (a.workload, len(pairs), seconds))
    if pairs:
        report(pairs, spec, claims)

    if a.trace_seed:
        traced = {s: record(s, a.trace_seed, 0, 0, 1) for s in sides}
        if traced["parent"] and traced["change"]:
            print("\ntraced, seed %d" % a.trace_seed)
            pm, cm = (traced[s]["metrics"] for s in ("parent", "change"))
            for name in sorted(set(pm) | set(cm)):
                print("%-36s %14s %14s" % (name, pm.get(name, {}).get("value", "-"),
                                           cm.get(name, {}).get("value", "-")))
    out.close()
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main())
