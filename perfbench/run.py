"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 15 --trace 0

Workloads: star_etl, llm_curate, vector_search (see perfbench/README.md).
With --trace 0 the result holds the end-to-end metrics; with --trace 1 the
per-layer metrics of a traced run, and the spans go to .bench_build/spans/.
The first run in a checkout compiles the program and the harness.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("star_etl", "llm_curate", "vector_search")
RUN_TIMEOUT_S = 170
# a fixed heap: its size does not drift with the collector's sizing choices
HEAP = "1g"

# what `spark-submit` passes to a JDK 17 driver
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_result(line):
    r = json.loads(line)
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError("result keys: %s" % sorted(r))
    if not isinstance(r["attempted"], int) or r["attempted"] < 1 or not isinstance(r["failed"], int):
        raise ValueError("bad attempted/failed")
    for name, m in r["metrics"].items():
        if not isinstance(m.get("value"), (int, float)) or not m.get("unit"):
            raise ValueError("bad metric %s: %s" % (name, m))
    return r


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    try:
        java, classpath = build.ensure_built()
    except build.BuildError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 2

    out = build.build_dir()
    work = os.path.join(out, "work", "%s-%d" % (a.workload, os.getpid()))
    logs = os.path.join(out, "logs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, "%s-seed%d-trace%s.log" % (a.workload, a.seed, a.trace))
    cmd = [java, "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss4m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--spans", os.path.join(out, "spans"),
            "--launch-ms", str(int(time.time() * 1000))]

    proc = None

    def stop(*_):
        if proc and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(1)

    signal.signal(signal.SIGTERM, stop)
    try:
        with open(log_path, "w") as log:
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    env=env, start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print("perfbench: run exceeded %d s" % RUN_TIMEOUT_S, file=sys.stderr)
                return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = stdout.splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        print("perfbench: benchmark process exited with %d" % proc.returncode, file=sys.stderr)
        return 1
    try:
        result = parse_result(lines[-1])
    except ValueError as e:
        print("perfbench: malformed result line: %s" % e, file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
