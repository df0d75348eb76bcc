"""Run one workload of the KV-index benchmark and print its result.

    python3 kvbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 kvbench/run.py --selftest

Run from the repository root. The first run compiles the library and the
benchmark (see build.py); every run then starts one JVM that builds the
workload's index from the seed, measures for --seconds, checks every
result, and prints one JSON line last. See kvbench/README.md.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["read_snapshot", "small_commits", "bulk_ingest_under_reads"]
TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the launcher's
# JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    classes = build.build()
    work = os.path.join(build.ROOT, ".bench_build", "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = [build.java(), "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}",
           *ADD_OPENS, "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
           "kvbench.Main", "--work", work, "--cores", str(cores)]
    if a.selftest:
        cmd += ["--selftest"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        out, _ = p.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        sys.exit(f"kvbench: run exceeded {TIMEOUT_S} s")
    lines = out.splitlines()
    result = lines.pop() if lines and lines[-1].startswith("{") else None
    for line in lines:
        print(line)
    if p.returncode != 0:
        sys.exit(p.returncode)
    if a.selftest:
        return
    if result is None:
        sys.exit("kvbench: the run printed no result line")
    r = json.loads(result)
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    missing = {m["name"] for m in declared} ^ set(r["metrics"])
    if missing:
        sys.exit(f"kvbench: metrics differ from BENCHMARK.json: {sorted(missing)}")
    print(json.dumps(r))


if __name__ == "__main__":
    main()
