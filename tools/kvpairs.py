"""Alternating parent/change kvbench runs, for claims about a change.

    python3 tools/kvpairs.py --parent HEAD~1 --pairs 10 \
        --workloads read_snapshot,small_commits --out BENCH_pairs.jsonl
    python3 tools/kvpairs.py --summarize BENCH_pairs.jsonl

The parent commit is exported with `git archive` into a scratch directory
(`--scratch`, default a new temporary directory); the change is the working
tree this script runs from. Each pair runs `kvbench/run.py` once per side
and workload, one run at a time, with the same seed (`--seed0` + pair
index); the side that runs first alternates from pair to pair, so a drift
in host load does not favour either side. Every run is appended to the
JSONL file as soon as it ends. The summary prints, per workload and metric,
both sides' medians and quartiles, the change's wins (pairs in which it is
better, by the metric's direction in BENCHMARK.json), the relative change
of the medians, and whether the medians lie further apart than the
parent's quartile spread. Nothing under kvbench/ is changed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile


def sh(args, cwd, **kw):
    return subprocess.run(args, cwd=cwd, check=True, **kw)


def export(rev, root, scratch):
    """`rev` of the repository at `root`, as plain files under `scratch`."""
    dest = os.path.join(scratch, "parent")
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", rev], cwd=root, stdout=subprocess.PIPE)
    sh(["tar", "-x", "-C", dest], cwd=root, stdin=archive.stdout)
    if archive.wait() != 0:
        sys.exit(f"kvpairs: git archive {rev} failed")
    return dest


def run(tree, workload, seed, seconds):
    """One kvbench run in `tree`: its exit code and its result object."""
    p = subprocess.run([sys.executable, "kvbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
    return p.returncode, result


def quartiles(xs):
    s = sorted(xs)

    def at(q):
        i = q * (len(s) - 1)
        lo = int(i)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (i - lo)
    return at(0.25), at(0.5), at(0.75)


def value(metric):
    return metric["value"] if isinstance(metric, dict) else metric


def summarize(records, directions):
    by = {}
    for r in records:
        if r["result"] is None:
            continue
        for name, m in r["result"]["metrics"].items():
            by.setdefault((r["workload"], name), {}).setdefault(r["pair"], {})[r["side"]] = value(m)
    failed = [r for r in records if r["result"] is None or r["result"].get("failed", 0)]
    print(f"{len(records)} runs, {len(failed)} failed or with failed ops")
    print(f"{'workload':<14} {'metric':<22} {'parent p50 [q1,q3]':>28} {'change p50 [q1,q3]':>28}"
          f" {'delta':>8} {'wins':>7} {'>IQR':>5}")
    for (w, name), pairs in sorted(by.items()):
        both = [(v["parent"], v["change"]) for v in pairs.values() if "parent" in v and "change" in v]
        if not both:
            continue
        pq = quartiles([p for p, _ in both])
        cq = quartiles([c for _, c in both])
        lower = directions.get(name, "lower") == "lower"
        wins = sum(1 for p, c in both if (c < p if lower else c > p))
        delta = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
        apart = abs(cq[1] - pq[1]) > (pq[2] - pq[0])
        print(f"{w:<14} {name:<22} {pq[1]:>10.2f} [{pq[0]:>7.2f},{pq[2]:>7.2f}]"
              f" {cq[1]:>10.2f} [{cq[0]:>7.2f},{cq[2]:>7.2f}] {delta:>+8.1%}"
              f" {wins:>3}/{len(both):<3} {'yes' if apart else 'no':>5}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", help="git revision to compare against")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default="read_snapshot")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out", help="JSONL file the runs are appended to")
    ap.add_argument("--scratch", help="directory for the parent's tree")
    ap.add_argument("--summarize", help="print the summary of an existing JSONL file")
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["end_to_end"]
    directions = {m["name"]: m["better"] for m in declared}
    if a.summarize:
        with open(a.summarize) as f:
            summarize([json.loads(line) for line in f if line.strip()], directions)
        return
    if not a.parent or not a.out:
        ap.error("--parent and --out are required (or --summarize)")

    scratch = a.scratch or tempfile.mkdtemp(prefix="kvpairs-")
    parent = export(a.parent, root, scratch)
    trees = {"parent": parent, "change": root}
    records = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for w in a.workloads.split(","):
            for side in order:
                rc, result = run(trees[side], w, seed, a.seconds)
                rec = {"pair": i, "side": side, "first": order[0], "workload": w,
                       "seed": seed, "rc": rc, "result": result}
                records.append(rec)
                with open(a.out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                got = value(result["metrics"]["read_p50_ms"]) if result else None
                print(f"pair {i} {w} {side}: rc {rc}, read_p50_ms {got}", flush=True)
    summarize(records, directions)


if __name__ == "__main__":
    main()
