#!/usr/bin/env python3
"""A/B the serve-path benchmark between two commits.

    python3 tools/ab.py --parent REV --change REV|WORKTREE --dir DIR \\
        [--pairs 10] [--seeds 31,32,33] [--seconds 18] \\
        [--workloads ingest,mixed] [--trace 0] [--report-only]

Run from the repository root. Exports each side as a clean tree under DIR
(`DIR/parent`, `DIR/change`): `git archive` of a commit, or, for
`--change WORKTREE`, the working tree's tracked and unignored files. No
build output is ever copied between trees; each side builds from its own
sources. Then runs N alternating pairs of `perfbench/run.py` (pair i runs
the parent first when i is even, the change first when i is odd; pair i
uses seeds[i mod len(seeds)]) and appends every result to DIR/runs.jsonl.
An interrupted A/B resumes where it stopped: trees already under DIR
are reused as they are, and pairs already in runs.jsonl are not rerun, so
start from an empty DIR to measure a changed tree.

The report prints, per workload and metric, each side's median and
quartiles, how many pairs the change won (ties count for neither side)
and a verdict:

  gain      the change won at least 9/10 of the pairs and the medians
            differ, in the better direction, by more than the parent's
            interquartile range
  worse     the change's median is worse than the parent's by more than
            the metric's bound in BENCHMARK.json
  -         neither
"""
import argparse
import importlib.util
import io
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tarfile

SIDES = ("parent", "change")


def log(msg):
    print("[ab] " + msg, file=sys.stderr, flush=True)


def export(rev, dest):
    """A clean tree of `rev` (or of the working tree) at `dest`."""
    if os.path.exists(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    if rev == "WORKTREE":
        files = subprocess.run(
            ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
            check=True, capture_output=True).stdout.decode().split("\0")
        for f in files:
            if f and os.path.isfile(f):
                os.makedirs(os.path.join(dest, os.path.dirname(f)), exist_ok=True)
                shutil.copy2(f, os.path.join(dest, f))
    else:
        tar = subprocess.run(["git", "archive", "--format=tar", rev],
                             check=True, capture_output=True).stdout
        with tarfile.open(fileobj=io.BytesIO(tar)) as t:
            t.extractall(dest)


def build(tree):
    """Build a tree's adapter and benchmark through its own runner."""
    spec = importlib.util.spec_from_file_location(
        "run_" + os.path.basename(tree), os.path.join(tree, "perfbench", "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.build()


def run(tree, workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if result is not None:
        # the run's request and file counts ("... parquet files added")
        result["measured"] = [l for l in p.stderr.splitlines() if "measured:" in l]
    if p.returncode != 0 or result is None:
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, result


def load(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(runs, bench, out=sys.stdout):
    specs = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    workloads = sorted({r["workload"] for r in runs})
    for w in workloads:
        by = {}
        for r in runs:
            if r["workload"] == w and r["result"] is not None:
                by[(r["pair"], r["side"])] = r["result"]
        pairs = sorted({p for (p, s) in by if (p, "parent") in by and (p, "change") in by})
        if not pairs:
            continue
        print("\n### %s: %d pairs, seeds %s\n" % (
            w, len(pairs), sorted({r["seed"] for r in runs if r["workload"] == w})), file=out)
        for side in SIDES:
            res = [by[(p, side)] for p in pairs]
            att = sum(x["attempted"] for x in res)
            fail = sum(x["failed"] for x in res)
            print("- %s: %d/%d runs correct, failed share %d/%d" % (
                side, sum(bool(x["correct"]) for x in res), len(res), fail, att), file=out)
            files = [re.search(r"(\d+) parquet files added", " ".join(x.get("measured", [])))
                     for x in res]
            if all(files):
                print("  parquet files added per run: %s" % [int(f.group(1)) for f in files],
                      file=out)
        print("\n| metric | parent median [q1, q3] | change median [q1, q3] | change wins | verdict |",
              file=out)
        print("|---|---|---|---|---|", file=out)
        names = [n for n in specs if all(n in by[(p, s)]["metrics"] for p in pairs for s in SIDES)]
        # each metric is {"value": v, "unit": u} on the result line
        value = lambda p, side, n: by[(p, side)]["metrics"][n]["value"]
        for n in names:
            lower = specs[n]["better"] == "lower"
            a = [value(p, "parent", n) for p in pairs]
            b = [value(p, "change", n) for p in pairs]
            wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
            qa, qb = quartiles(a), quartiles(b)
            gap = (qa[1] - qb[1]) if lower else (qb[1] - qa[1])
            bound = specs[n].get("bound")
            if wins * 10 >= 9 * len(pairs) and gap > qa[2] - qa[0]:
                verdict = "gain"
            elif bound is not None and -gap > bound * abs(qa[1]):
                verdict = "worse"
            else:
                verdict = "-"
            fmt = lambda q: "%.4g [%.4g, %.4g]" % (q[1], q[0], q[2])
            print("| %s | %s | %s | %d/%d | %s |" % (
                n, fmt(qa), fmt(qb), wins, len(pairs), verdict), file=out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="31,32,33,34,35,36,37,38,39,40")
    ap.add_argument("--seconds", type=int, default=18)
    ap.add_argument("--workloads", default="ingest,mixed")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--report-only", action="store_true")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    workloads = a.workloads.split(",")
    os.makedirs(a.dir, exist_ok=True)
    runs_path = os.path.join(a.dir, "runs.jsonl")
    trees = {s: os.path.join(a.dir, s) for s in SIDES}

    if not a.report_only:
        for side, rev in (("parent", a.parent), ("change", a.change)):
            if not os.path.exists(os.path.join(trees[side], "perfbench", "run.py")):
                log("exporting %s (%s)" % (side, rev))
                export(rev, trees[side])
            log("building %s" % side)
            build(trees[side])
        done = {(r["pair"], r["side"], r["workload"], r["trace"]) for r in load(runs_path)}
        for i in range(a.pairs):
            seed = seeds[i % len(seeds)]
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            for w in workloads:
                for side in order:
                    if (i, side, w, a.trace) in done:
                        continue
                    rc, result = run(trees[side], w, seed, a.seconds, a.trace)
                    log("pair %d %s %s seed %d: rc %d" % (i, w, side, seed, rc))
                    with open(runs_path, "a") as fh:
                        fh.write(json.dumps({"pair": i, "side": side, "workload": w,
                                             "seed": seed, "trace": a.trace, "rc": rc,
                                             "result": result}) + "\n")

    bench_file = os.path.join(trees["change"], "BENCHMARK.json")
    if not os.path.exists(bench_file):
        bench_file = "BENCHMARK.json"
    with open(bench_file) as fh:
        bench = json.load(fh)
    report([r for r in load(runs_path) if r["trace"] == a.trace], bench)


if __name__ == "__main__":
    main()
