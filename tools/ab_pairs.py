#!/usr/bin/env python3
"""A-B pairs: alternate perfbench runs of two checkouts and compare them.

    python3 tools/ab_pairs.py --parent-dir ../graft-parent --change-dir . \\
        --workload etl_incremental --seeds 31-35,51-55 --seconds 10

Each seed is one pair: one untraced `perfbench/run.py` run in each
checkout, parent first on even pairs and change first on odd ones, so a
slow drift of the host hits both sides alike. The checkouts are any two
directories holding the repository, for example two `git worktree`s or
a `git archive` export of the parent commit; `--parent-rev REV` makes
that export itself, into `--parent-dir`.

Prints, per end-to-end metric of BENCHMARK.json, the parent's median
and quartiles, the change's median, the change in the median, and the
pairs the change won (by the metric's `better` direction). A run whose
output checks fail or that fails any op is reported and left out of the
metric rows. `--out FILE` keeps every run's result line as JSON.
"""
import argparse
import io
import json
import os
import statistics
import subprocess
import sys
import tarfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def export(rev, dest):
    """Write the tree of `rev` of this repository into `dest`."""
    os.makedirs(dest, exist_ok=True)
    tar = subprocess.run(["git", "-C", ROOT, "archive", rev],
                         check=True, capture_output=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dest)


def run(checkout, workload, seed, seconds):
    """One perfbench run; returns its result line, or None if it crashed."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent-dir", required=True)
    ap.add_argument("--change-dir", default=ROOT)
    ap.add_argument("--parent-rev", help="export this revision into --parent-dir first")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 31-35,51-55: one pair each")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out", help="write every run's result line here as JSON")
    args = ap.parse_args()

    if args.parent_rev:
        export(args.parent_rev, args.parent_dir)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]

    sides = {"parent": args.parent_dir, "change": args.change_dir}
    pairs = []
    for i, seed in enumerate(seeds(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed}
        for side in order:
            pair[side] = run(sides[side], args.workload, seed, args.seconds)
        pairs.append(pair)
        brief = {s: pair[s] and pair[s]["metrics"].get("op_p50_s", {}).get("value")
                 for s in ("parent", "change")}
        print(f"pair {i + 1} seed {seed}: op_p50_s parent {brief['parent']} "
              f"change {brief['change']}", flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(pairs, fh, indent=1)

    def ok(res):
        return res is not None and res["correct"] and res["failed"] == 0

    bad = [(p["seed"], s) for p in pairs for s in ("parent", "change") if not ok(p[s])]
    for seed, side in bad:
        print(f"run FAILED: seed {seed} {side} (crashed, wrong output or failed ops)")
    good = [p for p in pairs if ok(p["parent"]) and ok(p["change"])]
    print(f"\n{args.workload}: {len(good)} good pairs of {len(pairs)}\n")
    print("| metric | parent median (IQR) | change median | change | pairs won |")
    print("| --- | --- | --- | --- | --- |")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        got = [(p["parent"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
               for p in good
               if name in p["parent"]["metrics"] and name in p["change"]["metrics"]]
        if not got:
            continue
        a = [x for x, _ in got]
        b = [y for _, y in got]
        ma, mb = statistics.median(a), statistics.median(b)
        q1, q3 = quartiles(a)
        won = sum(1 for x, y in got if (y < x if lower else y > x))
        delta = (mb - ma) / ma * 100 if ma else float("nan")
        print(f"| `{name}` | {ma:.4g} ({q1:.4g}–{q3:.4g}) | {mb:.4g} | "
              f"{delta:+.1f}% | {won}/{len(got)} |")


if __name__ == "__main__":
    main()
