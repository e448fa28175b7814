#!/usr/bin/env python3
"""Paired A/B of two versions of graft on one perfbench workload.

    python3 tools/perfbench_ab.py REF_A REF_B --workload export --pairs 10
        [--seconds 30] [--seeds 3,21,22,...] [--trace 0|1] [--json out.json]

REF_A is the base (the parent), REF_B the change. Each ref is checked out
into its own throwaway `git worktree` (removed again at the end); a ref
that names an existing directory is used as a checkout in place, for a
copy made some other way (for example `git archive REF | tar -x -C DIR`).
Each version builds and runs with the perfbench files of its own checkout
(`python3 perfbench/run.py`), so both sides must carry the same perfbench.

Pair i runs seed i of --seeds (default 1..N) on both sides, A first in
even pairs and B first in odd ones, so a slow drift of the host lands on
both sides alike. For every metric the report gives each side's median
and quartiles and the pairs B won, by the metric's direction in
BENCHMARK.json (ties count for neither side). The verdict follows the
paired rule the benchmark is judged by: B is better only when it wins at
least nine tenths of the pairs AND the medians differ by more than the
distance between A's quartiles; otherwise the metric is "no claim". Runs
of fewer than 10 pairs compare the sides but claim nothing ("too few
pairs"): use them to check that a workload did not move.
Every run's correctness and failed-operation count is printed too, and no
metric is claimed ("no claim") when any B run is incorrect or incomplete,
or when B's runs fail more operations in total than A's.

Exit code 0 when every run completed, 1 otherwise; the verdicts are a
measurement, not a gate.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Fewer pairs than this support no claim, whatever they show.
MIN_PAIRS = 10


def git(*args):
    return subprocess.run(["git", *args], cwd=REPO, check=True,
                          capture_output=True, text=True).stdout.strip()


def checkout(ref, tmproot, made):
    """Path of a checkout of `ref`: the directory itself, or a new worktree."""
    if os.path.isdir(ref):
        return os.path.abspath(ref)
    path = os.path.join(tmproot, git("rev-parse", "--short=12", ref))
    if path not in made:
        git("worktree", "add", "--detach", path, ref)
        made.append(path)
    return path


def directions(root):
    """metric name -> "higher" | "lower", from the checkout's BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"]
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def run_once(root, workload, seed, seconds, trace):
    """One perfbench run; returns its final JSON line, or None if it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    """(q1, median, q3) by the inclusive method; one sample is all three."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def disqualified(runs):
    """Why the runs support no gain for B, or None when they may."""
    if any(b is None or not b["correct"] for _, b in runs):
        return "a B run is incorrect or did not complete"
    failed_a = sum(a["failed"] for a, _ in runs if a)
    if sum(b["failed"] for _, b in runs) > failed_a:
        return "B failed more operations than A"
    return None


def summarize(runs, better):
    """Per metric: both sides' quartiles, B's pair wins, and the verdict."""
    blocked = disqualified(runs)
    out = {}
    names = sorted({k for pair in runs for r in pair if r for k in r["metrics"]})
    for name in names:
        pairs = [(a["metrics"][name]["value"], b["metrics"][name]["value"])
                 for a, b in runs
                 if a and b and name in a["metrics"] and name in b["metrics"]]
        if not pairs:
            continue
        sign = 1 if better.get(name, "lower") == "higher" else -1
        wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
        losses = sum(1 for a, b in pairs if sign * (b - a) < 0)
        qa = quartiles([a for a, _ in pairs])
        qb = quartiles([b for _, b in pairs])
        gain = sign * (qb[1] - qa[1])
        claim = (blocked is None and wins >= 0.9 * len(pairs)
                 and gain > qa[2] - qa[0])
        verdict = ("too few pairs" if len(pairs) < MIN_PAIRS
                   else "B better" if claim else "no claim")
        out[name] = {"better": better.get(name, "lower"), "pairs": len(pairs),
                     "a": qa, "b": qb, "b_wins": wins, "b_losses": losses,
                     "ratio": qb[1] / qa[1] if qa[1] else None,
                     "verdict": verdict}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("ref_a", help="base version: git ref or checkout directory")
    ap.add_argument("ref_b", help="changed version: git ref or checkout directory")
    ap.add_argument("--workload", required=True, choices=["export", "corpus"])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--seeds", help="comma-separated seeds, one per pair (default 1..N)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--json", help="also write the full report here")
    args = ap.parse_args()
    seeds = ([int(s) for s in args.seeds.split(",")] if args.seeds
             else list(range(1, args.pairs + 1)))
    if len(seeds) < args.pairs:
        sys.exit(f"--seeds names {len(seeds)} seeds for {args.pairs} pairs")

    tmproot = tempfile.mkdtemp(prefix="graft-perfbench-ab-")
    made = []
    try:
        roots = [checkout(args.ref_a, tmproot, made),
                 checkout(args.ref_b, tmproot, made)]
        better = directions(roots[0])
        runs = []
        for i, seed in enumerate(seeds[:args.pairs]):
            order = (0, 1) if i % 2 == 0 else (1, 0)
            pair = [None, None]
            for side in order:
                pair[side] = run_once(roots[side], args.workload, seed,
                                      args.seconds, args.trace)
            runs.append(pair)
            for side, r in zip("AB", pair):
                state = ("did not complete" if r is None else
                         f"correct={r['correct']} failed={r['failed']}/{r['attempted']}")
                print(f"pair {i + 1}/{args.pairs} seed {seed} "
                      f"({'AB' if order == (0, 1) else 'BA'}) {side}: {state}",
                      flush=True)
        report = summarize(runs, better)
        print(f"\n{args.workload}: A={args.ref_a} B={args.ref_b}, "
              f"{len(runs)} pairs, median [q1-q3]")
        blocked = disqualified(runs)
        if blocked:
            print(f"  no claim for any metric: {blocked}")
        for name, m in report.items():
            a, b = m["a"], m["b"]
            ratio = f"{m['ratio']:.3f}x" if m["ratio"] is not None else "-"
            print(f"  {name:32s} A {a[1]:.6g} [{a[0]:.6g}-{a[2]:.6g}]  "
                  f"B {b[1]:.6g} [{b[0]:.6g}-{b[2]:.6g}]  B/A {ratio}  "
                  f"B wins {m['b_wins']}/{m['pairs']} ({m['better']} is better)"
                  f"  -> {m['verdict']}")
        if args.json:
            with open(args.json, "w") as f:
                json.dump({"ref_a": args.ref_a, "ref_b": args.ref_b,
                           "workload": args.workload, "seeds": seeds[:args.pairs],
                           "runs": runs, "metrics": report}, f, indent=2)
        complete = all(r is not None for pair in runs for r in pair)
        sys.exit(0 if complete else 1)
    finally:
        for path in made:
            git("worktree", "remove", "--force", path)
        shutil.rmtree(tmproot, ignore_errors=True)


if __name__ == "__main__":
    main()
