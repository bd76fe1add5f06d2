#!/usr/bin/env python3
"""A/B the benchmark: a parent revision against the working tree, in pairs.

    python3 scripts/ab_pairs.py <parent-rev> --workload W --pairs N --seed S
        [--trace 0]

Checks `<parent-rev>` out with `git worktree add` into a temporary directory
(under $TMPDIR, /tmp by default) and runs `perfbench/run.py` there and in the
working tree, alternately: N pairs, each run with the same seed, and the side
that goes first alternating from pair to pair, so a drift of the host's speed
lands on both sides. Every run lasts `run_seconds` of `BENCHMARK.json`, the
length the benchmark fixes. The worktree is removed at the end.

Prints, per metric of the runs (the end-to-end ones with `--trace 0`, the
per-layer ones with `--trace 1`; those that read 0 in every run are left
out): the parent's and the change's medians, the parent's interquartile
range, and in how many pairs the change did better, in the metric's
direction as `BENCHMARK.json` declares it; a tie counts for neither. A run
that exits non-zero or reports a failed check is listed and counts as a
loss for its side. Writes nothing itself: the runs write their artifacts
under each side's `perfbench/out/`, as `run.py` always does.
"""
import argparse
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_side(tree, a, seconds):
    """One `run.py` run in `tree`; its metrics {name: value}, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(seconds), "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if p.returncode != 0 or not result or not result.get("correct"):
        print(f"  run failed in {tree} (exit {p.returncode}): {p.stderr.strip()[-800:]}",
              file=sys.stderr)
        return None
    return {k: m["value"] for k, m in result["metrics"].items()}


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_rev")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    parent = Path(tempfile.mkdtemp(prefix="ab_parent_"))
    subprocess.run(["git", "worktree", "add", "--detach", str(parent), a.parent_rev],
                   cwd=ROOT, check=True, capture_output=True)
    runs = {"parent": [], "change": []}
    try:
        for i in range(a.pairs):
            order = [("parent", parent), ("change", ROOT)]
            if i % 2:
                order.reverse()
            for side, tree in order:
                runs[side].append(run_side(tree, a, bench["run_seconds"]))
                print(f"pair {i + 1}/{a.pairs} {side}: {runs[side][-1]}", file=sys.stderr)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", str(parent)], cwd=ROOT)
        subprocess.run(["git", "worktree", "prune"], cwd=ROOT)

    failed = {s: sum(r is None for r in rs) for s, rs in runs.items()}
    # metrics the runs report, less those that read 0 in every run
    names = [n for n in better if any(r and r.get(n) for rs in runs.values() for r in rs)]
    print(f"{a.workload}, seed {a.seed}, {a.pairs} pairs, parent {a.parent_rev}; "
          f"failed runs: parent {failed['parent']}, change {failed['change']}")
    print(f"{'metric':34} {'parent':>12} {'change':>12} {'parent IQR':>12} {'delta':>8} wins")
    for n in names:
        par = [r[n] for r in runs["parent"] if r and n in r]
        chg = [r[n] for r in runs["change"] if r and n in r]
        wins = 0
        for p, c in zip(runs["parent"], runs["change"]):
            if c and n in c and (p is None or n not in p
                                 or (c[n] < p[n] if better[n] == "lower" else c[n] > p[n])):
                wins += 1
        pm, cm = statistics.median(par) if par else 0.0, statistics.median(chg) if chg else 0.0
        delta = f"{(cm - pm) / pm:+.1%}" if pm else "-"
        print(f"{n:34} {pm:12.4g} {cm:12.4g} {iqr(par):12.4g} {delta:>8} {wins}/{a.pairs}")


if __name__ == "__main__":
    main()
