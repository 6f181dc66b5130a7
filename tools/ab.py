"""A/B of this checkout against a parent revision on the repo benchmark.

    python tools/ab.py --parent HEAD~1 [--pairs 10] [--workload NAME ...]

The parent side runs from a detached ``git worktree`` of ``--parent`` under
/tmp (removed on exit), the change side from this checkout; each side runs
its own ``perfbench/run.py``. Every pair runs both sides once with the same
seed, alternating which goes first. Run length, workloads, metrics and
bounds come from BENCHMARK.json. Per workload, one row per end-to-end
metric: median change/parent, bound, change wins of N pairs, parent
IQR/median and a verdict:

  better      at least 10 pairs, the change wins >= 9/10 of them (ties count
              for neither) and the medians differ by more than the parent's IQR
  worse       the change's median is worse than the parent's by more than the bound
  unresolved  the parent's IQR/median exceeds the bound, unless every change
              run reads better than every parent run
  same        otherwise

A pair counts as failed when either run is not ``correct`` (or did not
finish), or the change fails a larger share of its attempted operations.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_order(pair: int) -> tuple[str, str]:
    """The sides of pair ``pair`` (0-based) in the order they run."""
    return ("parent", "change") if pair % 2 == 0 else ("change", "parent")


def verdict(parent: list[float], change: list[float], bound: float,
            lower_is_better: bool = True) -> dict:
    """Compare paired runs (``parent[i]`` with ``change[i]``) of one metric."""
    sign = 1.0 if lower_is_better else -1.0
    p_med, c_med = statistics.median(parent), statistics.median(change)
    q1, _, q3 = statistics.quantiles(parent, n=4, method="inclusive")
    wins = sum(sign * (c - p) < 0 for p, c in zip(parent, change))
    all_better = max(sign * c for c in change) < min(sign * p for p in parent)
    if len(parent) >= 10 and wins >= 0.9 * len(parent) and sign * (p_med - c_med) > q3 - q1:
        v = "better"
    elif sign * (c_med - p_med) > bound * p_med:
        v = "worse"
    elif q3 - q1 > bound * p_med and not all_better:
        v = "unresolved"
    else:
        v = "same"
    return {"ratio": c_med / p_med, "wins": wins, "spread": (q3 - q1) / p_med, "verdict": v}


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One ``perfbench/run.py`` run in ``tree``: its last stdout line, or a
    ``correct: false`` record when it did not finish."""
    cmd = [sys.executable, os.path.join(tree, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(f"ab: {' '.join(cmd)} exited {proc.returncode}\n{proc.stderr[-2000:]}\n")
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    return json.loads(lines[-1])


def report(workload: str, metrics: list[dict], parent: list[dict], change: list[dict]) -> None:
    """Print the per-metric table of one workload over its good pairs."""
    def failed_share(r: dict) -> float:
        return r["failed"] / r["attempted"] if r["attempted"] else 1.0

    bad = [not (p["correct"] and c["correct"]) or failed_share(c) > failed_share(p)
           for p, c in zip(parent, change)]
    good = [(p["metrics"], c["metrics"]) for (p, c), b in zip(zip(parent, change), bad) if not b]
    print(f"\n{workload}: {len(parent)} pairs, {sum(bad)} failed")
    print("| metric | median change/parent | bound | change wins | parent IQR/median | verdict |")
    print("|---|---|---|---|---|---|")
    for m in metrics:
        if len(good) < 2:  # too few finished pairs for quartiles
            print(f"| {m['name']} | - | {m['bound']} | - | - | unresolved |")
            continue
        v = verdict([p[m["name"]]["value"] for p, _ in good],
                    [c[m["name"]]["value"] for _, c in good], m["bound"], m["better"] == "lower")
        print(f"| {m['name']} | {v['ratio']:.3f} | {m['bound']} | {v['wins']} of {len(good)} "
              f"| {v['spread']:.3f} | {v['verdict']} |")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workload", action="append", choices=names)
    args = ap.parse_args()
    if args.pairs < 2:
        ap.error("--pairs must be at least 2 (the verdict needs quartiles)")

    parent_tree = tempfile.mkdtemp(prefix="ab-parent-", dir="/tmp")
    try:
        if subprocess.run(["git", "worktree", "add", "--detach", parent_tree, args.parent],
                          cwd=ROOT, stdout=subprocess.DEVNULL).returncode:
            return 2
        trees = {"parent": parent_tree, "change": ROOT}
        for workload in args.workload or names:
            runs: dict = {"parent": [], "change": []}
            for i in range(args.pairs):
                for side in run_order(i):
                    r = run_once(trees[side], workload, i + 1, bench["run_seconds"])
                    runs[side].append(r)
                    print(f"{workload} pair {i + 1}/{args.pairs} {side}: {json.dumps(r)}",
                          file=sys.stderr, flush=True)
            report(workload, bench["end_to_end"], runs["parent"], runs["change"])
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", parent_tree], cwd=ROOT,
                       capture_output=True)
        shutil.rmtree(parent_tree, ignore_errors=True)
        subprocess.run(["git", "worktree", "prune"], cwd=ROOT, capture_output=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
