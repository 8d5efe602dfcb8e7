"""Interleaved A/B of the repository benchmark between two revisions.

Run from the repository root::

    python3 scripts/perfab.py --parent HEAD~1 --workloads store_txn --pairs 10 --seed 100

Both sides are extracted with ``git archive`` into a fresh temporary
directory (no worktree state), so each runs ``perfbench/run.py`` from its
own committed files.  ``--change`` defaults to the working tree: its
tracked files as ``git stash create`` records them, or HEAD when clean.

Pair ``i`` runs both sides on seed ``--seed + i``; even pairs run the
parent first, odd pairs the change, so a drifting host loads both sides
alike.  A run counts as failed unless its last stdout line is a JSON
object with ``"correct": true``.

For each workload and end-to-end metric (all "lower is better") the
report gives each side's median, q1 and q3, the pairs the change won, and
a verdict:

- ``gain``: the change won at least 90% of the pairs AND the parent's
  median minus the change's is larger than the parent's IQR;
- ``regression``: the change's median is worse than the parent's by more
  than ``--bound`` (0.25, the benchmark's bound);
- ``neutral`` otherwise.

``--json PATH`` also writes every run's metrics and the summary.
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
import time

METRICS = ("setup_s", "pass_s", "cpu_s", "query_gmean_s")


def git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], check=True, capture_output=True, text=True
    ).stdout.strip()


def extract(rev: str, dest: str) -> None:
    os.makedirs(dest)
    archive = subprocess.run(["git", "archive", rev], check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(tree: str, workload: str, seed: int, seconds: int, timeout: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    t0 = time.monotonic()
    try:
        proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=timeout)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
    except (subprocess.TimeoutExpired, json.JSONDecodeError) as exc:
        result = {"error": repr(exc)}
    if not isinstance(result, dict) or result.get("correct") is not True:
        result = {"failed_run": True, **(result if isinstance(result, dict) else {})}
    # {"metrics": {name: {"unit": u, "value": v}}} -> {"metrics": {name: v}}
    result["metrics"] = {m: v["value"] for m, v in result.get("metrics", {}).items()}
    result["wall_s"] = time.monotonic() - t0
    return result


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]], bound: float) -> dict:
    out: dict = {}
    ok = [(p, c) for p, c in pairs if not p.get("failed_run") and not c.get("failed_run")]
    for m in METRICS:
        par = [p["metrics"][m] for p, _ in ok]
        chg = [c["metrics"][m] for _, c in ok]
        if not ok:
            out[m] = {"verdict": "no data"}
            continue
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        wins = sum(c < p for p, c in zip(par, chg))
        if wins >= 0.9 * len(ok) and pmed - cmed > pq3 - pq1:
            verdict = "gain"
        elif cmed > pmed * (1 + bound):
            verdict = "regression"
        else:
            verdict = "neutral"
        out[m] = {
            "parent": {"median": pmed, "q1": pq1, "q3": pq3, "runs": par},
            "change": {"median": cmed, "q1": cq1, "q3": cq3, "runs": chg},
            "wins": wins, "pairs": len(ok), "delta": cmed / pmed - 1 if pmed else 0.0,
            "verdict": verdict,
        }
    out["failed_runs"] = {
        "parent": sum(bool(p.get("failed_run")) for p, _ in pairs),
        "change": sum(bool(c.get("failed_run")) for _, c in pairs),
    }
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="baseline revision")
    ap.add_argument("--change", default=None, help="revision under test (default: working tree)")
    ap.add_argument("--workloads", default="store_txn", help="comma-separated workloads")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=100, help="seed of the first pair")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--bound", type=float, default=0.25)
    ap.add_argument("--timeout", type=int, default=600, help="seconds per run")
    ap.add_argument("--json", default=None, help="write runs and summary here")
    args = ap.parse_args(argv)

    change = args.change or git("stash", "create") or "HEAD"
    revs = {"parent": git("rev-parse", args.parent), "change": git("rev-parse", change)}
    tmp = tempfile.mkdtemp(prefix="perfab-")
    report: dict = {"revs": revs, "workloads": {}}
    try:
        trees = {}
        for side, rev in revs.items():
            trees[side] = os.path.join(tmp, side)
            extract(rev, trees[side])
        for wl in args.workloads.split(","):
            pairs = []
            for i in range(args.pairs):
                seed = args.seed + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                got = {}
                for side in order:
                    got[side] = run_once(trees[side], wl, seed, args.seconds, args.timeout)
                pairs.append((got["parent"], got["change"]))
                pm = got["parent"].get("metrics", {})
                cm = got["change"].get("metrics", {})
                print(
                    f"{wl} seed {seed} ({order[0]} first): "
                    + "  ".join(
                        f"{m} {pm.get(m, float('nan')):.3f}/{cm.get(m, float('nan')):.3f}"
                        for m in METRICS
                    ),
                    flush=True,
                )
            summary = summarize(pairs, args.bound)
            report["workloads"][wl] = {"pairs": pairs, "summary": summary}
            print(f"\n{wl}: parent {revs['parent'][:10]} vs change {revs['change'][:10]}, "
                  f"failed runs {summary['failed_runs']}")
            print(f"{'metric':<14}{'parent med [q1, q3]':>28}{'change med [q1, q3]':>28}"
                  f"{'delta':>9}{'wins':>8}  verdict")
            for m in METRICS:
                s = summary[m]
                if "parent" not in s:
                    print(f"{m:<14}  {s['verdict']}")
                    continue
                p, c = s["parent"], s["change"]
                print(
                    f"{m:<14}{p['median']:>10.3f} [{p['q1']:.3f}, {p['q3']:.3f}]"
                    f"{c['median']:>10.3f} [{c['q1']:.3f}, {c['q3']:.3f}]"
                    f"{s['delta']:>+9.1%}{s['wins']:>5}/{s['pairs']:<2}  {s['verdict']}"
                )
            print(flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
