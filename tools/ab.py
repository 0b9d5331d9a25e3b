"""Alternating A/B of the consumer benchmark: a base commit against the
checkout this script runs from.

    python3 tools/ab.py BASE_REF [--pairs 10] [--workload oltp_tail ...] [--out FILE]

The base is exported with ``git archive`` into a temporary directory (no
worktree is registered, so an interrupted run leaves nothing under
``.git``), and removed on exit. Each pair runs ``perfbench/run.py`` once on
each side with the same seed (pair ``i`` uses seed ``i + 1``) and the run
length ``BENCHMARK.json`` sets; every other pair swaps which side runs
first, so drift in the machine's load falls on both sides alike. Every run
records its load average and ``cpu_mops`` calibration.

One JSON file gets every run and, per workload and end-to-end metric, each
side's median and quartiles, the change/base ratio of the medians, the
pairs the change won, and a verdict against the metric's bound in
``BENCHMARK.json``:

- ``worse``: the change's median is worse than the base's by more than the
  bound;
- ``unresolved``: the base's own spread (quartile distance over its
  median) exceeds the bound, and not every change run beats every base run;
- ``better``: the change won at least nine tenths of the pairs and the
  medians differ by more than the base's quartile distance;
- ``same``: none of these.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def export(ref: str, dest: str) -> str:
    """Unpack ``ref``'s committed files into ``dest``; returns its commit."""
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{ref}^{{commit}}"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.strip()
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise RuntimeError(f"git archive {sha} failed")
    return sha


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    """One perfbench run; its last two output lines are the full report and
    the result."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    start = time.time()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                          timeout=seconds * 40 + 300)
    rec = {"returncode": proc.returncode, "wall_s": round(time.time() - start, 1)}
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if len(lines) < 2:
        rec.update(correct=False, metrics={}, error=proc.stderr[-2000:])
        return rec
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    rec.update(
        correct=bool(result["correct"]),
        attempted=result["attempted"],
        failed=result["failed"],
        metrics={k: v["value"] for k, v in result["metrics"].items()},
        load_before=report.get("load_before"),
        load_after=report.get("load_after"),
        cpu_mops=report.get("cpu_mops"),
    )
    return rec


def verdict(base: list[float], change: list[float], pairs: list[tuple[float, float]],
            better: str, bound: float) -> dict:
    sign = 1 if better == "higher" else -1
    b1, bm, b3 = quartiles(base)
    c1, cm, c3 = quartiles(change)
    wins = sum(1 for b, c in pairs if sign * (c - b) > 0)
    worse_by = sign * (bm - cm) / bm if bm else 0.0
    spread = (b3 - b1) / bm if bm else 0.0
    if worse_by > bound:
        v = "worse"
    elif spread > bound and not all(sign * (c - b) > 0 for c in change for b in base):
        v = "unresolved"
    elif wins >= 0.9 * len(pairs) and abs(cm - bm) > b3 - b1:
        v = "better"
    else:
        v = "same"
    return {
        "base": {"q1": b1, "median": bm, "q3": b3},
        "change": {"q1": c1, "median": cm, "q3": c3},
        "ratio": cm / bm if bm else None,
        "base_spread": spread,
        "wins": wins,
        "pairs": len(pairs),
        "bound": bound,
        "verdict": v,
    }


def summarize(runs: list[dict], spec: dict) -> dict:
    out = {"correct": all(r["correct"] for r in runs), "metrics": {}}
    by_pair: dict[int, dict[str, dict]] = {}
    for r in runs:
        by_pair.setdefault(r["pair"], {})[r["side"]] = r
    for m in spec["end_to_end"]:
        name = m["name"]
        pairs = [
            (p["base"]["metrics"][name], p["change"]["metrics"][name])
            for p in by_pair.values()
            if name in p.get("base", {}).get("metrics", {})
            and name in p.get("change", {}).get("metrics", {})
        ]
        if not pairs:
            continue
        out["metrics"][name] = verdict(
            [b for b, _ in pairs], [c for _, c in pairs], pairs, m["better"], m["bound"]
        )
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base_ref")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workload", action="append",
                    help="repeatable; default: every workload in BENCHMARK.json")
    ap.add_argument("--out", help="result file (default: AB_<base commit>.json)")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    # a terminated A/B still removes the base export
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    base_dir = tempfile.mkdtemp(prefix="ab-base-")
    try:
        sha = export(args.base_ref, base_dir)
        out_path = args.out or os.path.join(ROOT, f"AB_{sha[:7]}.json")
        result = {"base_ref": args.base_ref, "base_commit": sha, "change": ROOT,
                  "seconds": spec["run_seconds"], "pairs": args.pairs, "workloads": {}}
        runs: dict[str, list[dict]] = {w: [] for w in workloads}
        for i in range(args.pairs):
            sides = [("base", base_dir), ("change", ROOT)]
            if i % 2:
                sides.reverse()
            for w in workloads:
                for order, (side, checkout) in enumerate(sides):
                    rec = run_once(checkout, w, i + 1, spec["run_seconds"])
                    rec.update(pair=i, side=side, seed=i + 1, first=order == 0)
                    runs[w].append(rec)
                    print(json.dumps({"workload": w, **rec}), file=sys.stderr, flush=True)
            for w in workloads:
                result["workloads"][w] = {**summarize(runs[w], spec), "runs": runs[w]}
            # rewritten after every pair, so an interrupted A/B keeps its runs
            with open(out_path, "w") as fh:
                json.dump(result, fh, indent=1)
        print(out_path)
        return 0 if all(v["correct"] for v in result["workloads"].values()) else 1
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
