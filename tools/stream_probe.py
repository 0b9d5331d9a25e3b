"""10x scale probe for the streaming CDC harnesses (VERDICT r7 #3).

The composite 10x probe caught a real quadratic in the dedup family; this
applies the same discipline to the stream pipelines — the reference's hot
path (main.go:63-169 equivalent). For each stream query it times a full
run at 1x and Nx synthesized data (same id-shifted synthesis as
tools/scale_probe.py: fact keys shifted per copy, dims/shared keys fixed —
keys get HOTTER with scale) and reports:

- wall ratio and per-phase ratios (STREAM_PHASES, which every CDC stream
  query sets through the registry's one harness, _cdc_stream: transport
  write / store seed / stream run);
- for stream_cdc_transactional, the per-microbatch TX_STREAM_BATCHES rows
  (SPARK_GRAFT_STREAM_PROBE=1): pending rewrite seconds vs pending rows,
  the evidence that the pending-buffer rewrite is linear in PENDING size,
  not total state.

Usage: python tools/stream_probe.py [N] [query ...]   # default N=10
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ["SPARK_GRAFT_STREAM_PROBE"] = "1"

from etl_consumer_spark.plans import queries as Q  # noqa: E402
from etl_consumer_spark.session import get_spark  # noqa: E402
from tools.scale_probe import SF_DIR, synthesize  # noqa: E402

DEFAULT_QUERIES = [
    "stream_cdc_full_stack",
    "stream_cdc_transactional",
    "stream_cdc_partitioned",
    "stream_cdc_snapshot_bootstrap",
    "stream_cdc_type_change",
]


def run_once(spark, name: str, sf_dir: str) -> dict:
    # both observability containers are populated by SPECIFIC queries;
    # clear them so a query without its own instrumentation can't report a
    # predecessor's numbers
    Q.STREAM_PHASES.clear()
    Q.TX_STREAM_BATCHES.clear()
    t0 = time.time()
    Q.QUERIES[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    out = {"wall_s": round(time.time() - t0, 3)}
    if Q.STREAM_PHASES:
        out["phases"] = dict(Q.STREAM_PHASES)
    if Q.TX_STREAM_BATCHES:
        out["batches"] = [dict(b) for b in Q.TX_STREAM_BATCHES]
    return out


def run_best(spark, name: str, sf_dir: str, n_runs: int = 2) -> dict:
    """Steady-state: n_runs full runs, keep the lowest-wall one (the stream
    harnesses carry several seconds of fixed micro-batch/checkpoint setup
    that dominates a single cold run)."""
    runs = [run_once(spark, name, sf_dir) for _ in range(n_runs)]
    return min(runs, key=lambda r: r["wall_s"])


def main() -> None:
    args = sys.argv[1:]
    n = int(args[0]) if args and args[0].isdigit() else 10
    stray = [a for a in args[1:] if a.isdigit()]
    if stray:
        # a digit anywhere but first would silently run at the default N
        # while claiming the stray number's scale — refuse instead
        sys.exit(f"N must be the FIRST argument; got stray digits {stray}")
    names = [a for a in args if not a.isdigit()] or DEFAULT_QUERIES
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="stream_probe",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup

    big_dir = tempfile.mkdtemp(prefix=f"streamprobe_{n}x_")
    print(f"synthesizing {n}x of {SF_DIR} -> {big_dir}", file=sys.stderr)
    synthesize(spark, big_dir, n)

    report = {"n_copies": n, "base_sf_dir": SF_DIR, "queries": {}}
    for name in names:
        one = run_best(spark, name, SF_DIR)
        big = run_best(spark, name, big_dir)
        entry = {
            "x1": one,
            f"x{n}": big,
            "wall_ratio": round(big["wall_s"] / max(one["wall_s"], 1e-9), 2),
        }
        if "phases" in one and "phases" in big:
            entry["phase_ratios"] = {
                k: round(big["phases"][k] / max(one["phases"][k], 1e-9), 2)
                for k in one["phases"]
            }
        report["queries"][name] = entry
        print(json.dumps({name: entry}), file=sys.stderr)

    shutil.rmtree(big_dir, ignore_errors=True)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
