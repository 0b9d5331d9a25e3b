"""CDC consumer benchmark: drives the deployed consumer path
(``runner.build_pipeline`` -> ``CDCPipeline`` -> the default partitioned
state store, file transport) over a seeded Debezium envelope stream.

    python3 perfbench/run.py --workload oltp_tail --seed 1 --seconds 15 --trace 0
    python3 -m pytest perfbench/tests    # the benchmark's own tests

Run from the root of a checkout. Everything a run creates lives under one
temporary directory in the checkout, removed when the run ends. The last
line of standard output is the result: end-to-end metrics with
``--trace 0``, per-layer metrics from a traced run with ``--trace 1``. The
line before it is a full report (sample counts, correctness counts, load
and machine details). A traced run also writes its spans to
``perfbench-spans-<workload>.jsonl`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _checkout_ok() -> bool:
    return os.path.isfile(os.path.join(ROOT, "etl_consumer_spark", "streaming", "pipeline.py"))


def calibrate() -> float:
    """Millions of simple interpreter operations per second on this machine."""
    n, t0 = 2_000_000, time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i & 7
    return n / (time.perf_counter() - t0) / 1e6


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def rss_mb(pid: int | str, field: str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    return 0.0


class Run:
    """One benchmark run: set-up, stream, measurement, check, teardown."""

    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.report: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": bool(args.trace)}
        self.commits: dict[int, dict] = {}   # batch id -> timing, files, result
        self.released: list[tuple[str, float]] = []  # file name, publish (due) time
        self.lock = threading.Lock()
        self.feeding_done = False  # no more files will be published
        self.measure_start = float("inf")  # end of the warm-up
        self.late: list[float] = []  # open loop: publish time minus due time
        self.tracer = None

    # -- set-up -------------------------------------------------------------

    def environment(self) -> None:
        r = self.root
        for d in ("transport", "tmp", "spark-local", "jvm-tmp"):
            os.makedirs(os.path.join(r, d))
        self.jvm_opts = f"-Djava.io.tmpdir={os.path.join(r, 'jvm-tmp')} -XX:-UsePerfData"
        os.environ.update(
            TMPDIR=os.path.join(r, "tmp"),
            SPARK_LAUNCHER_OPTS=self.jvm_opts,  # the launcher JVM spark-submit starts first
            SPARK_LOCAL_DIRS=os.path.join(r, "spark-local"),
            SPARK_DRIVER_MEMORY="2g",
            TABLESPECS=os.path.join(r, "tablespecs.json"),
            STATE_PATH=os.path.join(r, "state"),
            TRANSPORT="file:" + os.path.join(r, "transport"),
            DEAD_LETTER_PATH=os.path.join(r, "dead_letters"),
            CHECKPOINT_DIR=os.path.join(r, "ckpt"),
            SERVER="bench", DBNAME="shop",
        )
        tempfile.tempdir = None  # re-read TMPDIR

    def generate(self) -> None:
        import workloads

        t0 = time.time()
        self.plan = workloads.build(self.args.workload, self.args.seed, self.args.seconds, self.root)
        plan = self.plan
        with open(os.environ["TABLESPECS"], "w") as fh:
            json.dump({t.name: t.spec() for t in plan.tables}, fh)
        if plan.max_files_per_trigger:
            os.environ["MAX_FILES_PER_TRIGGER"] = str(plan.max_files_per_trigger)
        else:
            os.environ.pop("MAX_FILES_PER_TRIGGER", None)
        os.environ["TABLE"] = ",".join(t.name for t in plan.tables)
        self.seed_files = {t.name: self._seed_file(t, plan.seed_images[t.name]) for t in plan.tables}
        self.report["generate_s"] = time.time() - t0
        self.report["files_generated"] = len(plan.files)

    def _seed_file(self, table, images) -> str:
        """The table's initial state as parquet with the consumer's state types."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from fold import decode
        from gen import state_type

        arrow = {"bigint": pa.int64(), "double": pa.float64(), "string": pa.string(),
                 "int": pa.int32(), "date": pa.date32(), "timestamp": pa.timestamp("us", tz="UTC")}
        cols = {}
        for f in table.initial:
            vals = [decode(f, img.get(f.name)) for img in images]
            cols[f.name] = pa.array(vals, arrow[state_type(f)])
        path = os.path.join(self.root, f"seed-{table.name}.parquet")
        pq.write_table(pa.table(cols), path)
        return path

    def setup(self) -> None:
        """Spark session, ``build_pipeline``, state seed, stream start."""
        spans = {}
        t0 = time.time()
        from etl_consumer_spark.session import get_spark

        master = f"local[{max(1, (os.cpu_count() or 2) // 2)}]"
        # C1 only: C2 keeps recompiling for ~15 batches, longer than a run
        # can wait, so runs would measure different points of that curve.
        # A fixed heap keeps peak RSS from following GC resizing decisions.
        jvm_opts = f"{self.jvm_opts} -XX:TieredStopAtLevel=1 -Xms2g"
        self.spark = get_spark(
            app_name="perfbench", master=master, shuffle_partitions=2,
            extra_conf={
                "spark.driver.extraJavaOptions": jvm_opts,
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(self.root, "warehouse"),
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
                "spark.ui.retainedJobs": "100000",
            },
        )
        spans["session.start_s"] = time.time() - t0
        self.report["master"] = master
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

        t1 = time.time()
        from etl_consumer_spark.runner import build_pipeline

        self.pipe, self.transport = build_pipeline(self.spark)
        spans["pipeline.build_s"] = time.time() - t1

        if self.args.trace:
            self._install_tracing()
        t2 = time.time()
        for t in self.plan.tables:
            self.pipe.store.init(t.name, self.spark.read.parquet(self.seed_files[t.name]), t.pk)
        spans["state.seed_s"] = time.time() - t2

        t3 = time.time()
        real = self.pipe.process_batch
        self.pipe.process_batch = lambda batch, epoch_id: self._batch(real, batch, epoch_id)
        self._release()  # the first file; each committed warm-up batch releases the next
        self.query = self.pipe.start(self.transport, checkpoint_dir=os.environ["CHECKPOINT_DIR"])
        spans["stream.start_s"] = time.time() - t3
        self.report.update(spans)
        self.report["setup_s"] = sum(spans.values())

    def _install_tracing(self) -> None:
        import etl_consumer_spark.streaming.pipeline as pipeline_mod
        from trace import StoreProxy, Tracer, timed_dead_letters

        self.tracer = Tracer(self.spark)
        self.pipe.store = StoreProxy(self.pipe.store, self.tracer)
        pipeline_mod.write_dead_letters = timed_dead_letters(pipeline_mod.write_dead_letters, self.tracer)

    # -- the stream -----------------------------------------------------------

    def _release(self, due: float | None = None) -> None:
        """Publish the next staged file into the transport (atomic rename)."""
        src = self.plan.files[len(self.released)][0]
        dst = os.path.join(self.root, "transport", os.path.basename(src))
        os.rename(src, dst)
        now = time.time()
        self.released.append((os.path.basename(src), now if due is None else due))
        if due is not None:
            self.late.append(now - due)

    def _batch_files(self, epoch_id: int) -> list[str]:
        """Transport files of a batch, from the file source's metadata log."""
        log = os.path.join(os.environ["CHECKPOINT_DIR"], "sources", "0")
        for name in (f"{epoch_id}.compact", str(epoch_id)):
            p = os.path.join(log, name)
            if os.path.exists(p):
                with open(p) as fh:
                    lines = fh.read().splitlines()[1:]
                return [os.path.basename(e["path"]) for e in map(json.loads, lines)
                        if e["batchId"] == epoch_id]
        return []

    def _batch(self, real, batch, epoch_id: int):
        """The pipeline's ``process_batch``, timed; in a closed loop (and in
        every warm-up) each committed batch releases the next file."""
        tr = self.tracer
        if tr is not None:
            jobs0 = tr.job_ids()
            tr.batch = epoch_id
            tr.parent = span = tr.open("pipeline.batch")
        start = time.time()
        result = real(batch, epoch_id)
        end = time.time()
        if tr is not None:
            tr.close(span, jobs=len(tr.job_ids() - jobs0))
            tr.parent = tr.batch = None
        files = self._batch_files(epoch_id)
        with self.lock:
            self.commits[epoch_id] = dict(start=start, end=end, files=files, result=result)
            n = len(self.commits)
            warmup = self.plan.warmup_batches
            if n == warmup and self.plan.closed:
                self.measure_start = end
            more = n < warmup or (self.plan.closed and end < self.measure_start + self.args.seconds)
            if more and len(self.released) < len(self.plan.files):
                self._release()
            elif n >= warmup and self.plan.closed:
                self.feeding_done = True
        return result

    def _committed(self) -> int:
        with self.lock:
            return sum(len(c["files"]) for c in self.commits.values())

    def _wait(self, done, what: str, timeout: float) -> None:
        deadline = time.time() + timeout
        while not done():
            if not self.query.isActive:
                raise RuntimeError(f"stream stopped: {self.query.exception()}")
            if time.time() > deadline:
                raise RuntimeError(f"timed out waiting for {what}")
            time.sleep(0.05)

    def publish_open_loop(self) -> None:
        """Publish one file per interval on a fixed schedule that never waits
        for the consumer; record how late each publish was."""
        plan = self.plan
        self.measure_start = t0 = time.time()
        for k in range(len(plan.files) - len(self.released)):
            due = t0 + k * plan.interval_s
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            with self.lock:
                self._release(due)
        time.sleep(max(0.0, t0 + (k + 1) * plan.interval_s - time.time()))
        # files due by the end of the schedule but not yet committed
        self.report["backlog_files_end"] = len(self.released) - self._committed()
        self.feeding_done = True

    def stream(self) -> None:
        budget = self.args.seconds + 120
        if not self.plan.closed:
            self._wait(lambda: len(self.commits) >= self.plan.warmup_batches, "warm-up", budget)
            self.publish_open_loop()
        self._wait(lambda: self.feeding_done and self._committed() >= len(self.released),
                   "the stream to drain", budget)
        # the last batch's progress event follows its offset commit
        last = max(self.commits)
        self._wait(lambda: (self.query.lastProgress or {}).get("batchId", -1) >= last,
                   "the last progress event", 30)
        self.report["rss_python_mb"] = rss_mb("self", "VmRSS")
        self.report["rss_jvm_peak_mb"] = rss_mb(self.jvm_pid, "VmHWM")
        self.progress = [json.loads(p.json) for p in self.query.recentProgress]
        self.query.stop()

    # -- measurement ------------------------------------------------------------

    def measured_batches(self) -> list[int]:
        """Batches after the warm-up that started within the window."""
        return [b for b in sorted(self.commits)[self.plan.warmup_batches:]
                if self.commits[b]["start"] < self.measure_start + self.args.seconds]

    def end_to_end(self) -> dict:
        from stats import summary

        plan = self.plan
        envs = {os.path.basename(p): len(e) for p, e in plan.files}
        published = dict(self.released)
        prog = {p["batchId"]: p for p in self.progress}
        batches = self.measured_batches()
        if not batches:
            raise RuntimeError("no measured batches")
        trig = [prog[b]["durationMs"]["triggerExecution"] / 1000 for b in batches]
        n_env = sum(envs[f] for b in batches for f in self.commits[b]["files"])
        # every file published after the warm-up, including those the
        # batches after the window committed
        warm = sorted(self.commits)[: plan.warmup_batches]
        lags = [c["end"] - published[f] for b, c in self.commits.items() if b not in warm
                for f in c["files"]]
        rep = self.report
        rep["measured_batches"] = len(batches)
        rep["envelopes_measured"] = n_env
        rep["batch_s"] = summary(trig, "batch_s", "s")
        rep["lag_s"] = summary(lags, "lag_s", "s")
        rep["batch_trigger_s"] = [
            round(p["durationMs"]["triggerExecution"] / 1000, 3) for p in self.progress]
        rep["streaming.warmup_s"] = sum(self.commits[b]["end"] - self.commits[b]["start"] for b in warm)
        rep["files_exhausted"] = plan.closed and len(self.released) >= len(plan.files)
        if self.late:
            rep["generator_late_s_max"] = max(self.late)
        return {
            "setup_s": (rep["setup_s"], "s"),
            "envelopes_per_s": (n_env / sum(trig), "1/s"),
            "batch_s_p50": (rep["batch_s"]["p50"], "s"),
            "lag_s_p50": (rep["lag_s"]["p50"], "s"),
            "peak_rss_mb": (rep["rss_jvm_peak_mb"] + rep["rss_python_mb"], "MB"),
        }

    # -- correctness -------------------------------------------------------------

    def check(self) -> int:
        """Compare the committed state with the reference fold and the batch
        results with the expected fates; returns the number of failures."""
        from fold import Fold, rows_wrong
        from gen import DDL, DDL_SKIPPED, DEAD_LETTER, PASSTHROUGH
        from pyspark.sql import functions as F

        plan = self.plan
        fold = Fold({t.name: (t.initial, t.pk) for t in plan.tables})
        for t in plan.tables:
            fold.seed(t.name, plan.seed_images[t.name])
        fates: dict[str, int] = {}
        released = {f for f, _ in self.released}
        for path, envs in plan.files:
            if os.path.basename(path) not in released:
                break
            for e in envs:
                fold.apply(e.value, e.fate)
                fates[e.fate] = fates.get(e.fate, 0) + 1
        store = self.pipe.store
        wrong = expected_rows = 0
        for t in plan.tables:
            df = store.read(t.name)
            names = [f.name for f in fold.fields[t.name]]
            types = dict(df.dtypes)
            cols = [F.unix_micros(c).alias(c) if types[c] == "timestamp"
                    else F.unix_date(c).alias(c) if types[c] == "date" else F.col(c)
                    for c in names]
            actual = [tuple(d[c] for c in names) for d in df.select(*cols).toArrow().to_pylist()]
            expected = fold.expected(t.name)
            expected_rows += len(expected)
            wrong += rows_wrong(expected, actual, len(t.pk))
        results = [c["result"] for c in self.commits.values()]
        dead = sum(r.dead_letters for r in results)
        got = {
            PASSTHROUGH: sum(len(r.passthrough) for r in results),
            DDL: sum(len(r.ddl_applied) for r in results),
            DDL_SKIPPED: sum(len(r.ddl_skipped) for r in results),
        }
        rep = self.report
        rep["state_rows_wrong"] = wrong
        rep["state_rows_expected"] = expected_rows
        rep["dead_letters_unexpected"] = abs(dead - fates.get(DEAD_LETTER, 0))
        rep["fates"] = fates
        rep["fate_mismatches"] = {k: [fates.get(k, 0), v] for k, v in got.items() if fates.get(k, 0) != v}
        rep["ddl.applied"] = got[DDL]
        rep["ddl.skipped"] = got[DDL_SKIPPED]
        rep["envelopes_sent"] = sum(fates.values())
        return wrong + rep["dead_letters_unexpected"] + sum(
            abs(a - b) for a, b in rep["fate_mismatches"].values())

    # -- teardown ---------------------------------------------------------------

    def close(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        query = getattr(self, "query", None)
        if query is not None and query.isActive:
            query.stop()
        gateway = SparkContext._gateway
        spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
            SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _checkout_ok():
        print("perfbench: run from a checkout that holds etl_consumer_spark", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.BUILD:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # a terminated run still stops the JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    root = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    run = Run(args, root)
    try:
        run.report.update(nproc=os.cpu_count(), load_before=loadavg(), cpu_mops=calibrate())
        run.environment()
        run.generate()
        run.setup()
        run.stream()
        metrics = run.end_to_end()
        failed = run.check()
        if args.trace:
            import layers

            metrics = layers.per_layer(run, metrics)
        run.report["load_after"] = loadavg()
        run.report["failed"] = failed
        print(json.dumps(run.report, default=str))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": run.report["envelopes_sent"],
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0 if failed == 0 else 1
    finally:
        try:
            run.close()
        finally:
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
