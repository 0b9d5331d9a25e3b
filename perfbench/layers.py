"""Per-layer metrics of a traced run, measured from outside the consumer.

Sources: the spans the store proxy and the dead-letter wrapper recorded
inside each batch, ``StreamingQuery.recentProgress``, the job group of the
query in the status tracker, and a replay of measured batches' files
through the consumer's public layer functions, each step materialized.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time

REPLAY_BATCHES = 5  # measured batches replayed layer by layer


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _ts(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def replay(run, batch: int) -> dict:
    """Time scan, routing and parse, decode and merge for one batch's files.
    Each step re-runs the ones before it, so a layer's time is the
    difference between consecutive cumulative timings."""
    from pyspark.sql import functions as F

    from etl_consumer_spark.operators.apply import apply_cdc
    from etl_consumer_spark.operators.routing import drop_tombstones, route_dml
    from etl_consumer_spark.sources.envelope import decode_envelope, parse_dml_envelope
    from etl_consumer_spark.sources.kafka import file_envelope_batch

    spark, pipe, tr = run.spark, run.pipe, run.tracer
    paths = [os.path.join(run.root, "transport", f) for f in run.commits[batch]["files"]]
    out = {}

    def step(name, df):
        with tr.span(name):
            t0 = time.time()
            _noop(df)
            return time.time() - t0

    tr.batch = batch
    tr.parent = tr.open("replay")
    raw = file_envelope_batch(spark, paths[0])
    for p in paths[1:]:
        raw = raw.unionByName(file_envelope_batch(spark, p))
    t_scan = step("replay.transport.scan", raw)
    parsed = parse_dml_envelope(drop_tombstones(route_dml(raw, pipe.cfg.server)))
    parsed = parsed.filter(F.col("envelope.payload").isNotNull()).withColumn(
        "table", F.col("envelope.payload.source.table"))
    t_parse = step("replay.envelope.parse", parsed)
    # differences of noisy timings: a small layer can come out below zero
    out["transport.scan_s"] = t_scan
    out["envelope.parse_s"] = t_parse - t_scan
    decode = merge = 0.0
    for name, spec in pipe.tables.items():
        decoded = decode_envelope(parsed.filter(F.col("table") == name), spec.fields)
        decode += step("replay.envelope.decode", decoded) - t_parse
        events = decoded.filter(F.col("passthrough").isNull()).cache()
        try:
            if events.isEmpty():
                continue
            # the whole table: both workloads touch every bucket today
            state = pipe.store.read(name)
            with tr.span("replay.apply.merge"):
                t0 = time.time()
                _noop(apply_cdc(state, events, spec.pk_cols, missing_update="upsert"))
                merge += time.time() - t0
        finally:
            events.unpersist()
    out["envelope.decode_s"] = decode
    out["apply.merge_s"] = merge
    tr.close(tr.parent)
    tr.parent = tr.batch = None
    return out


def per_layer(run, e2e: dict) -> dict:
    """Every per-layer metric, keyed by name, as (value, unit)."""
    tr = run.tracer
    rep = run.report
    batches = run.measured_batches()
    prog = {p["batchId"]: p for p in run.progress}
    envs = {os.path.basename(p): len(e) for p, e in run.plan.files}
    n_env = sum(envs[f] for b in batches for f in run.commits[b]["files"])

    # trigger spans from the progress events; each batch span is their child
    trig_span = {}
    for b, p in prog.items():
        start = _ts(p["timestamp"])
        trig_span[b] = tr.add("streaming.trigger", start, start + p["durationMs"]["triggerExecution"] / 1000,
                              batch=b, add_batch_s=p["durationMs"].get("addBatch", 0) / 1000,
                              input_rows=p["numInputRows"])
    for s in tr.spans:
        if s["name"] == "pipeline.batch" and s["batch"] in trig_span:
            s["parent"] = trig_span[s["batch"]]

    by_batch: dict[int, dict[str, list[dict]]] = {}
    for s in tr.spans:
        if s["batch"] is not None:
            by_batch.setdefault(s["batch"], {}).setdefault(s["name"], []).append(s)
    selfs = tr.self_times()

    def dur(b, name):
        return sum(s["end"] - s["start"] for s in by_batch.get(b, {}).get(name, []))

    trigger, protocol, batch_s, pre_apply, upsert, cover = [], [], [], [], [], []
    for b in batches:
        t = prog[b]["durationMs"]["triggerExecution"] / 1000
        a = prog[b]["durationMs"].get("addBatch", 0) / 1000
        (bs,) = by_batch[b]["pipeline.batch"]
        trigger.append(t)
        protocol.append(t - a)
        batch_s.append(bs["end"] - bs["start"])
        pre_apply.append(selfs[bs["id"]])
        upsert.append(dur(b, "state.upsert"))
        layers = (t - a) + selfs[bs["id"]] + sum(
            dur(b, n) for n in ("state.upsert", "state.evolve", "dead_letter.write", "trace.bookkeeping"))
        cover.append(layers / t)
    ups = [s for b in batches for s in by_batch[b].get("state.upsert", [])]
    # schema changes and dead letters are rare: count them over the whole run
    dls = [s for s in tr.spans if s["name"] == "dead_letter.write"]
    group_jobs = run.spark.sparkContext.statusTracker().getJobIdsForGroup(str(run.query.runId))

    # replay a few measured batches, spread over the window
    stride = max(1, len(batches) // REPLAY_BATCHES)
    replays = [replay(run, b) for b in batches[::stride][:REPLAY_BATCHES]]

    def rmed(k):
        return _median([r[k] for r in replays])

    m = {
        "streaming.trigger_s": (_median(trigger), "s"),
        "streaming.protocol_s": (_median(protocol), "s"),
        "streaming.jobs_per_batch": (len(group_jobs) / len(run.commits), "count"),
        "streaming.warmup_s": (rep["streaming.warmup_s"], "s"),
        "streaming.layers_cover_ratio": (_median(cover), "ratio"),
        "pipeline.batch_s": (_median(batch_s), "s"),
        "pipeline.pre_apply_s": (_median(pre_apply), "s"),
        "pipeline.batch_jobs": (_median([by_batch[b]["pipeline.batch"][0]["jobs"] for b in batches]), "count"),
        "transport.rows_read_per_envelope": (
            sum(prog[b]["numInputRows"] for b in batches) / n_env, "ratio"),
        "transport.scan_s": (rmed("transport.scan_s"), "s"),
        "envelope.parse_s": (rmed("envelope.parse_s"), "s"),
        "envelope.decode_s": (rmed("envelope.decode_s"), "s"),
        "apply.merge_s": (rmed("apply.merge_s"), "s"),
        "state.upsert_s": (_median(upsert), "s"),
        "state.upsert_jobs": (_median([s["jobs"] for s in ups]), "count"),
        "state.buckets_touched_ratio": (
            _median([s["buckets_touched"] / s["n_buckets"] for s in ups]), "ratio"),
        "state.rows_rewritten_per_envelope": (sum(s["rows_written"] for s in ups) / n_env, "ratio"),
        "state.bytes_written_per_envelope": (sum(s["bytes_written"] for s in ups) / n_env, "B"),
        "state.evolve_s": (sum(s["end"] - s["start"] for s in tr.spans if s["name"] == "state.evolve"), "s"),
        "dead_letter.rows": (sum(s["rows"] for s in dls), "count"),
        "dead_letter.write_s": (sum(s["end"] - s["start"] for s in dls), "s"),
        "ddl.applied": (rep["ddl.applied"], "count"),
        "ddl.skipped": (rep["ddl.skipped"], "count"),
        "session.start_s": (rep["session.start_s"], "s"),
        "pipeline.build_s": (rep["pipeline.build_s"], "s"),
        "state.seed_s": (rep["state.seed_s"], "s"),
        "traced.batch_s_p50": (e2e["batch_s_p50"][0], "s"),
        "traced.envelopes_per_s": (e2e["envelopes_per_s"][0], "1/s"),
        "traced.lag_s_p50": (e2e["lag_s_p50"][0], "s"),
    }
    out = os.path.join(os.path.dirname(run.root), f"perfbench-spans-{run.args.workload}.jsonl")
    tr.dump(out)
    rep["spans_file"] = os.path.basename(out)
    return m
