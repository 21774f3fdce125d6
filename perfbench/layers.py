"""The traced window: spans around each layer call, Spark work attributed
to them, and the per-layer metrics (means per op unless noted).

Layers and their spans (all recorded from the benchmark's own calls):

- ``driver_queries.build``: the registry entry building its DataFrame
  (construction-time jobs land here); ``plans.build`` is the benchmark's
  own star read;
- ``plan.executed_plan``: ``executedPlan()`` of the returned frame;
- ``action.write``: the parquet write that executes it;
- ``streaming.drain``: a load op's ``denormalizing_sink`` query, started
  and awaited (the load's action);
- ``writer.write_denormalized``: the sink's call into the writer, on the
  micro-batch thread, child of ``streaming.drain``.
"""

from __future__ import annotations

import os
import statistics

from perfbench.trace import Sampler, StatusReader, Tracer, attribute, cpu_seconds, self_times

#: span name -> phase its jobs count towards
PHASE = {
    "driver_queries.build": "build",
    "plans.build": "build",
    "plan.executed_plan": "plan",
    "action.write": "action",
    "streaming.drain": "action",
    "writer.write_denormalized": "writer",
}

MB = 2**20

#: every per-layer metric the traced run reports, with its unit
UNITS = {
    "driver_queries.build_s": "s",
    "driver_queries.build_jobs": "count",
    "driver_queries.build_stages": "count",
    "plan.plan_s": "s",
    "action.wall_s": "s",
    "action.jobs": "count",
    "action.stages": "count",
    "action.tasks": "count",
    "action.skipped_stages_frac": "frac",
    "scheduler.driver_cpu_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.busy_frac": "frac",
    "python.worker_s": "s",
    "python.boot_s": "s",
    "python.data_sent_mb": "MB",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "plans.cached_peak_mb": "MB",
    "sources.input_mb": "MB",
    "sources.files_read": "count",
    "writer.bytes_written_mb": "MB",
    "writer.files_written": "count",
    "writer.bytes_per_input_byte": "B/B",
    "writer.rejected_rows": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.query_planning_s": "s",
    "selftime.op_s": "s",
    "selftime.build_s": "s",
    "selftime.plan_s": "s",
    "selftime.action_s": "s",
    "selftime.writer_s": "s",
    "failed_ops_frac": "frac",
    "trace.overhead_throughput_ops_s": "1/s",
    "trace.overhead_latency_p50_s": "s",
    "trace.overhead_latency_tail_s": "s",
    # untraced-window end-to-end numbers too unsteady for a bound
    "latency_tail_s": "s",
    "peak_rss_mb": "MB",
}

#: streaming progress durationMs key -> metric
_PROGRESS = {
    "triggerExecution": "streaming.trigger_s",
    "addBatch": "streaming.add_batch_s",
    "walCommit": "streaming.wal_commit_s",
    "queryPlanning": "streaming.query_planning_s",
}


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class TracedProbes:
    """Before/after hooks around each op of the traced window."""

    def __init__(self, bench, tracer: Tracer) -> None:
        self.bench = bench
        self.tracer = tracer
        self.reader = StatusReader(bench.spark)
        self.jvm_pid = bench.spark.sparkContext._gateway.proc.pid

    def before(self, op, tracer):
        self.reader.new_since()
        star = _dir_stats(self.bench.etl.star) if op.kind == "load" else (0, 0)
        return cpu_seconds(self.jvm_pid), star

    def after(self, op, tracer, rec, before) -> None:
        cpu0, star0 = before
        jvm_cpu = cpu_seconds(self.jvm_pid) - cpu0
        jobs, stages, execs = self.reader.new_since()
        spans = [s for s in tracer.spans if s.op == rec["seq"]]
        lay = {k: 0.0 for k in UNITS}
        for s in spans:
            ph = PHASE.get(s.name)
            if ph == "build" and s.name == "driver_queries.build":
                lay["driver_queries.build_s"] += s.end - s.start
            elif ph == "plan":
                lay["plan.plan_s"] += s.end - s.start
            elif ph == "action":
                lay["action.wall_s"] += s.end - s.start
        skipped = total_stages = 0
        for j in jobs:
            span = attribute(spans, j["t"], rec["seq"])
            name = span.name if span is not None else ""
            ph = PHASE.get(name)
            ran = j["numCompletedStages"]
            if name == "driver_queries.build":
                lay["driver_queries.build_jobs"] += 1
                lay["driver_queries.build_stages"] += ran
            if ph == "action":
                lay["action.jobs"] += 1
                lay["action.stages"] += ran
                lay["action.tasks"] += j["numCompletedTasks"]
                skipped += j["numSkippedStages"]
                total_stages += ran + j["numSkippedStages"]
        rec["action_skipped"] = (skipped, total_stages)
        exec_cpu = 0.0
        for s in stages.values():
            if s["status"] == "SKIPPED":
                continue
            lay["executor.run_s"] += s["executorRunTime"] / 1e3
            exec_cpu += s["executorCpuTime"] / 1e9
            lay["executor.gc_s"] += s["jvmGcTime"] / 1e3
            lay["sources.input_mb"] += s["inputBytes"] / MB
            lay["shuffle.write_mb"] += s["shuffleWriteBytes"] / MB
            lay["shuffle.read_mb"] += s["shuffleReadBytes"] / MB
            lay["shuffle.fetch_wait_s"] += s["shuffleFetchWaitTime"] / 1e3
            lay["shuffle.spill_mb"] += (s["diskBytesSpilled"] + s["memoryBytesSpilled"]) / MB
        lay["executor.cpu_s"] = exec_cpu
        lay["scheduler.driver_cpu_s"] = jvm_cpu - exec_cpu
        for e in execs:
            lay["python.worker_s"] += e["python_worker_s"]
            lay["python.boot_s"] += e["python_boot_s"]
            lay["python.data_sent_mb"] += e["python_sent_b"] / MB
            lay["sources.files_read"] += e["files_read"]
        if op.kind == "load" and rec["error"] is None:
            files, size = _dir_stats(self.bench.etl.star)
            lay["writer.files_written"] = files - star0[0]
            lay["writer.bytes_written_mb"] = (size - star0[1]) / MB
            in_bytes = os.path.getsize(self.bench.etl.slice_path(op.slice))
            lay["writer.bytes_per_input_byte"] = (size - star0[1]) / in_bytes
            for p in rec.get("progress", []):
                for key, metric in _PROGRESS.items():
                    lay[metric] += p.get(key, 0) / 1e3
        rec["layers"] = lay


def _wrap_writer(tracer: Tracer):
    """Record a span around each sink call into the writer. The call runs
    on the micro-batch thread, so its parent, the latest streaming span
    the main thread opened, is passed explicitly."""
    import feasibility_etl_spark.writer.denormalized as wd

    orig = wd.write_denormalized

    def traced(*a, **kw):
        drain = next(
            (s.id for s in reversed(tracer.spans) if s.name == "streaming.drain"), None
        )
        with tracer.span("writer.write_denormalized", parent=drain):
            return orig(*a, **kw)

    wd.write_denormalized = traced
    return wd, orig


def traced_window(bench) -> tuple[list[dict], Tracer, float]:
    """Run the traced window; returns its records, the tracer and the
    sampled peak of persisted-data bytes."""
    tracer = Tracer(f"{bench.wl.name}-{bench.args.seed}-traced", enabled=True)
    probes = TracedProbes(bench, tracer)
    bench.probe_before, bench.probe_after = probes.before, probes.after
    sampler = Sampler(probes.reader.storage_bytes)
    wd, orig = _wrap_writer(tracer)
    sampler.start()
    try:
        # one pass: the probes between traced ops cost about as much as
        # the ops, and a traced run must stay well inside its time limit
        recs, _ = bench.window(tracer, "traced", passes=1)
    finally:
        sampler.stop()
        wd.write_denormalized = orig
    return recs, tracer, sampler.peak_storage


def _mean(recs: list[dict], key: str) -> float:
    vals = [r["layers"][key] for r in recs]
    return statistics.fmean(vals) if vals else 0.0


def summarize(bench, recs, tracer: Tracer, peak_storage: float, e2e_untraced: dict,
              e2e_traced: dict) -> dict:
    """Per-layer metrics of the traced window, by name, with units."""
    ok = [r for r in recs if "layers" in r]
    loads = [r for r in ok if r["kind"] == "load"]
    built = [r for r in ok if r["name"] not in ("STAR", "LOAD")]
    reads = [r for r in ok if r["kind"] == "read"]
    out: dict[str, float] = {}
    for key in UNITS:
        if key.startswith(("writer.", "streaming.")):
            out[key] = _mean(loads, key)
        elif key.startswith("driver_queries."):
            out[key] = _mean(built, key)
        elif key == "plan.plan_s":
            out[key] = _mean(reads, key)
        elif key in out or key.startswith(("selftime.", "trace.")) or "." not in key:
            continue
        else:
            out[key] = _mean(ok, key)
    for r in loads:
        r["layers"]["writer.rejected_rows"] = r.get("rejected_rows", 0)
    out["writer.rejected_rows"] = _mean(loads, "writer.rejected_rows")
    skipped = sum(r["action_skipped"][0] for r in ok)
    total = sum(r["action_skipped"][1] for r in ok)
    out["action.skipped_stages_frac"] = skipped / total if total else 0.0
    wall = sum(r["latency"] for r in ok)
    run_s = sum(r["layers"]["executor.run_s"] for r in ok)
    out["executor.busy_frac"] = run_s / (wall * bench.cpus) if wall else 0.0
    out["plans.cached_peak_mb"] = peak_storage / MB
    out["failed_ops_frac"] = sum(1 for r in recs if r["error"]) / len(recs)
    # self time per layer, summed per op then averaged over ops
    st = self_times(tracer.spans)
    per_layer = {"op": 0.0, "build": 0.0, "plan": 0.0, "action": 0.0, "writer": 0.0}
    for s in tracer.spans:
        layer = "op" if s.name.startswith("op.") else PHASE.get(s.name)
        if layer:
            per_layer[layer] += st[s.id]
    for layer, v in per_layer.items():
        out[f"selftime.{layer}_s"] = v / max(len(recs), 1)
    for k in ("throughput_ops_s", "latency_p50_s", "latency_tail_s"):
        out[f"trace.overhead_{k}"] = e2e_traced[k]["value"] - e2e_untraced[k]["value"]
    return {k: {"value": out[k], "unit": UNITS[k]} for k in UNITS if k in out}
