#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl-star --seed 1 --seconds 20 --trace 0

Closed loop, one client (this thread), ``local[N]`` with N = min(4, nproc).
Set-up (session bring-up, seeded input generation, one untimed warm pass)
is timed as ``setup_s``; then the window runs a fixed number of whole
passes of the workload's op mix, ``--seconds`` over the workload's nominal
pass time. Every op's output is checked after the window. The last
stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics of a traced window
(``--trace 1``). Exits non-zero when any output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

#: set-up steps repeated per run; setup_s reports their median
SETUP_REPEATS = 3
#: the end-to-end metrics the result line carries (BENCHMARK.json); the
#: tail and peak RSS of one pass swing by more than 25% between runs on a
#: shared 4-core host, so they are printed here and reported with the
#: per-layer metrics of the traced run instead
E2E_RESULT = ("setup_s", "throughput_ops_s", "latency_p50_s")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the latency at the highest
    nearest-rank percentile that leaves at least 10 samples above it; with
    10 samples or fewer, the maximum (and fewer than 10 beyond)."""
    s = sorted(latencies)
    n = len(s)
    k = max(n - 11, 0) if n > 10 else n - 1
    return s[k], 100.0 * (k + 1) / n, n - k - 1


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except OSError:
        return None
    return out.stdout.strip() or None


class Bench:
    """One benchmark run: the session, the inputs, the op loop, checks."""

    def __init__(self, args, work: str) -> None:
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.data = os.path.join(work, "data")
        self.cpus = min(4, len(os.sched_getaffinity(0)))
        self.records: list[dict] = []
        self.seq = 0
        self.spark = None
        self.etl = None
        self.check_reuses = 0

    # ------------------------------------------------------------ set-up

    def start_session(self) -> None:
        from feasibility_etl_spark.session import build_session

        tmp = os.path.join(self.work, "tmp")
        self.spark = build_session(
            "perfbench",
            master=f"local[{self.cpus}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def generate(self, root: str) -> dict:
        from perfbench.gen import generate

        return generate(root, self.args.seed, self.wl.name, **self.wl.gen_kwargs)

    def setup(self) -> dict:
        """JVM launch, then (fresh SparkContext + input generation) repeated
        SETUP_REPEATS times; the last copy of the inputs is the one the run
        reads. The warm pass follows in ``main``."""
        t0 = time.time()
        self.start_session()
        jvm_s = time.time() - t0
        reps = []
        for r in range(SETUP_REPEATS):
            t = time.time()
            self.spark.stop()
            self.start_session()
            root = self.data if r == SETUP_REPEATS - 1 else os.path.join(self.work, f"gen{r}")
            self.inputs = self.generate(root)
            if root != self.data:
                shutil.rmtree(root)
            reps.append(time.time() - t)
        if self.wl.name == "etl-star":
            from perfbench.workloads import EtlState

            self.etl = EtlState(self.work, os.path.join(self.data, "etl_slices"))
        return {"jvm_s": jvm_s, "repeat_s": reps}

    # ------------------------------------------------------------ ops

    def data_dir(self) -> str:
        return os.path.join(self.data, self.wl.data_sub)

    def run_op(self, op, tracer, phase: str) -> dict:
        """Run one op; returns its record (latency, output path, error)."""
        self.seq += 1
        rec = {"seq": self.seq, "name": op.name, "kind": op.kind,
               "slice": op.slice, "phase": phase, "error": None}
        tracer.op = self.seq
        if op.kind == "load":
            self.etl.arrive(op.slice)
            rec["out"] = os.path.join(self.work, "snap", f"{self.seq:05d}")
        else:
            rec["out"] = os.path.join(self.work, "out", f"{self.seq:05d}")
        before = self.probe_before(op, tracer)
        t0 = time.time()
        root = tracer.begin(f"op.{op.kind}")
        try:
            if op.kind == "load":
                rec["progress"] = self.load(op, tracer)
            else:
                self.read(op, tracer, rec["out"])
        except Exception as exc:  # noqa: BLE001 — a failed op is recorded, not fatal
            rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"
        tracer.end(root)
        rec["t0"], rec["latency"] = t0, time.time() - t0
        if op.kind == "load" and rec["error"] is None:
            # snapshot the star this load produced, for the check
            shutil.copytree(self.etl.star, rec["out"])
        self.probe_after(op, tracer, rec, before)
        self.records.append(rec)
        print(f"[op {self.seq} {phase}] {op.name} {rec['latency']:.3f}s"
              + (f" ERROR {rec['error']}" if rec["error"] else ""), file=sys.stderr, flush=True)
        return rec

    def read(self, op, tracer, out: str) -> None:
        from perfbench.workloads import star_read

        if op.name == "STAR":
            with tracer.span("plans.build"):
                df = star_read(self.spark, self.etl.star)
        else:
            from feasibility_etl_spark.driver_queries import ALL_QUERIES
            from feasibility_etl_spark.flagship import flagship

            fn = flagship if op.name == "FLAGSHIP" else ALL_QUERIES[op.name]
            with tracer.span("driver_queries.build"):
                df = fn(self.spark, self.data_dir())
        if tracer.enabled:
            with tracer.span("plan.executed_plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("action.write"):
            df.write.mode("overwrite").parquet(out)

    def load(self, op, tracer) -> list[dict]:
        from feasibility_etl_spark.streaming.stateful import denormalizing_sink
        from perfbench.workloads import REQUIRED, etl_specs, wide_stream

        with tracer.span("streaming.drain"):
            q = denormalizing_sink(
                wide_stream(self.spark, self.etl.stream_in),
                etl_specs(),
                self.etl.star,
                self.etl.ckpt,
                fact_key="key",
                required=REQUIRED,
                available_now=True,
                shuffle_partitions=8,
            )
            q.awaitTermination()
        return [dict(p["durationMs"]) for p in q.recentProgress]

    # hooks the traced run overrides
    def probe_before(self, op, tracer):
        return None

    def probe_after(self, op, tracer, rec, before) -> None:
        pass

    def run_pass(self, tracer, phase: str) -> list[dict]:
        if self.etl is not None:
            self.etl.reset()
        return [self.run_op(op, tracer, phase) for op in self.wl.ops]

    def passes(self) -> int:
        """Passes in a window: ``--seconds`` over the workload's nominal
        pass time. A fixed count, not a deadline, so every run of a
        workload measures the same ops however busy the host is."""
        return max(1, round(self.args.seconds / self.wl.pass_s))

    def window(self, tracer, phase: str, passes: int | None = None) -> tuple[list[dict], float]:
        recs, t0 = [], time.time()
        for _ in range(passes or self.passes()):
            recs += self.run_pass(tracer, phase)
        return recs, time.time() - t0

    # ------------------------------------------------------------ checks

    def check(self) -> None:
        """Fingerprint every op's output against its oracle; sets
        rec["error"] on a mismatch. Runs after every timed window."""
        from feasibility_etl_spark.driver_queries import ALL_ORACLES
        from perfbench.checks import (
            Checker, StarReplay, compare, flagship_invariant,
        )

        chk = Checker(self.data_dir())
        replay = None
        if self.etl is not None:
            replay = StarReplay(chk, [self.etl.slice_path(i) for i in range(len(
                [o for o in self.wl.ops if o.kind == "load"]))])
        for rec in self.records:
            if rec["error"] is not None:
                continue
            try:
                if rec["kind"] == "load":
                    want = replay.state(rec["slice"])
                    bad = [
                        f"{t}: {d}" for t in ("fact", "jira_user", "project")
                        if (d := compare(chk.fingerprint_dir(os.path.join(rec["out"], t)), want[t]))
                    ]
                    rec["error"] = "; ".join(bad) or None
                    rec["rejected_rows"] = replay.rejected_rows(self.etl.slice_path(rec["slice"]))
                elif rec["name"] == "STAR":
                    rec["error"] = compare(chk.fingerprint_dir(rec["out"]),
                                           replay.state(rec["slice"])["star"])
                elif rec["name"] == "FLAGSHIP":
                    rec["error"] = flagship_invariant(chk, rec["out"])
                else:
                    rec["error"] = compare(chk.fingerprint_dir(rec["out"]),
                                           chk.fingerprint_sql(ALL_ORACLES[rec["name"]]))
            except Exception as exc:  # noqa: BLE001 — an unreadable output is a failed op
                rec["error"] = f"check: {type(exc).__name__}: {exc}"
            if rec["error"]:
                print(f"[FAIL] op {rec['seq']} {rec['name']}: {rec['error']}", file=sys.stderr)
        self.check_reuses = chk.dir_reuses
        chk.con.close()

    # ------------------------------------------------------------ teardown

    def stop(self) -> None:
        """Stop Spark, then the JVM and its Python workers; wait for each."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        pids = []
        if proc is not None:
            from perfbench.trace import process_tree

            pids = process_tree(proc.pid)
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        for pid in pids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)


def e2e_metrics(recs: list[dict], setup_s: float, peak_rss: int) -> dict:
    lat = [r["latency"] for r in recs]
    t_val, t_pct, t_beyond = tail(lat)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "throughput_ops_s": {"value": len(recs) / sum(lat), "unit": "1/s"},
        "latency_p50_s": {"value": statistics.median(lat), "unit": "s"},
        "latency_tail_s": {"value": t_val, "unit": "s", "percentile": t_pct,
                           "beyond": t_beyond, "samples": len(lat)},
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import duckdb  # noqa: F401
        import pyspark

        import feasibility_etl_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "tools", "check_correctness.py")):
        print("perfbench: tools/check_correctness.py missing", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every file Spark, its Python workers and tempfile write inside
    # the run's work dir, and let the workers import the engine
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    from perfbench.trace import Tracer, peak_rss_bytes

    bench = Bench(args, work)
    try:
        t0 = time.time()
        setup = bench.setup()
        jvm_pid = bench.spark.sparkContext._gateway.proc.pid
        off = Tracer(f"{args.workload}-{args.seed}", enabled=False)
        t_warm = time.time()
        bench.run_pass(off, "warm")
        warm_s = time.time() - t_warm
        setup_s = setup["jvm_s"] + statistics.median(setup["repeat_s"]) + warm_s
        setup["total_wall_s"] = time.time() - t0
        recs, wall = bench.window(off, "measure")
        peak_rss = peak_rss_bytes(jvm_pid)
        e2e = e2e_metrics(recs, setup_s, peak_rss)
        layers = None
        if args.trace:
            from perfbench.layers import summarize, traced_window

            t_recs, tracer, peak_storage = traced_window(bench)
        t_check = time.time()
        bench.check()
        check_s = time.time() - t_check
        if args.trace:
            e2e_traced = e2e_metrics(t_recs, setup_s, peak_rss)
            layers = summarize(bench, t_recs, tracer, peak_storage, e2e, e2e_traced)
            for k in ("latency_tail_s", "peak_rss_mb"):
                layers[k] = {"value": e2e[k]["value"], "unit": e2e[k]["unit"]}
    finally:
        bench.stop()

    failed = sum(1 for r in recs if r["error"])
    warm_failed = sum(1 for r in bench.records if r["error"] and r["phase"] == "warm")
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "nproc": os.cpu_count(), "N": bench.cpus, "spark": pyspark.__version__,
        "commit": git_commit(), "inputs": bench.inputs, "setup": setup,
        "warm_s": warm_s, "passes": bench.passes(), "window_wall_s": wall, "check_s": check_s,
        "check_reused_fingerprints": bench.check_reuses,
        "failed_ops_frac": failed / len(recs),
        "e2e": e2e, "layers": layers,
        "ops": [{k: v for k, v in r.items() if k != "progress"} for r in bench.records],
    }
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    out_json = os.path.join(base, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_json, "w") as f:
        json.dump(info, f, indent=1, default=str)
    if args.trace:
        tracer.dump(out_json.replace(".json", "-spans.json"))
    shutil.rmtree(work, ignore_errors=True)

    for name, rows in bench.inputs.items():
        print(f"input {name}: {rows['rows']} rows, {rows['bytes']} bytes")
    print(f"nproc {info['nproc']}  N {bench.cpus}  spark {info['spark']}  commit {info['commit']}")
    for name, m in e2e.items():
        extra = ""
        if name == "latency_tail_s":
            extra = f"  (p{m['percentile']:.1f} of {m['samples']} ops, {m['beyond']} beyond)"
        print(f"{name} = {m['value']:.6g} {m['unit']}{extra}")
    print(f"failed_ops_frac = {info['failed_ops_frac']:.6g} frac  ({failed} of {len(recs)})")
    metrics = {k: {"value": e2e[k]["value"], "unit": e2e[k]["unit"]} for k in E2E_RESULT}
    if args.trace:
        for name, m in layers.items():
            print(f"{name} = {m['value']:.6g} {m['unit']}")
        metrics = layers
    print(f"details: {out_json}")
    ok = failed == 0 and warm_failed == 0
    print(json.dumps({"correct": ok, "attempted": len(recs), "failed": failed,
                      "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
