"""The repository benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for why each was chosen):

- ``llm_pipeline``: a closed loop with one client. Each pass runs the
  workload's registry queries once, in an order drawn from the seed, and
  writes every result to a parquet sink. Passes repeat until ``--seconds``
  have passed.
- ``stream_live``: an open loop. A generator thread writes seeded events
  into a file-source directory on a fixed schedule; one long-running
  keyed running-sum query consumes them into a ``foreachBatch`` parquet
  sink.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, and the span file
and a self-time table are written under ``.perfbench/traces/``.
Outputs are checked after the timed region: every query result against
its stored reference fingerprint, every live event for exactly-once
delivery and its running sum.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:  # run as a script: make the checkout importable
    sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench import layers as L  # noqa: E402
from perfbench.fingerprint import REFERENCE_PATH, parquet_fingerprint  # noqa: E402
from perfbench.live import LiveStream  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
DATA_ROOT = os.path.join(STATE, "data")
SETUP_REPS = 3
DRIVER_MEM = "2g"
# Spark's task slots: half the cores, so that the task threads, the Spark
# driver thread, the Python driver and workers, and the JVM's compiler and
# GC threads together stay within the cores. See README.md "Cores".
CPUS = max(1, len(os.sched_getaffinity(0)) // 2)


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    sf: float


WORKLOADS = {w.name: w for w in [
    Workload("llm_pipeline", (
        "dedup_clusters", "ngram_jaccard_pairs", "model_quality_scores"), sf=0.01),
    Workload("stream_live", (), sf=0.0),
]}

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "event_latency_p50_s": "s",
    "event_latency_p99_s": "s", "peak_rss_mb": "MB",
}

# name -> (unit, how passes combine: "sum" per pass then median over
# passes, "max" over the run, "median" over setups or micro-batches)
PER_LAYER = {
    "session.start_s": ("s", "median"),
    "session.warmup_s": ("s", "median"),
    "session.cold_start_s": ("s", "median"),
    "queries.build_s": ("s", "sum"),
    "queries.build_jobs": ("count", "sum"),
    "spark.jobs": ("count", "sum"),
    "spark.stages": ("count", "sum"),
    "spark.tasks": ("count", "sum"),
    "spark.driver_gap_s": ("s", "sum"),
    "spark.task_s": ("s", "sum"),
    "spark.gc_s": ("s", "sum"),
    "spark.shuffle_read_mb": ("MB", "sum"),
    "spark.shuffle_write_mb": ("MB", "sum"),
    "spark.spill_mb": ("MB", "sum"),
    "sources.input_rows": ("count", "sum"),
    "sources.input_mb": ("MB", "sum"),
    "functions.python_mb": ("MB", "sum"),
    "operators.peak_mb": ("MB", "max"),
    "operators.shuffle_records": ("count", "sum"),
    "core.persisted_rdds": ("count", "max"),
    "core.cached_mb": ("MB", "max"),
    "streaming.start_stop_s": ("s", "sum"),
    "streaming.batches": ("count", "sum"),
    "streaming.no_data_batches": ("count", "sum"),
    "streaming.state_commit_s": ("s", "sum"),
    "streaming.memory_tables": ("count", "max"),
    "streaming.trigger_s": ("s", "median"),
    "streaming.add_batch_s": ("s", "median"),
    "streaming.query_planning_s": ("s", "median"),
    "streaming.latest_offset_s": ("s", "median"),
    "streaming.wal_commit_s": ("s", "median"),
    "streaming.commit_offsets_s": ("s", "median"),
    "streaming.state_rows": ("count", "max"),
    "streaming.state_mb": ("MB", "max"),
    "streaming.rows_dropped_late": ("count", "sum"),
    "sink.output_rows": ("count", "sum"),
    "sink.write_s": ("s", "sum"),
    "loadgen.lateness_s": ("s", "max"),
    "loadgen.backlog_files": ("count", "max"),
    "trace.overhead_s": ("s", "sum"),
    "trace.pass_s": ("s", "median"),
    "trace.event_latency_p50_s": ("s", "median"),
    "trace.event_latency_p99_s": ("s", "median"),
}


class Run:
    """One benchmark process: its scratch directories, Spark session and
    measurements. Everything it writes stays under ``.perfbench/``."""

    def __init__(self, wl: Workload, args) -> None:
        self.wl, self.args = wl, args
        self.traced = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.dir = os.path.join(STATE, "runs", f"{wl.name}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "local", "warehouse", "ckpt", "sink"):
            os.makedirs(os.path.join(self.dir, sub))
        self.spark = None
        self.setups: list[tuple[float, float]] = []
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.tracer = L.Tracer()

    # -- environment -------------------------------------------------------
    def configure_env(self) -> None:
        """Point every scratch location of Spark and its Python workers
        into this run's directory before the JVM starts."""
        os.environ["TMPDIR"] = os.path.join(self.dir, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        path = os.environ.get("PYTHONPATH", "")
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, path) if p)

    def data_dir(self) -> str:
        d = os.path.join(DATA_ROOT, f"sf{self.wl.sf}")
        datagen.write(d, self.wl.sf)
        return d

    def start_session(self):
        from min_flink_spark.session import get_spark

        tmp = os.path.join(self.dir, "tmp")
        spark = get_spark(
            app_name=f"perfbench-{self.wl.name}",
            cpus=CPUS,
            extra_conf={
                "spark.driver.memory": DRIVER_MEM,
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}",
                "spark.local.dir": os.path.join(self.dir, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
                "spark.sql.streaming.checkpointLocation": os.path.join(self.dir, "ckpt"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self, warm_up) -> None:
        """Start the session and warm up ``SETUP_REPS`` times; every rep
        but the last stops the session again. Rep 1 alone launches the JVM
        and runs the code cold, so the median rep (``setup_s``) is a warm
        session restart plus warm-up pass; rep 1 on its own is the
        per-layer ``session.cold_start_s``."""
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.spark = self.start_session()
            t1 = time.perf_counter()
            warm_up(rep)
            t2 = time.perf_counter()
            self.setups.append((t1 - t0, t2 - t1))
            if rep < SETUP_REPS - 1:
                self.spark.stop()

    def stop(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has exited;
        it exits when the standard input pyspark holds open is closed."""
        if self.spark is None:
            return
        self.spark.stop()
        from pyspark import SparkContext

        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        if gateway is None:
            return
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


# ---------------------------------------------------------------------------
# closed-loop workloads


class ClosedLoop:
    def __init__(self, run: Run) -> None:
        self.run = run
        self.ops: list[dict] = []   # one per query execution
        self.passes: list[dict] = []

    def query(self, name: str, data_dir: str, tag: str, status=None, parent=None) -> dict:
        """Run one registry query into the parquet sink; in a traced run,
        also read what it did from the status stores."""
        from min_flink_spark.queries import QUERIES

        spark = self.run.spark
        sc = spark.sparkContext
        trace_id = f"{tag}/{name}"
        op = {"name": name, "out": os.path.join(self.run.dir, "sink", trace_id), "ok": False}
        t0 = time.time()
        t1 = None
        try:
            if status:
                sc.setJobGroup(f"{trace_id}/registry", name)
            df = QUERIES[name](spark, data_dir)
            t1 = time.time()
            if status:
                sc.setJobGroup(f"{trace_id}/sink", name)
            df.write.mode("overwrite").parquet(op["out"])
            op["ok"] = True
        except Exception:  # noqa: BLE001 -- a failed query is a counted failure
            traceback.print_exc(file=sys.stderr)
        t2 = time.time()
        t1 = t1 or t2
        spark.catalog.clearCache()
        op.update(t0=t0, t1=t1, t2=t2, latency=t2 - t0)
        if status:
            sc.setLocalProperty("spark.jobGroup.id", None)
            op["layer"] = self.read_layers(status, op, parent, trace_id)
        return op

    def read_layers(self, status, op: dict, parent, trace_id: str) -> dict:
        r0 = time.perf_counter()
        read = status.read_new()
        jobs = L.job_intervals(read)
        counts = L.spark_counts(read)
        counts["queries.build_s"] = op["t1"] - op["t0"]
        counts["queries.build_jobs"] = sum(1 for s, _ in jobs if s <= op["t1"])
        counts["sink.write_s"] = op["t2"] - op["t1"]
        counts["spark.driver_gap_s"] = L.uncovered(op["t0"], op["t2"], jobs)
        counts["core.persisted_rdds"] = status.persisted_rdds()
        counts["core.cached_mb"] = status.cached_mb()
        counts["streaming.memory_tables"] = status.memory_tables()
        tr = self.run.tracer
        q = tr.add("query", op["t0"], op["t2"], parent.id, trace_id, query=op["name"])
        op["spans"] = [tr.child(q, "registry_call", op["t0"], op["t1"]),
                       tr.child(q, "sink_action", op["t1"], op["t2"])]
        op["read"] = {"jobs": read["jobs"], "stages": read["stages"]}
        counts["trace.overhead_s"] = time.perf_counter() - r0
        return counts

    def run_pass(self, queries, data_dir: str, tag: str, status=None) -> dict:
        span = None
        if status:
            span = self.run.tracer.add("pass", time.time(), 0.0, self.workload_span.id, tag)
        t0 = time.perf_counter()
        ops = [self.query(n, data_dir, tag, status, span) for n in queries]
        wall = time.perf_counter() - t0
        if span is not None:
            span.end = max([span.start + wall] + [o["t2"] for o in ops])
        return {"wall": wall, "ops": ops}

    def prepare(self) -> None:
        self.data = self.run.data_dir()

    def warm_up(self, rep: int) -> None:
        """One untimed pass over the measured table: a smaller table would
        cost as much, since a pass is mostly per-job cost, and would leave
        the measured plans' code cold."""
        self.run_pass(self.run.wl.queries, self.data, f"warm{rep}")

    def measure(self) -> None:
        run, wl = self.run, self.run.wl
        status = L.SparkStatus(run.spark) if run.traced else None
        self.workload_span = run.tracer.add("workload", time.time(), 0.0, None, wl.name)
        deadline = time.perf_counter() + run.args.seconds
        while not self.passes or time.perf_counter() < deadline:
            order = run.rng.sample(wl.queries, len(wl.queries))
            self.passes.append(self.run_pass(order, self.data, f"pass{len(self.passes)}", status))
        self.workload_span.end = time.time()
        for p in self.passes:
            self.ops.extend(p["ops"])

    def verify(self, reference: dict) -> None:
        """Fingerprint every sink output against the reference."""
        run = self.run
        expected = reference.get(f"sf{run.wl.sf}", {})
        for op in self.ops:
            run.attempted += 1
            if not op["ok"]:
                run.fail(f"{op['name']}: raised")
                continue
            want = expected.get(op["name"])
            got = parquet_fingerprint(op["out"])
            op["rows"] = got[0]
            if want is None or got != want:
                run.fail(f"{op['name']}: fingerprint {got} != reference {want}")

    def metrics(self) -> dict[str, float]:
        print("passes_s " + " ".join(f"{p['wall']:.3f}" for p in self.passes))
        for name in self.run.wl.queries:
            lat = [o["latency"] for o in self.ops if o["name"] == name]
            print(f"query_s {name} " + " ".join(f"{t:.3f}" for t in lat))
        per_pass = [[o["latency"] for o in p["ops"]] for p in self.passes]
        return {
            "pass_s": statistics.median(p["wall"] for p in self.passes),
            **L.windowed_percentiles(per_pass),
        }

    def layer_metrics(self) -> dict[str, float]:
        """Per-query counts summed per pass (peaks maxed), then the median
        pass. The streaming metrics stay 0: no query here streams."""
        per_pass = []
        for p in self.passes:
            agg: dict[str, float] = {}
            for op in p["ops"]:
                L.add_job_spans(self.run.tracer, op["spans"], op["read"])
                for k, v in {**op["layer"], "sink.output_rows": op.get("rows", 0)}.items():
                    peak = PER_LAYER[k][1] == "max"
                    agg[k] = max(agg.get(k, 0), v) if peak else agg.get(k, 0) + v
            per_pass.append(agg)
        return {k: (max if how == "max" else statistics.median)(a.get(k, 0.0) for a in per_pass)
                for k, (_, how) in PER_LAYER.items()}

    def details(self) -> list[dict]:
        """One row per query execution, for the trace's layer table."""
        return [{"pass": i, "query": op["name"], "latency_s": op["latency"],
                 **{k: v for k, v in op.get("layer", {}).items()}}
                for i, p in enumerate(self.passes) for op in p["ops"]]


# ---------------------------------------------------------------------------
# entry point


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rate", type=int, default=None,
                    help="stream_live events per second (rate calibration)")
    return ap.parse_args(argv)


def report(run: Run, e2e: dict[str, float], layer: dict[str, float]) -> dict:
    units = END_TO_END if not run.traced else {k: u for k, (u, _) in PER_LAYER.items()}
    values = e2e if not run.traced else layer
    frac = run.failed / run.attempted if run.attempted else 1.0
    for k, v in e2e.items():
        print(f"{k} {v:.6g} {END_TO_END[k]}")
    print(f"failed_ops_frac {frac:.6g} fraction ({run.failed}/{run.attempted})")
    for f in run.failures[:20]:
        print(f"FAILED {f}")
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def log(t_start: float, what: str) -> None:
    print(f"perfbench: {what} at {time.perf_counter() - t_start:.2f} s", file=sys.stderr)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    try:
        import min_flink_spark.queries  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    with open(REFERENCE_PATH) as f:
        reference = json.load(f)
    run = Run(WORKLOADS[args.workload], args)
    run.configure_env()
    bench = LiveStream(run) if run.wl.name == "stream_live" else ClosedLoop(run)
    bench.prepare()
    log(t_start, "inputs ready")
    try:
        with L.RssSampler() as rss:
            run.setup(bench.warm_up)
            log(t_start, f"setup done {[(round(a, 2), round(b, 2)) for a, b in run.setups]}")
            bench.measure()
            log(t_start, "measured")
        bench.verify(reference)
        log(t_start, "verified")
        e2e = {"setup_s": statistics.median(a + b for a, b in run.setups),
               **bench.metrics(), "peak_rss_mb": rss.peak_mb}
        layer = {}
        if run.traced:
            layer = {k: 0.0 for k in PER_LAYER}
            layer.update(bench.layer_metrics())
            layer["session.start_s"] = statistics.median(a for a, _ in run.setups)
            layer["session.warmup_s"] = statistics.median(b for _, b in run.setups)
            layer["session.cold_start_s"] = sum(run.setups[0])
            for k in ("pass_s", "event_latency_p50_s", "event_latency_p99_s"):
                layer[f"trace.{k}"] = e2e[k]
            write_trace(run, layer, bench.details())
        result = report(run, e2e, layer)
    finally:
        run.stop()
        shutil.rmtree(run.dir, ignore_errors=True)
        log(t_start, "stopped")
    print(json.dumps(result))
    return 0


def write_trace(run: Run, layer: dict, details: list[dict]) -> None:
    """Write the span file and the per-layer table; print self times."""
    out = os.path.join(STATE, "traces")
    os.makedirs(out, exist_ok=True)
    base = os.path.join(out, f"{run.wl.name}-seed{run.args.seed}")
    run.tracer.write(base + ".spans.jsonl")
    self_times = run.tracer.self_times()
    with open(base + ".layers.json", "w") as f:
        json.dump({"per_layer": layer, "self_time_s": self_times, "details": details},
                  f, indent=1, sort_keys=True)
    print(f"trace: {base}.spans.jsonl ({len(run.tracer.spans)} spans)")
    for name, s in sorted(self_times.items(), key=lambda kv: -kv[1]):
        print(f"self_time {name} {s:.4f} s")


if __name__ == "__main__":
    sys.exit(main())
