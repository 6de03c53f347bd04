"""Per-layer measurement for traced runs: spans, Spark status stores,
streaming progress and process memory.

Everything here is read from outside the program: Spark's own status
stores (``AppStatusStore`` for jobs and stages, the SQL status store for
plan-node metrics), the streaming listener of
``min_flink_spark.streaming.metrics``, and ``/proc``. None of it launches
a Spark job.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np


# ---------------------------------------------------------------------------
# end-to-end latency percentiles


def windowed_percentiles(windows: list[list[float]]) -> dict[str, float]:
    """``event_latency_p50_s`` and ``event_latency_p99_s``: each
    percentile taken within every window of latencies (a closed-loop pass,
    or a slice of the live stream), then the median over windows. A run
    holds only a few passes or a dozen micro-batches, so a percentile
    over the whole run would follow its single slowest pass or batch."""
    windows = [w for w in windows if len(w)]
    return {f"event_latency_p{q}_s": statistics.median(
                float(np.percentile(w, q)) for w in windows) for q in (50, 99)}


# ---------------------------------------------------------------------------
# spans


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Times are epoch seconds, so spans built
    from Spark's millisecond timestamps share the clock of the harness."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name, start, end, parent=None, trace="", **attrs) -> Span:
        s = Span(len(self.spans), name, start, end, parent, trace, attrs)
        self.spans.append(s)
        return s

    def child(self, parent: Span, name, start, end, **attrs) -> Span:
        """A span clipped into its parent: Spark reports milliseconds, so a
        child read from a status store can overhang the harness's parent
        span by under a millisecond."""
        start = min(max(start, parent.start), parent.end)
        end = min(max(end, start), parent.end)
        return self.add(name, start, end, parent.id, parent.trace, **attrs)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")

    def self_times(self) -> dict[str, float]:
        """Seconds per span name not covered by the span's own children."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union([(c.start, c.end) for c in kids.get(s.id, [])])
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def uncovered(start: float, end: float, intervals) -> float:
    """Part of [start, end] that no interval covers."""
    clipped = [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]
    return (end - start) - _union(clipped)


# ---------------------------------------------------------------------------
# Spark status stores

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Parse an SQL metric as the status store formats it: ``'1,500'``,
    ``'16.5 MiB'``, or a multi-task ``'total (min, med, max ...)\\n61 ms
    (...)'`` whose first figure on the last line is the total."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class SparkStatus:
    """Reads jobs, stages and SQL executions that are newer than the last
    read. Each read serialises a whole list in the JVM with Jackson, as
    Spark's REST API does, so one read costs a handful of py4j calls."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._gateway.jvm
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jsc = sc._jsc
        self._catalog = spark._jsparkSession.sessionState().catalog()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._last_job = self._last_stage = self._last_exec = -1
        self.mark()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _newest(self, listing, key: str, last: int) -> list[dict]:
        """Entries with ``key`` above ``last`` from a newest-first list,
        serialising only the head of the list."""
        n = 32
        while True:
            items = self._json(listing().take(n))
            if len(items) < n or items[-1][key] <= last:
                return [i for i in items if i[key] > last]
            n *= 4

    def _jobs(self, last: int = -1) -> list[dict]:
        return self._newest(lambda: self._store.jobsList(None), "jobId", last)

    def _stages(self, last: int = -1) -> list[dict]:
        no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        return self._newest(
            lambda: self._store.stageList(None, False, False, no_quantiles, None),
            "stageId", last)

    def _executions(self, last: int = -1) -> list[dict]:
        """Executions above ``last``; the SQL store lists them oldest first."""
        total, n = self._sql.executionsCount(), 8
        while True:
            items = self._json(self._sql.executionsList(max(0, total - n), n))
            if n >= total or not items or items[0]["executionId"] <= last:
                return [e for e in items if e["executionId"] > last]
            n *= 4

    def mark(self) -> None:
        """Forget everything that ran so far."""
        self._last_job = max([j["jobId"] for j in self._jobs()], default=-1)
        self._last_stage = max([s["stageId"] for s in self._stages()], default=-1)
        self._last_exec = max([e["executionId"] for e in self._executions()], default=-1)

    def read_new(self) -> dict:
        """Jobs, ran stages and SQL plan metrics since the previous read."""
        jobs = self._jobs(self._last_job)
        stages = [s for s in self._stages(self._last_stage) if s["status"] != "SKIPPED"]
        execs = self._executions(self._last_exec)
        nodes = []
        for e in execs:
            eid = e["executionId"]
            values = self._json(self._sql.executionMetrics(eid))
            for n in self._json(self._sql.planGraph(eid).allNodes()):
                for m in n.get("metrics", []):
                    v = values.get(str(m["accumulatorId"]))
                    if v is not None:
                        nodes.append((n["name"], m["name"], metric_value(v)))
        if jobs:
            self._last_job = max(j["jobId"] for j in jobs)
        if stages:
            self._last_stage = max(s["stageId"] for s in stages)
        if execs:
            self._last_exec = max(e["executionId"] for e in execs)
        return {"jobs": jobs, "stages": stages, "nodes": nodes}

    def memory_tables(self) -> int:
        """Temporary views of the session; each streaming memory sink
        registers one."""
        return self._catalog.getTempViewNames().size()

    def persisted_rdds(self) -> int:
        return self._jsc.getPersistentRDDs().size()

    def cached_mb(self) -> float:
        rdds = self._json(self._store.rddList(True))
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds) / 2**20


def spark_counts(read: dict) -> dict[str, float]:
    """Per-layer counts of one read of the status stores."""
    st = read["stages"]
    nodes = read["nodes"]

    def node_sum(pred):
        return sum(v for _, metric, v in nodes if pred(metric))

    return {
        "spark.jobs": len(read["jobs"]),
        "spark.stages": len(st),
        "spark.tasks": sum(s["numTasks"] for s in st),
        "spark.task_s": sum(s["executorRunTime"] for s in st) / 1e3,
        "spark.gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
        "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in st) / 2**20,
        "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in st) / 2**20,
        "spark.spill_mb": sum(s["diskBytesSpilled"] for s in st) / 2**20,
        "sources.input_rows": sum(s["inputRecords"] for s in st),
        "sources.input_mb": sum(s["inputBytes"] for s in st) / 2**20,
        "functions.python_mb": node_sum(
            lambda m: m in ("data sent to Python workers", "data returned from Python workers")
        ) / 2**20,
        "operators.peak_mb": max(
            [v for _, m, v in nodes if m == "peak memory"], default=0.0) / 2**20,
        "operators.shuffle_records": node_sum(lambda m: m == "shuffle records written"),
    }


def job_intervals(read: dict) -> list[tuple[float, float]]:
    return [(j["submissionTime"] / 1e3, j["completionTime"] / 1e3)
            for j in read["jobs"] if j.get("submissionTime") and j.get("completionTime")]


def add_job_spans(tracer: Tracer, parents: list[Span], read: dict) -> None:
    """Job spans under the innermost span that holds their submission time
    (the last of ``parents`` when none does), stage spans under their job.
    Micro-batch spans already recorded under ``parents`` count as inner."""
    ids = {p.id for p in parents}
    inner = [s for s in tracer.spans if s.name in ("sink_write", "micro_batch")
             and _has_ancestor(tracer, s, ids)]
    stages = {s["stageId"]: s for s in read["stages"]}
    for j in read["jobs"]:
        if not (j.get("submissionTime") and j.get("completionTime")):
            continue
        start, end = j["submissionTime"] / 1e3, j["completionTime"] / 1e3
        parent = next((p for p in inner + parents if p.start <= start <= p.end), parents[-1])
        js = tracer.child(parent, "job", start, end, job_id=j["jobId"], tasks=j["numTasks"])
        for sid in j["stageIds"]:
            s = stages.pop(sid, None)
            if s and s.get("submissionTime") and s.get("completionTime"):
                tracer.child(js, "stage", s["submissionTime"] / 1e3, s["completionTime"] / 1e3,
                             stage_id=sid, tasks=s["numTasks"],
                             run_s=s["executorRunTime"] / 1e3)


def _has_ancestor(tracer: Tracer, span: Span, ids: set[int]) -> bool:
    while span.parent is not None:
        if span.parent in ids:
            return True
        span = tracer.spans[span.parent]
    return False


# ---------------------------------------------------------------------------
# streaming progress

# MicroBatchExecution runs these phases in this order within a trigger.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

# per-layer metric -> progress ``durationMs`` key, read per micro-batch
BATCH_PHASES = {
    "streaming.trigger_s": "triggerExecution",
    "streaming.add_batch_s": "addBatch",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.latest_offset_s": "latestOffset",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
}


def batches(progress: list[dict]) -> list[dict]:
    """Progress events of micro-batches that ran; idle triggers report
    progress too, but without an ``addBatch`` phase."""
    return [p for p in progress if "addBatch" in p.get("durationMs", {})]


def progress_start(p: dict) -> float:
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp()


def progress_end(p: dict) -> float:
    return progress_start(p) + p["durationMs"].get("triggerExecution", 0) / 1e3


def streaming_counts(progress: list[dict]) -> dict[str, float]:
    """Totals over the progress events of micro-batches that ran."""
    ops = [o for p in progress for o in (p.get("stateOperators") or [])]
    rows, mb = state_size(progress)
    return {
        "streaming.batches": len(progress),
        "streaming.no_data_batches": sum(1 for p in progress if not p.get("numInputRows")),
        "streaming.state_rows": rows,
        "streaming.state_mb": mb,
        "streaming.state_commit_s": sum(o.get("commitTimeMs", 0) for o in ops) / 1e3,
        "streaming.rows_dropped_late": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
    }


def phase_medians(progress: list[dict]) -> dict[str, float]:
    """Median seconds per micro-batch of each phase; 0 without batches."""
    return {k: statistics.median(p["durationMs"].get(phase, 0) / 1e3 for p in progress)
            if progress else 0.0 for k, phase in BATCH_PHASES.items()}


def state_size(progress: list[dict]) -> tuple[int, float]:
    """State rows and MB of the last progress that reports state."""
    for p in reversed(progress):
        ops = p.get("stateOperators") or []
        if ops:
            return (sum(o.get("numRowsTotal", 0) for o in ops),
                    sum(o.get("memoryUsedBytes", 0) for o in ops) / 2**20)
    return 0, 0.0


def add_batch_spans(tracer: Tracer, parent: Span, progress: list[dict],
                    sink_writes: dict | None = None) -> None:
    """micro-batch → phase spans; live sink writes go under ``addBatch``."""
    for p in progress:
        start = progress_start(p)
        b = tracer.child(parent, "micro_batch", start, progress_end(p),
                         batch_id=p["batchId"], rows=p.get("numInputRows", 0))
        t = b.start
        for ph in PHASES:
            d = p["durationMs"].get(ph)
            if d is None:
                continue
            s = tracer.child(b, f"phase.{ph}", t, t + d / 1e3)
            t = s.end
            w = (sink_writes or {}).get(p["batchId"]) if ph == "addBatch" else None
            if w:
                tracer.child(s, "sink_write", w[0], w[1])


# ---------------------------------------------------------------------------
# memory


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _pss_mb(pid: int) -> float:
    """Proportional set size: resident pages, with each page shared by
    several processes split between them, so a sum over processes counts
    it once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Samples the summed resident memory (PSS) of this process's
    descendants, the Spark driver JVM and the Python workers it forks, on a
    background thread."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> float:
        mb = sum(_pss_mb(p) for p in _tree_pids(os.getpid()))
        self.peak_mb = max(self.peak_mb, mb)
        return mb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def wait_quiet(progress: list, settle: float = 0.5, limit: float = 5.0) -> None:
    """Wait until the listener has delivered no new progress for ``settle``
    seconds: progress events reach Python asynchronously."""
    deadline = time.monotonic() + limit
    n = -1
    while time.monotonic() < deadline and n != len(progress):
        n = len(progress)
        time.sleep(settle)
