"""The ``stream_live`` workload: an open-loop event stream.

A generator thread writes one parquet file of seeded events every
``FILE_INTERVAL_S`` into a file-source directory, on a schedule that does
not wait for the pipeline. Keys are Zipf-distributed ``user_id``s; each
event's creation time is the time its file was due. One long-running
query consumes the directory:

    stream_parquet -> process_keyed(RunningReduceFunction sum) -> foreachBatch parquet sink

An event's latency runs from its creation until the sink write holding its
running-sum update completes. The first ``WARM_S`` seconds of events warm
the query and are left out of the latency figures. The latency
percentiles are taken within each ``WINDOW_S`` slice of creation time and
reported as their median over the slices.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import layers as L

RATE = 2000             # events per second; see README.md "Rate calibration"
FILE_INTERVAL_S = 0.5
WARM_S = 3.0
WINDOW_S = 5.0
DRAIN_S = 30.0
TRIGGER_MS = 100
KEYS = 1000
ZIPF_S = 1.1
SCHEMA = "event_id bigint, user_id bigint, value bigint, created_ms bigint"


def make_events(seed: int, n: int) -> pd.DataFrame:
    """``n`` events with Zipf-skewed keys: ``user_id`` k has weight
    (k+1)^-ZIPF_S. The key weights do not depend on the seed, so every seed
    puts the same hot keys on the same shuffle partitions."""
    rng = np.random.default_rng(seed)
    w = np.arange(1, KEYS + 1, dtype=float) ** -ZIPF_S
    ids = rng.choice(KEYS, size=n, p=w / w.sum())
    return pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "user_id": ids.astype("int64"),
        "value": rng.integers(1, 1_000_000, n).astype("int64"),
    })


def expected_running(events: pd.DataFrame) -> np.ndarray:
    """Each event's running sum per key, in ``event_id`` order."""
    return events.groupby("user_id")["value"].cumsum().to_numpy()


class Generator(threading.Thread):
    """Writes file ``k`` at ``t0 + k * FILE_INTERVAL_S``, whatever the
    pipeline is doing. Each file is written under a hidden name and
    renamed, so the source never lists a partial file."""

    def __init__(self, src: str, events: pd.DataFrame, per_file: int, t0: float) -> None:
        super().__init__(daemon=True)
        self.src, self.events, self.per_file, self.t0 = src, events, per_file, t0
        self.n_files = math.ceil(len(events) / per_file)
        self.written: list[tuple[float, float]] = []   # (due, done) per file
        self.error: BaseException | None = None

    def due(self, k: int) -> float:
        return self.t0 + k * FILE_INTERVAL_S

    def run(self) -> None:
        try:
            for k in range(self.n_files):
                delay = self.due(k) - time.time()
                if delay > 0:
                    time.sleep(delay)
                part = self.events.iloc[k * self.per_file:(k + 1) * self.per_file].copy()
                part["created_ms"] = int(self.due(k) * 1000)
                tmp = os.path.join(self.src, f".ev-{k:06d}.parquet")
                pq.write_table(pa.Table.from_pandas(part, preserve_index=False), tmp)
                os.rename(tmp, os.path.join(self.src, f"ev-{k:06d}.parquet"))
                self.written.append((self.due(k), time.time()))
        except BaseException as e:  # noqa: BLE001 -- reported by the caller after join
            self.error = e

    @property
    def done(self) -> bool:
        return len(self.written) == self.n_files


class LiveStream:
    def __init__(self, run) -> None:
        self.run = run
        self.rate = run.args.rate or RATE
        self.per_file = max(1, int(self.rate * FILE_INTERVAL_S))
        self.writes: dict[int, tuple[float, float, str]] = {}

    # -- pipeline ------------------------------------------------------------
    def pipeline(self, src: str):
        from min_flink_spark.streaming.runner import stream_parquet
        from min_flink_spark.streaming.stateful import RunningReduceFunction, process_keyed

        s = stream_parquet(self.run.spark, src, SCHEMA).select("user_id", "event_id", "value")
        fn = RunningReduceFunction("user_id", "event_id", "value", "sum", value_type="bigint")
        return process_keyed(s, ["user_id"], fn, output_mode="update")

    def sink_to(self, out: str):
        def write(batch_df, batch_id: int) -> None:
            path = os.path.join(out, f"b{batch_id:06d}")
            t0 = time.time()
            batch_df.write.mode("overwrite").parquet(path)
            self.writes[batch_id] = (t0, time.time(), path)
        return write

    def prepare(self) -> None:
        files = math.ceil((WARM_S + self.run.args.seconds) / FILE_INTERVAL_S)
        self.events = make_events(self.run.args.seed, files * self.per_file)
        self.expected = expected_running(self.events)

    def warm_up(self, rep: int) -> None:
        """Run the same pipeline to completion over two small files."""
        from min_flink_spark.streaming.runner import run_foreach_batch

        d = os.path.join(self.run.dir, f"warm{rep}")
        os.makedirs(os.path.join(d, "src"))
        ev = make_events(self.run.args.seed + 1, 2 * self.per_file)
        for k in range(2):
            part = ev.iloc[k * self.per_file:(k + 1) * self.per_file].assign(created_ms=0)
            pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                           os.path.join(d, "src", f"ev-{k}.parquet"))
        run_foreach_batch(self.pipeline(os.path.join(d, "src")),
                          lambda df, bid: df.write.mode("overwrite").parquet(
                              os.path.join(d, "sink", f"b{bid}")),
                          checkpoint_dir=os.path.join(d, "ckpt"))

    # -- measured run --------------------------------------------------------
    def measure(self) -> None:
        from min_flink_spark.streaming.metrics import record_metrics, stop_recording
        from min_flink_spark.streaming.runner import run_until

        run = self.run
        d = os.path.join(run.dir, "live")
        src, self.sink_dir = os.path.join(d, "src"), os.path.join(d, "sink")
        os.makedirs(src)
        status = L.SparkStatus(run.spark) if run.traced else None
        rec = record_metrics(run.spark)
        total = len(self.events)
        gen = Generator(src, self.events, self.per_file, time.time() + 0.2)
        self.gen = gen
        self.t_measure = gen.t0 + WARM_S
        self.t_q0 = time.time()
        df = self.pipeline(src)
        self.t_built = time.time()
        gen.start()
        try:
            self.drained = run_until(
                df, self.sink_to(self.sink_dir),
                lambda: gen.done and rec.total_input_rows() >= total,
                output_mode="update", checkpoint_dir=os.path.join(d, "ckpt"),
                trigger_ms=TRIGGER_MS,
                timeout_sec=int(WARM_S + run.args.seconds + DRAIN_S))
        finally:
            gen.join()
        self.t_q1 = time.time()
        if gen.error is not None:
            raise gen.error
        L.wait_quiet(rec.progress)
        stop_recording(run.spark, rec)
        self.progress = list(rec.progress)
        if status:
            r0 = time.perf_counter()
            self.read = status.read_new()
            self.persisted = status.persisted_rdds()
            self.cached = status.cached_mb()
            self.memory_tables = status.memory_tables()
            self.status_s = time.perf_counter() - r0

    def verify(self, reference: dict) -> None:
        """Every event exactly once with the generator's running sum, and
        every key's last running sum equal to the generator's total."""
        run = self.run
        parts = [pq.read_table(path, columns=["user_id", "event_id", "running"])
                 .to_pandas().assign(batch=bid) for bid, (_, _, path) in self.writes.items()]
        out = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(
            columns=["user_id", "event_id", "running", "batch"], dtype="int64")
        self.delivered = out
        n = len(self.events)
        seen = np.bincount(out["event_id"].to_numpy(dtype="int64"), minlength=n)
        wrong = np.zeros(n, dtype=bool)
        ids = out["event_id"].to_numpy(dtype="int64")
        wrong[ids[out["running"].to_numpy() != self.expected[ids]]] = True
        bad = (seen != 1) | wrong
        last = out.loc[out.groupby("user_id")["event_id"].idxmax()].set_index("user_id")
        totals = self.events.groupby("user_id")["value"].sum()
        bad_keys = int((last["running"].reindex(totals.index) != totals).sum())
        run.attempted += n
        run.failed += max(int(bad.sum()), bad_keys)
        if bad.any() or bad_keys:
            run.failures.append(
                f"stream_live: {int((seen == 0).sum())} missing, {int((seen > 1).sum())} "
                f"duplicated, {int(wrong.sum())} wrong running sums, {bad_keys} keys with "
                f"a wrong last sum, drained={self.drained}")

    # -- results ---------------------------------------------------------------
    def latency_windows(self) -> list[np.ndarray]:
        """Creation to sink-write end, for delivered events created after
        the warm window, one array per ``WINDOW_S`` of creation time."""
        out = self.delivered
        due = self.gen.t0 + (out["event_id"].to_numpy() // self.per_file) * FILE_INTERVAL_S
        end = out["batch"].map(lambda b: self.writes[b][1]).to_numpy(dtype=float)
        keep = due >= self.t_measure
        lat = end[keep] - due[keep]
        win = ((due[keep] - self.t_measure) // WINDOW_S).astype(int)
        return [lat[win == i] for i in range(win.max() + 1)] if len(win) else []

    def batch_walls(self) -> list[float]:
        """Trigger start to sink-write end, per measured batch with data."""
        return [self.writes[p["batchId"]][1] - L.progress_start(p) for p in self.progress
                if p.get("numInputRows") and p["batchId"] in self.writes
                and L.progress_start(p) >= self.t_measure]

    def metrics(self) -> dict[str, float]:
        windows = self.latency_windows()
        walls = self.batch_walls()
        print("batches_s " + " ".join(f"{w:.3f}" for w in walls))
        if not walls or not windows:
            raise RuntimeError("stream_live: no micro-batch delivered events after the warm window")
        return {"pass_s": statistics.median(walls), **L.windowed_percentiles(windows)}

    def backlog_at(self, t: float) -> float:
        """Files written but not yet consumed by a finished batch at ``t``."""
        made = sum(1 for _, done in self.gen.written if done <= t) * self.per_file
        used = sum(p.get("numInputRows", 0) for p in self.progress if L.progress_end(p) <= t)
        return (made - used) / self.per_file

    def layer_metrics(self) -> dict[str, float]:
        ran = L.batches(self.progress)
        jobs = L.job_intervals(self.read)
        out = {**L.spark_counts(self.read), **L.streaming_counts(ran), **L.phase_medians(ran)}
        writes = sorted(e - s for s, e, _ in self.writes.values())
        window = [done - due for due, done in self.gen.written if due >= self.t_measure]
        out.update({
            "queries.build_s": self.t_built - self.t_q0,
            "queries.build_jobs": sum(1 for s, _ in jobs if s <= self.t_built),
            "spark.driver_gap_s": L.uncovered(self.t_q0, self.t_q1, jobs),
            "core.persisted_rdds": self.persisted,
            "core.cached_mb": self.cached,
            "streaming.memory_tables": self.memory_tables,
            "sink.output_rows": len(self.delivered),
            "sink.write_s": statistics.median(writes) if writes else 0.0,
            "loadgen.lateness_s": max(window, default=0.0),
            "loadgen.backlog_files": self.backlog_at(self.gen.written[-1][1]),
            "trace.overhead_s": self.status_s,
        })
        if ran:
            out["streaming.start_stop_s"] = (
                (L.progress_start(ran[0]) - self.t_built) + (self.t_q1 - L.progress_end(ran[-1])))
        tr = self.run.tracer
        w = tr.add("workload", self.t_q0, self.t_q1, None, "stream_live")
        q = tr.child(w, "streaming_query", self.t_q0, self.t_q1)
        tr.child(q, "registry_call", self.t_q0, self.t_built)
        L.add_batch_spans(tr, q, ran, self.writes)
        L.add_job_spans(tr, [q], self.read)
        return out

    def details(self) -> list[dict]:
        """One row per micro-batch, for the trace's layer table."""
        rows = []
        for p in self.progress:
            w = self.writes.get(p["batchId"])
            rows.append({"batch": p["batchId"], "rows": p.get("numInputRows", 0),
                         "sink_write_s": w[1] - w[0] if w else None,
                         **{k: v / 1e3 for k, v in p["durationMs"].items()}})
        return rows
