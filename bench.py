"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Every timed run materializes the full result (collect) so the number
covers scan → shuffle → sink, not just plan construction. A warmup
phase first runs the SAME query set at sf0.001 (different input files,
~100× less data) so JVM JIT, whole-stage-codegen compilation, Python
worker pools, and streaming state-store init are absorbed before
timing — per-query times then reflect steady-state execution, which is
what a long-running cluster actually sees (cold-start costs are fixed,
not proportional to data). Set SPARK_GRAFT_WARMUP=0 to time cold.

Each query is timed SPARK_GRAFT_REPS times (full-set passes, not
back-to-back reps; default 3, or 1 when SPARK_GRAFT_WARMUP=0 — a
second pass would run warm and min() would silently report steady-state
under a cold-timing request) and BOTH the per-query minimum and median
are reported ("queries"/"value" stay the min for continuity with the
BENCH_r* history; "queries_median"/"value_median" ride alongside).
Rationale
(round-3 methodology fix): single-shot timings on a shared 32-core JVM
jitter ±15-40% from GC pauses and scheduling beats inherited from
whichever query ran before — r2's text_stats "+41% regression" was
exactly this (no code change; 6 steady-state runs measured 0.61-0.81 s
vs the recorded 1.06 s). The min over passes is the standard
steady-state estimator: it converges on the query's actual cost and
makes round-over-round deltas reflect code changes, not noise. The
median is the honesty check on the min (round-5 verdict item 4): a min
that keeps improving while the median drifts up means the machine got
lucky once, not that the code got faster — r4's embedding_cosine_topk
"+15%" that r5 measured back at -14.6% is exactly the ambiguity the
min+median pair resolves.

SF1 LEG (r13, verdict r12 item 4): the frozen sf0.1 collect() block is
box-noise-dominated (controls rode 0.82–1.22 across r11-r12 artifacts),
so round-over-round trend needs a leg where compute dwarfs the noise
floor.  ``python bench.py --sf /tmp/sf1 --sink parquet`` times the same
15 headlines at 10× data with the durable-sink convention the sf10
decomposition proved out (write.parquet to a scratch dir instead of
collect() — the driver-transfer term vanishes exactly as it would on a
cluster writing to distributed storage).  One artifact per round
committed as BENCH_r{N}_sf1.json; the default invocation (sf0.1,
collect) is byte-compatible with the BENCH_r1-r12 history and stays
what the driver records.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from min_flink_spark.queries import QUERIES  # noqa: E402
from min_flink_spark.session import get_spark  # noqa: E402


def _cli_arg(args: list[str], flag: str, default: str) -> str:
    if flag in args:
        i = args.index(flag)
        if i + 1 >= len(args):
            raise SystemExit(
                f"{flag} requires a value, e.g. `python bench.py {flag} <value>`"
            )
        v = args[i + 1]
        del args[i : i + 2]
        return v
    return default


_ARGS = sys.argv[1:]
SF_DIR = _cli_arg(
    _ARGS, "--sf", os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
)
SINK = _cli_arg(_ARGS, "--sink", "collect")  # collect | parquet
if SINK not in ("collect", "parquet"):
    raise SystemExit(f"--sink must be collect|parquet, got {SINK}")
# internal mode (r15): emit ONLY the four sf0.1 control timings at the
# dedicated-bench convention (fresh session, sf0.001 warmup, min over
# reps, collect sink) — spawned as a subprocess by non-sf0.1 legs so
# their drift adjudication no longer depends on the parent session's
# heap/JIT state (VERDICT r14 item 1: the in-process field read 0.702
# while the dedicated bench read 1.169 in the same minutes).
CONTROLS_ONLY = "--controls-only" in _ARGS
if CONTROLS_ONLY:
    _ARGS.remove("--controls-only")

# Headline set: one per operator family — scan/agg, star join, join+topk,
# analytic windows, event-time windows (incl. session), text flatMap,
# minhash dedup, vector search, streaming stateful path.
HEADLINE = [
    "pricing_summary",
    "revenue_by_nation",
    "shipping_priority",
    "left_join_order_item_stats",
    "window_rank_lag",
    "tumbling_window_daily",
    "session_window_4h",
    "flatmap_wordcount",
    "dedup_minhash_lsh",
    "embedding_cosine_topk",
    "streaming_running_reduce",
    "tfidf_top_terms",
    "text_stats",
    "pivot_event_counts",
    "deterministic_sample",
]

# Machine-drift self-adjudication (VERDICT r10 item 5; the r9 incident:
# a +34% artifact that was pure box drift cost a round-trip of idle-box
# re-measurement to adjudicate). The four NO-DEPENDENCY controls —
# headline queries whose sources and plans have been frozen since the
# early rounds — are pinned at their best quiet-box sf0.1 steady-state
# minimums (the r8-era band, confirmed by BENCH_r10, the program-best
# artifact). Each run emits per-control measured/pin ratios and their
# median: a future artifact whose headline total inflates WHILE the
# controls' median ratio inflates by the same factor self-adjudicates
# as machine drift (nothing in the controls changed); a non-uniform
# inflation, or headlines departing from the controls' ratio, is the
# bisect trigger (PERF.md round 10 documents the rule). Pins are only
# meaningful at sf0.1 — at other SFs the field reports null.
CONTROL_PINS_SF01 = {
    "pricing_summary": 1.036,
    "flatmap_wordcount": 0.259,
    "pivot_event_counts": 0.285,
    "deterministic_sample": 0.177,
}


def _controls_only_main() -> None:
    """Time the four sf0.1 controls at the dedicated-bench convention
    and print one JSON line {"controls": {name: min_sec}, ...}."""
    spark = get_spark(app_name="min-flink-spark-bench-controls")
    spark.sparkContext.setLogLevel("ERROR")
    ctl_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = os.path.join(os.path.dirname(ctl_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir):
        for name in CONTROL_PINS_SF01:
            QUERIES[name](spark, warm_dir).collect()
    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "3")))
    samples: dict[str, list[float]] = {n: [] for n in CONTROL_PINS_SF01}
    for _ in range(reps):
        for name in CONTROL_PINS_SF01:
            t0 = time.perf_counter()
            QUERIES[name](spark, ctl_dir).collect()
            samples[name].append(round(time.perf_counter() - t0, 3))
    print(json.dumps({"controls": {n: min(s) for n, s in samples.items()},
                      "reps": reps, "sf_dir": ctl_dir}))


def _controls_via_subprocess() -> dict[str, float] | None:
    """Run --controls-only in a FRESH interpreter/JVM (the dedicated-
    bench convention the r8-era pins were calibrated against) and return
    its four control minimums; None when the run fails (the caller
    falls back to reporting no dedicated ratios rather than crashing
    the leg)."""
    import subprocess

    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.1"
    env["SPARK_GRAFT_REPS"] = "3"
    try:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--controls-only"],
            env=env, capture_output=True, text=True, timeout=600,
        )
        for line in reversed(out.stdout.strip().splitlines()):
            if line.startswith("{"):
                return json.loads(line)["controls"]
    except Exception:
        pass
    return None


def main() -> None:
    spark = get_spark(app_name="min-flink-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    sink_dir = tempfile.mkdtemp(prefix="bench_sink_") if SINK == "parquet" else None

    def materialize(df, name: str) -> None:
        # collect: the r1-compatible convention (driver transfer is part
        # of the number). parquet: the cluster-shaped convention — the
        # result lands in a distributed-writable sink, so the timing
        # covers scan → shuffle → write, not a single-process driver
        # merge (the sf10 decomposition measured 147 s of pure
        # collect() transfer on a 15M-row output that writes in 3 s).
        if SINK == "collect":
            df.collect()
        else:
            df.write.mode("overwrite").parquet(os.path.join(sink_dir, name))

    # warmup: run the same plans at the sibling sf0.001 to absorb JIT/
    # codegen/worker startup (see module docstring); skipped when it
    # would re-run the EXACT timed inputs (benching sf0.001 itself) or
    # when the sibling doesn't exist — falls back to scan-only warmup
    cold = os.environ.get("SPARK_GRAFT_WARMUP", "1") == "0"
    warm_dir = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")
    if (
        not cold
        and os.path.isdir(warm_dir)
        and os.path.realpath(warm_dir) != os.path.realpath(SF_DIR)
    ):
        for name in HEADLINE:
            materialize(QUERIES[name](spark, warm_dir), f"_warm_{name}")
    if not cold:  # scan pre-touch belongs to warm mode only — in cold
        # mode it would pre-warm the FS cache/reader for every
        # lineitem-based query, contradicting the cold request
        spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()

    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "1" if cold else "3")))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(reps):
        for name in HEADLINE:
            fn = QUERIES[name]
            t0 = time.perf_counter()
            materialize(fn(spark, SF_DIR), name)
            samples[name].append(round(time.perf_counter() - t0, 3))
    times = {name: min(s) for name, s in samples.items()}
    medians = {name: round(statistics.median(s), 3) for name, s in samples.items()}

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    # machine-drift self-adjudication: measured/pin per control — sf0.1
    # AND warm/min methodology only (the pins are sf0.1 steady-state
    # minimums; a cold single-shot divided by them reads uniformly
    # inflated and would mis-adjudicate as machine drift, the exact
    # confusion the field exists to prevent)
    controls_ratio = None
    controls_ratio_median = None
    value_controls_normalized = None
    controls_inprocess_ratio = None
    control_times: dict[str, float] | None = None
    if sf_val == 0.1 and not cold and SINK == "collect":
        control_times = times
    elif not cold:
        # r15 (VERDICT r14 item 1): the r14 in-process controls were
        # broken as an instrument — after the sf1 headline passes the
        # session's heap/JIT state made them read 0.702 while the
        # dedicated sf0.1 bench read 1.169 in the same minutes. The
        # primary controls field now comes from a FRESH-SESSION
        # subprocess running --controls-only at the exact dedicated
        # convention the pins were calibrated against (fresh JVM,
        # sf0.001 warmup, min over 3 sf0.1 collect reps). The r14-style
        # in-process ratios stay as controls_inprocess_ratio so the two
        # conventions remain comparable across artifacts.
        ctl_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        if os.path.basename(ctl_dir.rstrip("/")) != "sf0.1":
            ctl_dir = "/root/testdata/sf0.1"
        if os.path.isdir(ctl_dir):
            ctl_samples: dict[str, list[float]] = {
                n: [] for n in CONTROL_PINS_SF01
            }
            for _ in range(reps):
                for name in CONTROL_PINS_SF01:
                    t0 = time.perf_counter()
                    QUERIES[name](spark, ctl_dir).collect()
                    ctl_samples[name].append(
                        round(time.perf_counter() - t0, 3)
                    )
            controls_inprocess_ratio = {
                n: round(min(s) / CONTROL_PINS_SF01[n], 3)
                for n, s in ctl_samples.items()
            }
            control_times = _controls_via_subprocess()
    if control_times is not None:
        controls_ratio = {
            name: round(control_times[name] / pin, 3)
            for name, pin in CONTROL_PINS_SF01.items()
        }
        controls_ratio_median = round(
            statistics.median(controls_ratio.values()), 3
        )
        # box-independent trend number (VERDICT r11 item 4): the r11
        # artifact spread proved raw wall-time is dominated by box
        # state (one HEAD measured 10.3-12.6 s as controls rode
        # 0.82-1.14). Dividing the headline total by the controls'
        # median ratio removes the uniform-drift component, so
        # round-over-round comparisons in PERF.md use THIS field; the
        # raw value stays for continuity with the BENCH_r1-r11 history.
        value_controls_normalized = round(
            sum(times.values()) / controls_ratio_median, 3
        )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall_sec",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "queries": times,
                "value_median": round(sum(medians.values()), 3),
                "queries_median": medians,
                "reps": reps,
                "sf": sf_val,
                "sink": SINK,
                "controls_ratio_vs_r8era": controls_ratio,
                "controls_ratio_median": controls_ratio_median,
                "value_controls_normalized": value_controls_normalized,
                "controls_inprocess_ratio": controls_inprocess_ratio,
                "controls_convention": (
                    None if controls_ratio is None
                    else "same-run" if control_times is times
                    else "fresh-subprocess"
                ),
            }
        )
    )
    if sink_dir is not None:
        shutil.rmtree(sink_dir, ignore_errors=True)


if __name__ == "__main__":
    if CONTROLS_ONLY:
        _controls_only_main()
    else:
        main()
