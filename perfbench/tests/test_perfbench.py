"""Tests of the benchmark harness itself: one-pass closed-loop runs and a
short live phase. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The subprocess tests start Spark once per run, so the file takes a few
minutes; the unit tests at the top need no Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import layers as L  # noqa: E402
from perfbench.fingerprint import fingerprint, parquet_fingerprint  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER, WORKLOADS, ClosedLoop, report  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
MEASURED = [w["name"] for w in BENCH["workloads"]]


# -- no Spark -------------------------------------------------------------------


def test_metric_value_parses_status_store_strings():
    assert L.metric_value("1,500") == 1500
    assert L.metric_value("16.5 MiB") == 16.5 * 2**20
    assert L.metric_value("total (min, med, max (stageId: taskId))\n61 ms (1 ms, 2 ms)") == 0.061


def test_self_time_subtracts_the_union_of_children():
    tr = L.Tracer()
    root = tr.add("query", 0.0, 10.0)
    tr.child(root, "job", 1.0, 4.0)
    tr.child(root, "job", 3.0, 5.0)
    late = tr.child(root, "job", 9.0, 12.0)  # clipped into its parent
    assert late.end == 10.0
    st = tr.self_times()
    assert st["query"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st["job"] == pytest.approx(3.0 + 2.0 + 1.0)


def test_latency_percentiles_are_medians_over_windows():
    m = L.windowed_percentiles([[1.0, 2.0, 3.0], [], [10.0, 20.0, 30.0], [2.0, 2.0, 2.0]])
    assert m["event_latency_p50_s"] == 2.0   # window medians 2, 20, 2
    assert m["event_latency_p99_s"] == pytest.approx(2.98)   # of 2.98, 29.8, 2


def test_wrong_fingerprint_counts_as_failed_operation(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "q"
    out.mkdir()
    pq.write_table(pa.table({"k": [1, 2], "v": [0.5, None]}), str(out / "part-0.parquet"))
    good = parquet_fingerprint(str(out))
    assert good == fingerprint(["v", "k"], [(None, 2), (0.5, 1)])
    assert good[2] == ["k", "v"]

    run = SimpleNamespace(wl=WORKLOADS["llm_pipeline"], traced=False,
                          attempted=0, failed=0, failures=[])
    run.fail = lambda what: (setattr(run, "failed", run.failed + 1), run.failures.append(what))
    loop = ClosedLoop(run)
    loop.ops = [{"name": n, "out": str(out), "ok": n != "d"} for n in "abcd"]
    loop.verify({"sf0.01": {"a": good,
                            "b": [good[0], "0" * 16, good[2]],   # wrong values
                            "c": [good[0], good[1], ["k", "w"]]}})  # renamed column
    assert (run.attempted, run.failed) == (4, 3)
    e2e = {k: 1.0 for k in END_TO_END}
    result = report(run, e2e, {})
    assert (result["correct"], result["attempted"], result["failed"]) == (False, 4, 3)


def test_benchmark_json_names_every_metric_with_its_unit():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == {
        k: u for k, (u, _) in PER_LAYER.items()}
    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)


# -- subprocess runs ------------------------------------------------------------

SHORT = {"stream_live": ["--seconds", "2", "--rate", "400"]}   # one pass otherwise


def bench(workload: str, trace: int, *extra: str, optimize: bool = False) -> dict:
    args = [sys.executable] + (["-O"] if optimize else []) + [
        os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload, "--seed", "7",
        "--trace", str(trace)] + SHORT.get(workload, ["--seconds", "1"])
    out = subprocess.run(args + list(extra), cwd=ROOT, capture_output=True, text=True,
                         timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["lines"] = lines[:-1]
    return result


_cache: dict = {}


def cached(workload: str, trace: int) -> dict:
    if (workload, trace) not in _cache:
        _cache[workload, trace] = bench(workload, trace)
    return _cache[workload, trace]


@pytest.mark.parametrize("workload", MEASURED)
def test_end_to_end_metrics_are_emitted_with_units(workload):
    r = cached(workload, 0)
    assert set(r) == {"correct", "attempted", "failed", "metrics", "lines"}
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert {k: v["unit"] for k, v in r["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in r["metrics"].values())
    printed = {ln.split()[0] for ln in r["lines"]}
    assert set(END_TO_END) | {"failed_ops_frac"} <= printed


@pytest.mark.parametrize("workload", MEASURED)
def test_traced_run_emits_layers_and_a_well_formed_span_tree(workload):
    r = cached(workload, 1)
    assert r["correct"]
    assert {k: v["unit"] for k, v in r["metrics"].items()} == {
        k: u for k, (u, _) in PER_LAYER.items()}
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["spark.tasks"] > 0 and m["trace.overhead_s"] > 0
    if workload == "stream_live":
        assert m["streaming.batches"] > 0 and m["streaming.trigger_s"] > 0
    path = next(ln.split()[1] for ln in r["lines"] if ln.startswith("trace: "))
    with open(path) as f:
        spans = {s["id"]: s for s in map(json.loads, f)}
    for s in spans.values():
        assert s["end"] >= s["start"]
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"]
            if p["name"] not in ("workload", "pass"):  # one trace id per query
                assert s["trace"] == p["trace"]
    tr = L.Tracer()
    tr.spans = [L.Span(**s) for s in spans.values()]
    assert all(v >= -1e-9 for v in tr.self_times().values())
    names = {s["name"] for s in spans.values()}
    assert {"job", "stage"} <= names
    if workload == "stream_live":
        assert {"micro_batch", "phase.addBatch", "sink_write"} <= names
    else:
        assert {"pass", "query", "registry_call", "sink_action"} <= names


def test_same_operations_are_counted_under_python_O():
    plain = cached("llm_pipeline", 0)
    optimized = bench("llm_pipeline", 0, optimize=True)
    assert optimized["attempted"] == plain["attempted"] == len(
        WORKLOADS["llm_pipeline"].queries)
    assert optimized["failed"] == plain["failed"] == 0
