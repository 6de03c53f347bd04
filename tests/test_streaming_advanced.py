"""Stream-stream join, watermarked dedup, and stateful timers."""

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from min_flink_spark.streaming.runner import (
    run_foreach_batch,
    run_to_completion,
    run_until,
    stream_parquet,
)
from min_flink_spark.streaming.stateful import KeyedProcessFunction, process_keyed

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ev_adv"))
    spark.read.parquet(f"{sf_dir}/events.parquet").coalesce(1).write.mode(
        "overwrite"
    ).parquet(out)
    return out


def test_stream_stream_interval_join(spark, sf_dir, events_dir):
    """Two watermarked streams, equi-key + time-interval condition —
    the state-bounded stream-stream join; result equals the batch join
    with the identical predicate."""
    clicks = (
        stream_parquet(spark, events_dir, EVENTS_SCHEMA)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"), F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
        )
        .withWatermark("click_ts", "1 hour")
    )
    signups = (
        stream_parquet(spark, events_dir, EVENTS_SCHEMA)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user_id"),
            F.col("event_id").alias("signup_id"),
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", "1 hour")
    )
    joined = clicks.join(
        signups,
        on=(F.col("user_id") == F.col("s_user_id"))
        & (F.col("signup_ts") <= F.col("click_ts"))
        & (F.col("signup_ts") >= F.col("click_ts") - F.expr("INTERVAL 1 DAY")),
    ).select("user_id", "click_id", "signup_id")
    got = run_to_completion(joined, output_mode="append").count()

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user_id"),
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("signup_ts"),
    )
    want = (
        c.join(
            s,
            on=(F.col("user_id") == F.col("s_user_id"))
            & (F.col("signup_ts") <= F.col("click_ts"))
            & (F.col("signup_ts") >= F.col("click_ts") - F.expr("INTERVAL 1 DAY")),
        )
    ).count()
    assert got == want and got > 0


def test_streaming_dedup_with_watermark(spark, sf_dir, tmp_path):
    """dropDuplicates on a stream: duplicated input collapses to one
    row per event_id (keyed dedup state bounded by watermark)."""
    d = str(tmp_path / "dup_stream")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(500)
    ev.coalesce(1).write.mode("append").parquet(d)
    ev.coalesce(1).write.mode("append").parquet(d)  # exact duplicate file

    s = stream_parquet(spark, d, EVENTS_SCHEMA)
    dedup = s.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    got = run_to_completion(dedup, output_mode="append").count()
    assert got == 500


class FlushOnTimeout(KeyedProcessFunction):
    """Counts rows per key; on processing-time timeout, flushes the
    count and clears state (the reference's vestigial
    KeyedProcessFunction.onTimer contract, SURVEY §2.8)."""

    state_schema = "cnt bigint"
    output_schema = "user_id bigint, cnt bigint, flushed boolean"

    def process_element(self, key, rows, state):
        cnt = (state[0] if state else 0) + len(rows)
        return None, (cnt,)  # buffer only; emit on timer

    def on_timeout(self, key, state):
        out = pd.DataFrame(
            {"user_id": [key[0]], "cnt": [state[0] if state else 0], "flushed": [True]}
        )
        return out, None  # emit + clear


def test_processing_time_timer_flush(spark, tmp_path):
    """Timer path end-to-end: elements buffer into state with a 500 ms
    processing-time timeout; on_timeout flushes the buffered count and
    clears state. Runs under run_until because AvailableNow cannot
    terminate once processing-time timers exist."""
    d = str(tmp_path / "timer_stream")
    ckpt = str(tmp_path / "timer_ckpt")
    collected = []

    def sink(batch_df, _bid):
        collected.extend(batch_df.collect())

    spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (2, 5.0)], "user_id bigint, v double"
    ).coalesce(1).write.mode("append").parquet(d)
    s = stream_parquet(spark, d, "user_id bigint, v double")
    out = process_keyed(
        s, ["user_id"], FlushOnTimeout(), output_mode="update", timeout_ms=500
    )
    met = run_until(
        out,
        sink,
        predicate=lambda: len(collected) >= 2,
        output_mode="update",
        checkpoint_dir=ckpt,
        timeout_sec=90,
    )
    assert met, f"timers never fired; got {collected}"
    flushed = {r["user_id"]: r["cnt"] for r in collected if r["flushed"]}
    assert flushed.get(1) == 2 and flushed.get(2) == 1
    assert all(r["flushed"] for r in collected)  # nothing emitted pre-timer


def test_aggregate_state_carries_across_restarts(spark, sf_dir, tmp_path):
    """Incremental stateful aggregation across three checkpointed
    bounded runs: each run adds one input file; the final update per key
    must equal the batch aggregate over ALL files (state restored from
    the checkpoint, not recomputed)."""
    d = str(tmp_path / "carry_stream")
    ckpt = str(tmp_path / "carry_ckpt")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    # split by event (NOT by key): every user appears in all three runs,
    # so the final totals are only right if state restores between runs
    parts = [
        ev.filter(F.col("event_id") % 3 == i).select("user_id", "value")
        for i in range(3)
    ]
    ev = ev.select("user_id", "value")

    latest = {}

    def sink(batch_df, _bid):
        for r in batch_df.collect():
            latest[r["user_id"]] = r["total"]  # update mode: last write wins

    for p in parts:
        p.coalesce(1).write.mode("append").parquet(d)
        s = stream_parquet(spark, d, "user_id bigint, value double")
        agg = s.groupBy("user_id").agg(F.sum("value").alias("total"))
        run_foreach_batch(agg, sink, output_mode="update", checkpoint_dir=ckpt)

    want = {
        r["user_id"]: r["total"]
        for r in ev.groupBy("user_id").agg(F.sum("value").alias("total")).collect()
    }
    assert latest.keys() == want.keys()
    assert all(abs(latest[k] - want[k]) < 1e-6 for k in want)


@pytest.mark.parametrize(
    "op,value_type", [("sum", "double"), ("min", "bigint"), ("max", "double")]
)
def test_running_reduce_across_micro_batches(spark, tmp_path, op, value_type):
    """True multi-batch stateful processing: three files,
    maxFilesPerTrigger=1 → three micro-batches, and the query stops and
    resumes from its checkpoint before the third, so the key-group state
    must survive a restart. Two keys share a key group, a third sits in
    another, and the second file skips one of the pair, whose state must
    outlive its group-mate's update; every emission must equal the batch
    window reduce."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from min_flink_spark.functions.aggregations import running_reduce_plan
    from min_flink_spark.streaming.stateful import KEY_GROUPS, RunningReduceFunction

    group = {
        r["k"]: r["g"]
        for r in spark.range(64)
        .select(F.col("id").alias("k"), F.pmod(F.xxhash64("k"), F.lit(KEY_GROUPS)).alias("g"))
        .collect()
    }
    a = next(k for k in group if any(group[j] == group[k] for j in group if j > k))
    b = next(j for j in group if j > a and group[j] == group[a])
    c = next(k for k in group if group[k] != group[a])

    d, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(d)
    schema = f"user_id bigint, event_id bigint, value {value_type}"
    rnd = random.Random(7)
    dtype, scale = ("int64", 1) if value_type == "bigint" else ("float64", 4)

    def write_file(i, keys):
        # event order within a file differs from its physical order;
        # values are quarters so every double sum is exact
        ev = [(k, 10 * i + j * 3 + n) for j, k in enumerate(keys) for n in range(3)]
        rnd.shuffle(ev)
        path = os.path.join(d, f"part-{i}.parquet")
        pq.write_table(pa.table({
            "user_id": pa.array([k for k, _ in ev], "int64"),
            "event_id": pa.array([e for _, e in ev], "int64"),
            "value": pa.array([rnd.randint(-40, 40) / scale for _ in ev], dtype),
        }), path)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))  # file order = event order

    got = []

    def run():
        s = stream_parquet(spark, d, schema, max_files_per_trigger=1)
        fn = RunningReduceFunction("user_id", "event_id", "value", op, value_type)
        run_foreach_batch(
            process_keyed(s, ["user_id"], fn, output_mode="update"),
            lambda df, _: got.extend(df.collect()),
            checkpoint_dir=ckpt,
        )

    write_file(0, (a, b, c))
    write_file(1, (a, c))
    run()
    write_file(2, (a, b, c))
    run()  # a new query: state comes back from the checkpoint

    want = {
        (r["user_id"], r["event_id"]): r[f"running_{op}_value"]
        for r in running_reduce_plan(
            spark.read.schema(schema).parquet(d), ["user_id"], "value", op, "event_id"
        ).collect()
    }
    assert len(got) == len(want) == 24  # one emission per input record
    assert {(r["user_id"], r["event_id"]): r["running"] for r in got} == want


def test_rocksdb_state_store_backend(spark, sf_dir, tmp_path):
    """Big-state readiness: the same stateful aggregation runs on the
    RocksDB state store (spillable, incremental-checkpoint backend used
    when keyed state exceeds executor heap — the reference's heap-only
    NestedStateMap has no equivalent). Results must match the default
    HDFS-backed provider."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        s = stream_parquet(spark, f"{sf_dir}/events.parquet", EVENTS_SCHEMA)
        agg = s.groupBy("user_id").agg(F.sum("value").alias("total"))
        got = {
            r["user_id"]: r["total"]
            for r in run_to_completion(agg, output_mode="update").collect()
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    want = {
        r["user_id"]: r["total"]
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.sum("value").alias("total"))
        .collect()
    }
    assert got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) < 1e-6 for k in want)


def test_rate_source_unbounded(spark):
    """Genuinely unbounded source (rate): collect a few micro-batches
    via run_until, then stop — the engine's analog of the reference's
    continuously-running SourceFunction thread."""
    from min_flink_spark.streaming.runner import run_until

    s = spark.readStream.format("rate").option("rowsPerSecond", 50).load()
    collected = []

    def sink(batch_df, _bid):
        collected.extend(batch_df.collect())

    met = run_until(
        s.select("timestamp", "value"),
        sink,
        predicate=lambda: len(collected) >= 20,
        output_mode="append",
        timeout_sec=60,
    )
    assert met and len(collected) >= 20
    assert len({r["value"] for r in collected}) == len(collected)  # monotone ids


def test_broadcast_state_pattern_dim_updates_between_runs(spark, tmp_path):
    """The reference's broadcast-state pattern (a control/dimension
    stream broadcast to all tasks, StreamPartitioner.java:40-42 family)
    maps to a stream-static join whose static side is RE-RESOLVED every
    micro-batch: appending to the dim directory between checkpointed
    bounded runs changes the enrichment of later events without
    restarting anything."""
    import os

    from min_flink_spark.streaming.runner import (
        run_foreach_batch,
        shuffle_partitions,
        stream_files,
    )
    from pyspark.sql import functions as F

    events = str(tmp_path / "events")
    dim = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    got = []

    def sink(bdf, _):
        got.extend([(r["k"], r["label"]) for r in bdf.collect()])

    def run_once(batch_rows):
        spark.createDataFrame(batch_rows, "k bigint").coalesce(1).write.mode(
            "append"
        ).parquet(events)
        s = stream_files(spark, events, "k bigint", fmt="parquet")
        d = spark.read.schema("k bigint, label string").parquet(dim)
        joined = s.join(F.broadcast(d), "k", "left").select("k", "label")
        with shuffle_partitions(spark, 2):
            run_foreach_batch(joined, sink, checkpoint_dir=ckpt)

    os.makedirs(dim, exist_ok=True)
    spark.createDataFrame([(1, "v1")], "k bigint, label string").coalesce(
        1
    ).write.mode("append").parquet(dim)
    run_once([(1,)])

    # dim update between runs: same key, new label
    spark.createDataFrame([(2, "v2")], "k bigint, label string").coalesce(
        1
    ).write.mode("append").parquet(dim)
    run_once([(2,)])

    assert ("1", "v1") not in got  # types preserved (bigint, not str)
    assert (1, "v1") in got and (2, "v2") in got


def test_idempotent_foreach_batch_skips_replays(spark, tmp_path):
    """Re-running a checkpointed bounded query from scratch re-delivers
    batch 0; the idempotent wrapper must deliver side effects once."""
    from min_flink_spark.streaming.runner import (
        idempotent_foreach_batch,
        run_foreach_batch,
        stream_files,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame([(1,), (2,)], "v bigint").coalesce(1).write.parquet(src)
    delivered = []

    sink = idempotent_foreach_batch(
        lambda bdf, bid: delivered.extend([r["v"] for r in bdf.collect()]),
        ledger_dir=str(tmp_path / "ledger"),
    )

    # run twice WITHOUT a shared checkpoint: the second run replays the
    # same data as batch 0 — the ledger must swallow it
    for _ in range(2):
        s = stream_files(spark, src, "v bigint", fmt="parquet")
        run_foreach_batch(s, sink, checkpoint_dir=None)

    assert sorted(delivered) == [1, 2]  # exactly once despite re-delivery


def test_metrics_recorder_captures_progress(spark, sf_dir, tmp_path):
    """The listener must see every micro-batch: total numInputRows ==
    source row count, and the stateful aggregation reports state rows."""
    import time

    from pyspark.sql import functions as F

    from min_flink_spark.streaming.metrics import record_metrics, stop_recording
    from min_flink_spark.streaming.runner import (
        run_to_completion,
        shuffle_partitions,
        stream_parquet,
    )

    src = f"{sf_dir}/events.parquet"
    n = spark.read.parquet(src).count()
    rec = record_metrics(spark)
    try:
        s = stream_parquet(
            spark,
            src,
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string",
        )
        agg = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        with shuffle_partitions(spark, 2):
            run_to_completion(agg, output_mode="update")
        # listener bus is async; give it a beat to drain
        for _ in range(40):
            if rec.total_input_rows() >= n:
                break
            time.sleep(0.25)
        assert rec.total_input_rows() == n
        assert rec.state_rows() == 5  # one state row per event_type
    finally:
        stop_recording(spark, rec)


def test_complete_mode_requires_bounded_key_grouped_aggregate(spark):
    """streaming_complete_topk's state-cardinality contract: complete
    mode retains the full result as state forever, so (a) Spark itself
    must reject complete mode without an aggregate (behavioral pin for
    the half the engine enforces), and (b) every complete-mode usage in
    the package must sit on a grouped aggregate over a bounded,
    SF-invariant key — source-locked so a new complete-mode query over
    user_id/order_id cannot sneak in unreviewed."""
    import pathlib
    import re

    import pytest as _pytest
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryException

    # (a) no aggregation -> complete mode is illegal (AnalysisException
    # surfaces at start-or-run time depending on version)
    s = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    with _pytest.raises(Exception) as ei:
        (
            s.select("value")
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("ill_complete")
            .start()
        )
    assert "complete" in str(ei.value).lower()

    # (b) the only complete-mode call sites are the audited
    # bounded-key aggregates (event_type: handful of values)
    pkg = pathlib.Path(__file__).resolve().parent.parent / "min_flink_spark"
    allowed = {"queries/streaming_q.py"}
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        rel = str(py.relative_to(pkg))
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if re.search(r"output_mode\s*=\s*[\"']complete[\"']", line):
                if rel not in allowed:
                    offenders.append(f"{rel}:{i}")
    assert not offenders, (
        "complete-mode usage outside the audited bounded-key sites: "
        + ", ".join(offenders)
    )


# ---------------------------------------------------------------------------
# streaming bottom-k (KMV) sketch (streaming/sketches.py)
# ---------------------------------------------------------------------------


def test_streaming_bottom_k_matches_batch_across_batches(spark, tmp_path):
    """The state transition state ← bottom-k(state ∪ batch) must equal
    the batch sketch of ALL rows regardless of micro-batch boundaries:
    stage two files, force one file per trigger, and compare the
    merged emissions against operators/pipeline.bottom_k_sketch over
    the union. Also pins the keys × k state contract: every emitted
    sketch holds ≤ k rows per key."""
    from min_flink_spark.operators.pipeline import bottom_k_sketch, merge_bottom_k
    from min_flink_spark.streaming.runner import shuffle_partitions
    from min_flink_spark.streaming.sketches import streaming_bottom_k

    schema = "event_type string, user_id bigint"
    b1 = spark.createDataFrame(
        [("click", i) for i in range(30)] + [("view", i) for i in range(10)],
        schema,
    )
    # overlap: users 20-29 recur in batch 2 and must count once
    b2 = spark.createDataFrame(
        [("click", i) for i in range(20, 50)] + [("view", 99)], schema
    )
    src = str(tmp_path / "kmv_two_batches")
    b1.coalesce(1).write.parquet(src + "/f=a")
    b2.coalesce(1).write.parquet(src + "/f=b")
    import glob as _glob

    flat = str(tmp_path / "kmv_flat")
    os.makedirs(flat)
    for i, f in enumerate(
        sorted(_glob.glob(src + "/f=*/**/*.parquet", recursive=True))
    ):
        os.link(f, os.path.join(flat, f"{i:02d}.parquet"))

    s = stream_parquet(spark, flat, schema, max_files_per_trigger=1)
    with shuffle_partitions(spark, 2):
        emitted = run_to_completion(
            streaming_bottom_k(s, "event_type", "event_type string", "user_id", k=5),
            output_mode="update",
        )
    rows = emitted.collect()
    # state/emission contract: ≤ k rows per key per emission (pos ≤ k)
    assert max(r["pos"] for r in rows) <= 5
    got = {
        tuple(r)
        for r in merge_bottom_k([emitted], ["event_type"], k=5)
        .select("event_type", "pos", "hash", "id")
        .collect()
    }
    want = {
        tuple(r)
        for r in bottom_k_sketch(
            b1.unionByName(b2), ["event_type"], "user_id", k=5
        )
        .select("event_type", "pos", "hash", F.col("id").cast("bigint"))
        .collect()
    }
    assert got == want


def test_streaming_bottom_k_composite_key_matches_batch(spark, tmp_path):
    """COMPOSITE state keys (r11: the streaming × keyed × windowed
    matrix cell): streaming_bottom_k keyed on (day, event_type) across
    two micro-batches must equal the batch sketch of the union under
    the same composite grouping — including an id recurring for one
    key on both sides of the batch boundary counting once. Also pins
    that every key column rides back out next to the sketch rows."""
    from min_flink_spark.operators.pipeline import bottom_k_sketch, merge_bottom_k
    from min_flink_spark.streaming.runner import shuffle_partitions
    from min_flink_spark.streaming.sketches import streaming_bottom_k

    schema = "day string, event_type string, user_id bigint"
    b1 = spark.createDataFrame(
        [("d1", "click", i) for i in range(20)]
        + [("d1", "view", i) for i in range(8)]
        + [("d2", "click", i) for i in range(5)],
        schema,
    )
    # users 10-19 recur for (d1, click) and must count once; d2 grows
    b2 = spark.createDataFrame(
        [("d1", "click", i) for i in range(10, 35)]
        + [("d2", "click", i) for i in range(3, 12)],
        schema,
    )
    src = str(tmp_path / "kmv_ck")
    os.makedirs(src)
    b1.coalesce(1).write.parquet(src + "_a")
    b2.coalesce(1).write.parquet(src + "_b")
    import glob as _glob

    for i, f in enumerate(
        sorted(
            _glob.glob(src + "_a/*.parquet") + _glob.glob(src + "_b/*.parquet")
        )
    ):
        os.link(f, os.path.join(src, f"{i:02d}.parquet"))

    s = stream_parquet(spark, src, schema, max_files_per_trigger=1)
    with shuffle_partitions(spark, 2):
        emitted = run_to_completion(
            streaming_bottom_k(
                s,
                ["day", "event_type"],
                "day string, event_type string",
                "user_id",
                k=4,
            ),
            output_mode="update",
        )
    assert emitted.columns == ["day", "event_type", "pos", "hash", "id"]
    got = {
        tuple(r)
        for r in merge_bottom_k([emitted], ["day", "event_type"], k=4)
        .select("day", "event_type", "pos", "hash", "id")
        .collect()
    }
    want = {
        tuple(r)
        for r in bottom_k_sketch(
            b1.unionByName(b2), ["day", "event_type"], "user_id", k=4
        )
        .select("day", "event_type", "pos", "hash", F.col("id").cast("bigint"))
        .collect()
    }
    assert got == want


def test_streaming_bitmap_composite_key_matches_batch(spark, tmp_path):
    """COMPOSITE-key streaming bitmap build (r12: the exact-algebra
    family's streaming × keyed × windowed gate row): bitmap_index
    grouped on (day, event_type) as a streaming update-mode
    aggregation across two micro-batches, emissions collapsed by a
    second bit_or, must equal the batch index of the union
    word-for-word — including a user recurring for one key across the
    batch boundary setting their bit once (OR idempotence)."""
    from min_flink_spark.operators.bitmap import bitmap_index, merge_bitmap_indexes
    from min_flink_spark.streaming.runner import shuffle_partitions

    schema = "day string, event_type string, user_id bigint"
    b1 = spark.createDataFrame(
        [("d1", "click", i) for i in range(0, 200, 3)]
        + [("d1", "view", i) for i in range(0, 70, 7)]
        + [("d2", "click", i) for i in range(5)],
        schema,
    )
    # multiples of 15 recur for (d1, click); d2 grows new words
    b2 = spark.createDataFrame(
        [("d1", "click", i) for i in range(0, 200, 5)]
        + [("d2", "click", i) for i in range(60, 80)],
        schema,
    )
    flat = str(tmp_path / "bm_ck")
    os.makedirs(flat)
    b1.coalesce(1).write.parquet(flat + "_a")
    b2.coalesce(1).write.parquet(flat + "_b")
    import glob as _glob

    for i, f in enumerate(
        sorted(_glob.glob(flat + "_*/**/*.parquet", recursive=True))
    ):
        os.link(f, os.path.join(flat, f"{i:02d}.parquet"))

    s = stream_parquet(spark, flat, schema, max_files_per_trigger=1)
    with shuffle_partitions(spark, 2):
        emitted = run_to_completion(
            bitmap_index(s, ["day", "event_type"], "user_id"),
            output_mode="update",
        )
    assert emitted.columns == ["day", "event_type", "word", "mask"]
    got = sorted(map(tuple, merge_bitmap_indexes(emitted).collect()))
    want = sorted(
        map(
            tuple,
            bitmap_index(
                b1.unionByName(b2), ["day", "event_type"], "user_id"
            ).collect(),
        )
    )
    assert got == want


def test_bottom_k_function_rejects_mismatched_key_ddl():
    """The key DDL must name exactly the key columns, in order — a
    mismatch must fail at CONSTRUCTION, not as an Arrow schema error
    deep inside a micro-batch (same fail-loud idiom as the r11
    triangle_counts hint validation)."""
    import pytest

    from min_flink_spark.streaming.sketches import BottomKFunction

    with pytest.raises(ValueError, match="must match"):
        BottomKFunction(4, ["day", "event_type"], "day timestamp_ntz")
    with pytest.raises(ValueError, match="must match"):
        BottomKFunction(
            4, ["day", "event_type"], "event_type string, day timestamp_ntz"
        )
    # correct DDLs construct fine (single and composite)
    BottomKFunction(4, "event_type", "event_type string")
    BottomKFunction(4, ["day", "event_type"], "day timestamp_ntz, event_type string")
    # ADVICE r11: commas INSIDE parameterized/nested types are not
    # field separators — these valid composite DDLs must construct
    BottomKFunction(4, ["amt", "event_type"], "amt decimal(10,2), event_type string")
    BottomKFunction(
        4,
        ["m", "s"],
        "m map<string,bigint>, s struct<a:int,b:array<struct<c:int,d:int>>>",
    )
    # and a nested-type mismatch still fails loud
    with pytest.raises(ValueError, match="must match"):
        BottomKFunction(4, ["amt"], "amt decimal(10,2), extra string")


def test_streaming_cms_max_collapse_matches_batch(spark, tmp_path):
    """The streaming CMS grid's per-cell counts are cumulative and
    monotone, so collapsing update-mode emissions by per-cell MAX must
    reproduce the batch grid exactly — at ANY micro-batch split. Two
    files, one per trigger."""
    from min_flink_spark.operators.pipeline import count_min_sketch

    schema = "term string"
    b1 = spark.createDataFrame([("a",)] * 20 + [("b",)] * 5, schema)
    b2 = spark.createDataFrame([("a",)] * 7 + [("c",)] * 11, schema)
    src = str(tmp_path / "cms_two_batches")
    b1.coalesce(1).write.parquet(src + "/f=a")
    b2.coalesce(1).write.parquet(src + "/f=b")
    import glob as _glob

    flat = str(tmp_path / "cms_flat")
    os.makedirs(flat)
    for i, f in enumerate(
        sorted(_glob.glob(src + "/f=*/**/*.parquet", recursive=True))
    ):
        os.link(f, os.path.join(flat, f"{i:02d}.parquet"))

    s = stream_parquet(spark, flat, schema, max_files_per_trigger=1)
    emitted = run_to_completion(
        count_min_sketch(s, "term", depth=3, width=16), output_mode="update"
    )
    got = {
        (r["d"], r["w"]): r["cnt"]
        for r in emitted.groupBy("d", "w").agg(F.max("cnt").alias("cnt")).collect()
    }
    want = {
        (r["d"], r["w"]): r["cnt"]
        for r in count_min_sketch(
            b1.unionByName(b2), "term", depth=3, width=16
        ).collect()
    }
    assert got == want


def test_streaming_mg_last_writer_collapse_holds_bounds(spark, tmp_path):
    """Streaming Misra-Gries (MGFunction): m below the vocabulary over
    two forced micro-batches, so the state transition subtracts across
    a batch boundary. The last-writer collapse (latest_mg_emissions)
    must pick each key's final summary, and that summary must satisfy
    the classical per-key guarantees against the UNION of both files:
    containment above N/m and est ∈ [true − N/m, true]. Also pins the
    keys × m state contract (≤ m rows per key per emission)."""
    import collections
    import glob as _glob

    from min_flink_spark.streaming.runner import (
        run_to_completion,
        shuffle_partitions,
        stream_parquet,
    )
    from min_flink_spark.streaming.sketches import (
        latest_mg_emissions,
        streaming_misra_gries,
    )

    schema = "shard bigint, term string"
    rows1 = [(0, "hot")] * 60 + [(0, f"n{i % 23}") for i in range(60)]
    rows2 = [(0, "hot")] * 40 + [(0, "warm")] * 35 + [
        (0, f"m{i % 19}") for i in range(40)
    ]
    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)
    flat = str(tmp_path / "mg_flat")
    os.makedirs(flat)
    b1.coalesce(1).write.parquet(str(tmp_path / "a"))
    b2.coalesce(1).write.parquet(str(tmp_path / "b"))
    for i, f in enumerate(
        sorted(_glob.glob(str(tmp_path / "?") + "/**/*.parquet", recursive=True))
    ):
        os.link(f, os.path.join(flat, f"{i:02d}.parquet"))

    m = 8
    s = stream_parquet(spark, flat, schema, max_files_per_trigger=1)
    with shuffle_partitions(spark, 2):
        emitted = run_to_completion(
            streaming_misra_gries(s, "shard", "shard bigint", "term", m=m),
            output_mode="update",
        )
    em = emitted.collect()
    assert max(r["version"] for r in em) == 2, "expected two micro-batches"
    per_emission = collections.Counter((r["shard"], r["version"]) for r in em)
    assert max(per_emission.values()) <= m, "state contract keys x m broken"

    got = {
        r["item"]: r["cnt"]
        for r in latest_mg_emissions(emitted, "shard").collect()
    }
    assert len(got) <= m
    exact = collections.Counter(t for _, t in rows1 + rows2)
    n = len(rows1) + len(rows2)
    for item, true in exact.items():
        if true > n / m:
            assert item in got, f"{item} (count {true} > N/m) missing"
    for item, est in got.items():
        assert est <= exact[item]
        assert est >= exact[item] - n / m


def test_streaming_mg_composite_key_matches_batch(spark, tmp_path):
    """COMPOSITE-key streaming Misra-Gries (r12: the heavy-hitter
    family's streaming × keyed × windowed gate row): MGFunction keyed
    on (day, seg) across two micro-batches, collapsed last-writer per
    composite key, must equal the batch keyed summary of the union
    when the per-key vocabulary stays under m (small-vocab exactness)
    — including a key whose items straddle the batch boundary. Also
    pins that every key column rides back out next to the summary."""
    import collections
    import glob as _glob

    from min_flink_spark.streaming.runner import (
        run_to_completion,
        shuffle_partitions,
        stream_parquet,
    )
    from min_flink_spark.streaming.sketches import (
        latest_mg_emissions,
        streaming_misra_gries,
    )

    schema = "day string, seg bigint, term string"
    rows1 = (
        [("d1", 0, "hot")] * 12
        + [("d1", 0, "warm")] * 5
        + [("d1", 1, "hot")] * 3
        + [("d2", 0, "cold")] * 4
    )
    rows2 = (
        [("d1", 0, "hot")] * 7  # straddles the boundary for (d1, 0)
        + [("d1", 1, "mild")] * 6
        + [("d2", 0, "cold")] * 2
    )
    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)
    flat = str(tmp_path / "mg_ck_flat")
    os.makedirs(flat)
    b1.coalesce(1).write.parquet(str(tmp_path / "cka"))
    b2.coalesce(1).write.parquet(str(tmp_path / "ckb"))
    for i, f in enumerate(
        sorted(_glob.glob(str(tmp_path / "ck?") + "/**/*.parquet", recursive=True))
    ):
        os.link(f, os.path.join(flat, f"{i:02d}.parquet"))

    m = 8  # vocab per (day, seg) is <= 2 < m: summaries are EXACT
    s = stream_parquet(spark, flat, schema, max_files_per_trigger=1)
    with shuffle_partitions(spark, 2):
        emitted = run_to_completion(
            streaming_misra_gries(
                s, ["day", "seg"], "day string, seg bigint", "term", m=m
            ),
            output_mode="update",
        )
    assert emitted.columns == ["day", "seg", "version", "item", "cnt"]
    got = {
        (r["day"], r["seg"], r["item"]): r["cnt"]
        for r in latest_mg_emissions(emitted, ["day", "seg"]).collect()
    }
    exact = collections.Counter((d, g, t) for d, g, t in rows1 + rows2)
    assert got == dict(exact)


def test_streaming_mg_state_recovers_across_restarts(spark, tmp_path):
    """MG state (counters + version) must survive a query RESTART from
    the checkpoint — the second run's summary reflects BOTH runs' data
    and its version continues from the recovered state (vocab < m here,
    so the recovered summary is exactly the union's counts)."""
    from min_flink_spark.streaming.runner import run_foreach_batch, stream_parquet
    from min_flink_spark.streaming.sketches import streaming_misra_gries

    d = str(tmp_path / "mg_src")
    ckpt = str(tmp_path / "mg_ck")
    schema = "shard string, term string"
    emitted = []

    def sink(bdf, _bid):
        emitted.extend(bdf.collect())

    spark.createDataFrame(
        [("k", "a")] * 5 + [("k", "b")] * 2, schema
    ).coalesce(1).write.mode("append").parquet(d)
    run_foreach_batch(
        streaming_misra_gries(
            stream_parquet(spark, d, schema), "shard", "shard string", "term", m=8
        ),
        sink,
        output_mode="update",
        checkpoint_dir=ckpt,
    )
    spark.createDataFrame(
        [("k", "a")] * 3 + [("k", "c")] * 4, schema
    ).coalesce(1).write.mode("append").parquet(d)
    run_foreach_batch(
        streaming_misra_gries(
            stream_parquet(spark, d, schema), "shard", "shard string", "term", m=8
        ),
        sink,
        output_mode="update",
        checkpoint_dir=ckpt,
    )
    latest = max(r["version"] for r in emitted)
    assert latest >= 2, "second run did not resume from recovered state"
    got = {r["item"]: r["cnt"] for r in emitted if r["version"] == latest}
    assert got == {"a": 8, "b": 2, "c": 4}


def test_streaming_windowed_histogram_collapse_matches_batch(spark, tmp_path):
    """r10 streaming × windowed composition: per-day histogram sketches
    maintained as streaming state, with a day-1 STRAGGLER arriving in
    batch 2 (the case the composition exists for). Collapsing
    update-mode emissions by per-(day, key, bin) MAX must reproduce
    the batch sketch of the union at any micro-batch split — the
    identity streaming_sketch_quantiles_windowed's range-merge rests
    on."""
    from min_flink_spark.operators.pipeline import log_histogram_sketch

    schema = "day string, event_type string, vm bigint"
    b1 = spark.createDataFrame(
        [("d1", "click", 3), ("d1", "click", 700), ("d1", "view", 0)], schema
    )
    # d1 straggler rides batch 2 next to d2 rows — its day-1 sketch
    # must keep refining, not fork
    b2 = spark.createDataFrame(
        [("d1", "click", 5), ("d2", "click", 64), ("d2", "view", 1)], schema
    )
    src = str(tmp_path / "hist_two_batches")
    b1.coalesce(1).write.parquet(src + "/f=a")
    b2.coalesce(1).write.parquet(src + "/f=b")
    import glob as _glob

    flat = str(tmp_path / "hist_flat")
    os.makedirs(flat)
    for i, f in enumerate(
        sorted(_glob.glob(src + "/f=*/**/*.parquet", recursive=True))
    ):
        os.link(f, os.path.join(flat, f"{i:02d}.parquet"))

    s = stream_parquet(spark, flat, schema, max_files_per_trigger=1)
    emitted = run_to_completion(
        log_histogram_sketch(s, ["day", "event_type"], F.col("vm")),
        output_mode="update",
    )
    got = {
        (r["day"], r["event_type"], r["bin"]): r["cnt"]
        for r in emitted.groupBy("day", "event_type", "bin")
        .agg(F.max("cnt").alias("cnt"))
        .collect()
    }
    want = {
        (r["day"], r["event_type"], r["bin"]): r["cnt"]
        for r in log_histogram_sketch(
            b1.unionByName(b2), ["day", "event_type"], F.col("vm")
        ).collect()
    }
    assert got == want
