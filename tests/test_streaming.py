"""Structured Streaming parity tests: update-mode reduce, stateful
per-record emission, watermark late-data handling."""

import os
import time

import pytest
from pyspark.sql import functions as F

from min_flink_spark.operators.windows import tumble, with_watermark
from min_flink_spark.streaming.metrics import record_metrics, stop_recording
from min_flink_spark.streaming.runner import (
    run_foreach_batch,
    run_to_completion,
    stream_parquet,
)
from min_flink_spark.streaming.stateful import RunningReduceFunction, process_keyed

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_stream"))
    spark.read.parquet(f"{sf_dir}/events.parquet").coalesce(1).write.mode(
        "overwrite"
    ).parquet(out)
    return out


def test_streaming_update_mode_sum_matches_batch(spark, sf_dir, events_stream_dir):
    s = stream_parquet(spark, events_stream_dir, EVENTS_SCHEMA)
    agg = s.groupBy("user_id").agg(F.sum("value").alias("total"))
    got = {
        r["user_id"]: r["total"]
        for r in run_to_completion(agg, output_mode="update").collect()
    }
    want = {
        r["user_id"]: r["total"]
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.sum("value").alias("total"))
        .collect()
    }
    assert got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) < 1e-6 for k in want)


def test_stateful_running_reduce_per_record_emission(spark, sf_dir, events_stream_dir):
    """The continuous keyed reduce (StreamGroupedReduce.java:35-53) on a
    real stream: one emission per input record, running partials match
    the batch window-cumsum oracle."""
    s = stream_parquet(spark, events_stream_dir, EVENTS_SCHEMA)
    fn = RunningReduceFunction("user_id", "event_id", "value", "sum")
    out = run_to_completion(
        process_keyed(s, ["user_id"], fn, output_mode="update"), output_mode="update"
    )
    got = {(r["user_id"], r["event_id"]): r["running"] for r in out.collect()}

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    from min_flink_spark.functions.aggregations import running_reduce_plan

    want = {
        (r["user_id"], r["event_id"]): r["running_sum_value"]
        for r in running_reduce_plan(
            batch, ["user_id"], "value", "sum", "event_id"
        ).collect()
    }
    assert len(got) == len(want)  # one emission per input record
    assert all(abs(got[k] - want[k]) < 1e-6 for k in want)


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg with watermark across two bounded runs
    sharing a checkpoint: the second run's input is far behind the
    persisted watermark and must be dropped (late-data semantics the
    reference defines but cannot execute, SURVEY §2.9)."""
    d = str(tmp_path / "late_stream")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(d, exist_ok=True)

    def pipeline():
        s = stream_parquet(spark, d, "id bigint, ts timestamp")
        return tumble(
            with_watermark(s, "ts", "10 minutes"),
            "ts",
            "15 minutes",
            None,
            F.count("*").alias("n"),
        )

    collected = []

    def sink(batch_df, _batch_id):
        collected.extend(batch_df.collect())

    on_time = spark.createDataFrame(
        [(i, f"2024-01-01 10:{m:02d}:00") for i, m in enumerate([0, 5, 20, 40])],
        "id bigint, ts_s string",
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
    on_time.coalesce(1).write.mode("append").parquet(d)
    run_foreach_batch(pipeline(), sink, output_mode="append", checkpoint_dir=ckpt)

    late = spark.createDataFrame(
        [(99, "2024-01-01 09:00:00")], "id bigint, ts_s string"
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
    late.coalesce(1).write.mode("append").parquet(d)
    rec = record_metrics(spark)
    try:
        run_foreach_batch(pipeline(), sink, output_mode="append", checkpoint_dir=ckpt)
        for _ in range(40):  # the listener bus is async
            if rec.rows_dropped_late():
                break
            time.sleep(0.25)
    finally:
        stop_recording(spark, rec)
    assert rec.rows_dropped_late() >= 1

    starts = {r["window_start"].strftime("%H:%M"): r["n"] for r in collected}
    # run 2 starts with watermark 10:30 (max 10:40 − 10min): the 09:00
    # event is late → its window never appears; closed windows emit
    assert "09:00" not in starts
    assert starts.get("10:00") == 2
    assert "10:30" not in starts  # still-open window not emitted in append mode


def test_running_reduce_spans_arrow_chunks(spark, tmp_path):
    """Regression: one key's rows split across multiple Arrow chunks
    (maxRecordsPerBatch) must still produce running sums in order_col
    order, not per-chunk order."""
    d = str(tmp_path / "chunk_stream")
    n = 500
    rows = [(0, i, float(i)) for i in range(n)]
    import random

    random.Random(7).shuffle(rows)  # physical order != event order
    spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, value double"
    ).coalesce(1).write.mode("append").parquet(d)

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        s = stream_parquet(
            spark, d, "user_id bigint, event_id bigint, value double"
        )
        fn = RunningReduceFunction("user_id", "event_id", "value", "sum")
        out = run_to_completion(
            process_keyed(s, ["user_id"], fn, output_mode="update"),
            output_mode="update",
        )
        got = {r["event_id"]: r["running"] for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert len(got) == n
    expect = 0.0
    for i in range(n):
        expect += float(i)
        assert got[i] == expect, f"running sum wrong at event {i}"


def test_late_data_side_output_routes_to_quarantine(spark, tmp_path):
    """sideOutputLateData parity (streaming/runner.late_data_router):
    a second batch's stale row lands in the late sink instead of being
    silently dropped; on-time rows pass through; batch 1 (no prior
    watermark) is never late."""
    from min_flink_spark.streaming.runner import (
        late_data_router,
        run_foreach_batch,
        stream_files,
    )

    d = str(tmp_path / "late_route")
    schema = "event_id bigint, ts timestamp, user_id bigint"
    b1 = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1), (2, "2024-01-01 12:00:00", 1)],
        "event_id bigint, ts string, user_id bigint",
    ).withColumn("ts", F.to_timestamp("ts"))
    b1.coalesce(1).write.mode("overwrite").parquet(d)

    on_time, late = [], []
    router = late_data_router(
        "ts", delay_ms=3_600_000,
        on_time_fn=lambda df, bid: on_time.extend(r.event_id for r in df.collect()),
        late_fn=lambda df, bid: late.extend(r.event_id for r in df.collect()),
    )
    ckpt = str(tmp_path / "late_route_ckpt")
    s = stream_files(spark, d, schema, "parquet", max_files_per_trigger=1)
    run_foreach_batch(s, router, output_mode="append", checkpoint_dir=ckpt)
    assert sorted(on_time) == [1, 2] and late == []

    # batch 2: one row >1h behind the watermark (12:00), one on time
    b2 = spark.createDataFrame(
        [(3, "2024-01-01 09:30:00", 1), (4, "2024-01-01 12:30:00", 1)],
        "event_id bigint, ts string, user_id bigint",
    ).withColumn("ts", F.to_timestamp("ts"))
    b2.coalesce(1).write.mode("append").parquet(d)
    run_foreach_batch(s, router, output_mode="append", checkpoint_dir=ckpt)
    assert late == [3] and sorted(on_time) == [1, 2, 4]


def test_late_data_router_frees_localcheckpoint_blocks(spark):
    """The per-batch localCheckpoint must not leak persisted blocks
    across batches (DataFrame.unpersist() is a no-op for them on this
    Spark — localCheckpoint persists outside the cacheManager); after
    the route the JVM persistent-RDD registry must be back to its
    pre-batch state."""
    from min_flink_spark.streaming.runner import (
        _persistent_rdd_ids,
        late_data_router,
    )

    jsc = spark.sparkContext._jsc.sc()
    before = _persistent_rdd_ids(jsc)
    router = late_data_router(
        "ts", delay_ms=1000,
        on_time_fn=lambda df, bid: df.count(),
        late_fn=lambda df, bid: df.count(),
    )
    bdf = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "event_id bigint, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    for bid in range(3):  # several batches: a leak would accumulate
        router(bdf, bid)
    assert _persistent_rdd_ids(jsc) == before
