"""Event-time timer service tests (streaming/event_timers.py):
watermark-driven firing, the strict-> boundary, multi-timer ordering
and TTL."""

import os
import tempfile

import pandas as pd
from pyspark.sql import functions as F

from min_flink_spark.streaming.event_timers import (
    EventTimeProcessFunction,
    process_keyed_event_time,
)
from min_flink_spark.streaming.runner import (
    run_until,
    shuffle_partitions,
    stream_parquet,
)


def _stream_rows(spark, rows, schema):
    d = os.path.join(tempfile.mkdtemp(prefix="et_test_"), "in")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
    return stream_parquet(spark, d, schema)


class _OneTimer(EventTimeProcessFunction):
    """Registers one timer at first_ts + offset_ms; emits on fire."""

    state_schema = "t0 bigint"
    output_schema = "k bigint, fired_at bigint, wm bigint"

    def __init__(self, offset_ms):
        self.offset_ms = offset_ms

    def process_element(self, key, rows, state, ctx):
        t0 = int(rows["ts"].astype("datetime64[ms]").astype("int64").min())
        if state is None:
            ctx.register_timer(t0 + self.offset_ms)
        return None, (t0,)

    def on_timer(self, key, state, ctx, expiry_ms):
        out = pd.DataFrame(
            {"k": [key[0]], "fired_at": [expiry_ms], "wm": [ctx.watermark_ms()]}
        )
        return out, None


def _drive(spark, stream_df, fn, expected, timeout_sec=60):
    got = []

    def sink(bdf, _):
        got.extend([tuple(r) for r in bdf.collect()])

    with shuffle_partitions(spark, 4):
        run_until(
            process_keyed_event_time(stream_df, ["k"], fn),
            sink,
            lambda: len(got) >= expected,
            timeout_sec=timeout_sec,
        )
    return got


def test_watermark_fires_timer_strictly_after(spark):
    """Boundary property: a timer at exactly the final watermark does
    NOT fire (Spark wakes only when wm > timeout); one ms earlier does.
    Final watermark = 11:00:01 − 1 s delay = 11:00:00."""
    schema = "k bigint, ts timestamp"
    rows = [
        (1, "2024-01-01 10:00:00"),
        (2, "2024-01-01 10:00:00"),
        (99, "2024-01-01 11:00:01"),  # watermark driver
    ]
    rows = [(k, __import__("datetime").datetime.fromisoformat(t)) for k, t in rows]

    s = _stream_rows(spark, rows, schema).withWatermark("ts", "1 second")
    # timers at t0 + 1h  == 11:00:00 == final watermark → must NOT fire
    got = _drive(spark, s, _OneTimer(3_600_000), expected=1, timeout_sec=20)
    assert got == []

    s = _stream_rows(spark, rows, schema).withWatermark("ts", "1 second")
    # timers at t0 + 1h − 1ms < watermark → both fire
    got = _drive(spark, s, _OneTimer(3_600_000 - 1), expected=2, timeout_sec=45)
    fired = {g[0] for g in got}
    assert fired == {1, 2}
    for _k, fired_at, wm in got:
        assert fired_at < wm  # strict firing contract


class _MultiTimer(EventTimeProcessFunction):
    """Two timers per key; fires must arrive in timestamp order and may
    re-register from inside on_timer."""

    state_schema = "n_fired bigint"
    output_schema = "k bigint, seq bigint, fired_at bigint"

    def process_element(self, key, rows, state, ctx):
        t0 = int(rows["ts"].astype("datetime64[ms]").astype("int64").min())
        if state is None:
            ctx.register_timer(t0 + 1000)
            ctx.register_timer(t0 + 2000)
        return None, (0,)

    def on_timer(self, key, state, ctx, expiry_ms):
        n = state[0] + 1
        out = pd.DataFrame({"k": [key[0]], "seq": [n], "fired_at": [expiry_ms]})
        return out, (n,)


def test_multiple_timers_fire_in_timestamp_order(spark):
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 0, 0)),
        (99, dt.datetime(2024, 1, 1, 12, 0, 0)),
    ]
    s = _stream_rows(spark, rows, "k bigint, ts timestamp").withWatermark("ts", "1 second")
    got = _drive(spark, s, _MultiTimer(), expected=2, timeout_sec=45)
    mine = sorted(g for g in got if g[0] == 1)
    assert [g[1] for g in mine] == [1, 2]
    assert mine[0][2] < mine[1][2]  # fired in timestamp order


class _TtlProbe(EventTimeProcessFunction):
    """State written in batch 1 must read as ABSENT after ttl_ms of
    processing time (StateTtlConfig analog)."""

    state_schema = "marker bigint"
    output_schema = "k bigint, had_state boolean"
    ttl_ms = 1  # expire immediately: any later batch sees None

    def process_element(self, key, rows, state, ctx):
        out = pd.DataFrame({"k": [key[0]], "had_state": [state is not None]})
        return out, (1,)


def test_value_state_ttl_expires(spark, tmp_path):
    """Two bounded runs against one checkpoint: run 2 replays the same
    key after > ttl_ms of wall time → state must read as absent."""
    import datetime as dt

    from min_flink_spark.streaming.runner import run_foreach_batch

    ckpt = str(tmp_path / "ckpt")
    d = os.path.join(tempfile.mkdtemp(prefix="et_ttl_"), "in")
    got = []

    def sink(bdf, _):
        got.extend([tuple(r) for r in bdf.collect()])

    for batch, ts in [(1, dt.datetime(2024, 1, 1, 10, 0, 0)),
                      (2, dt.datetime(2024, 1, 1, 11, 0, 0))]:
        spark.createDataFrame([(7, ts)], "k bigint, ts timestamp").coalesce(
            1
        ).write.mode("append").parquet(d)
        s = stream_parquet(spark, d, "k bigint, ts timestamp").withWatermark(
            "ts", "1 second"
        )
        with shuffle_partitions(spark, 2):
            run_foreach_batch(
                process_keyed_event_time(s, ["k"], _TtlProbe()),
                sink,
                checkpoint_dir=ckpt,
            )

    assert [g[1] for g in got] == [False, False]  # expired between runs


def test_event_timer_survives_checkpoint_restart(spark, tmp_path):
    """A timer registered in run 1 (watermark not yet past it) must fire
    in run 2 after a full stop/restart from the checkpoint, once a new
    event advances the watermark — the reference's timers are restored
    from state snapshots the same way
    (InternalTimerServiceImpl.java restore path)."""
    import datetime as dt
    import os

    from min_flink_spark.streaming.runner import (
        run_foreach_batch,
        shuffle_partitions,
        stream_parquet,
    )

    d = os.path.join(tempfile.mkdtemp(prefix="et_restart_"), "in")
    ckpt = str(tmp_path / "ckpt")
    got = []

    def sink(bdf, _):
        got.extend([tuple(r) for r in bdf.collect()])

    def run(rows):
        spark.createDataFrame(rows, "k bigint, ts timestamp").coalesce(
            1
        ).write.mode("append").parquet(d)
        s = stream_parquet(spark, d, "k bigint, ts timestamp").withWatermark(
            "ts", "1 second"
        )
        with shuffle_partitions(spark, 2):
            run_foreach_batch(
                process_keyed_event_time(s, ["k"], _OneTimer(60_000)),
                sink,
                checkpoint_dir=ckpt,
                timeout_sec=60,
            )

    # run 1: key 1 at 10:00, timer armed for 10:01; watermark ends ~10:00
    run([(1, dt.datetime(2024, 1, 1, 10, 0, 0))])
    assert got == []  # not fired yet

    # run 2 (fresh query from checkpoint): late driver event pushes the
    # watermark past 10:01 → the RESTORED timer fires
    run([(99, dt.datetime(2024, 1, 1, 10, 5, 0))])
    assert [g[0] for g in got] == [1]


def test_late_rows_after_watermark_passed_timer(spark):
    """Regression: a key receiving DATA in a later batch while its
    armed timer already sits below the watermark must not crash the
    query (Spark rejects setTimeoutTimestamp <= watermark; the backend
    clamps to wm+1 so the timer fires on the next watermark advance)."""
    import datetime as dt

    schema = "k bigint, ts timestamp"
    d = os.path.join(tempfile.mkdtemp(prefix="et_late_"), "in")
    # batch 1: k=1 arms timer at 10:00:10; k=99 pushes watermark to ~10:59:59
    spark.createDataFrame(
        [
            (1, dt.datetime.fromisoformat("2024-01-01 10:00:00")),
            (99, dt.datetime.fromisoformat("2024-01-01 11:00:00")),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(d)
    # batch 2: NEW data for k=1 — its pending 10:00:10 timer is now far
    # below the watermark; also advances the watermark further
    spark.createDataFrame(
        [(1, dt.datetime.fromisoformat("2024-01-01 11:30:00"))], schema
    ).coalesce(1).write.mode("append").parquet(d)

    s = stream_parquet(spark, d, schema, max_files_per_trigger=1).withWatermark(
        "ts", "1 second"
    )
    got = _drive(spark, s, _OneTimer(10_000), expected=2, timeout_sec=60)
    fired = {g[0] for g in got}
    assert 1 in fired  # the late-data key's timer fired instead of crashing
