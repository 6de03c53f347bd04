"""Per-key EVENT-time timers + state TTL — the reference's
``InternalTimerServiceImpl`` contract on Spark streaming.

The reference registers per-key event-time timers and fires them when
the watermark passes (``InternalTimerServiceImpl.java:169``
``registerEventTimeTimer``, firing loop at ``:206-216``); its trimmed
API never reaches them, so this is capability parity with the full
design, not just the executable trim.

The backend is ``applyInPandasWithState`` with
``GroupStateTimeout.EventTimeTimeout``. The wrapper appends a
``_timers array<bigint>`` field to the user's state and arms Spark's
single per-group timeout with ``min(timers)``; when the watermark passes
it, the group wakes with ``hasTimedOut`` and every due timer fires in
timestamp order — a faithful multi-timer service on the one-timeout
primitive. TTL is processing-time, tracked in a ``_atime bigint`` field
(StateTtlConfig analog).

Firing boundary (verified empirically, test_event_timers.py): a timer
at T fires once watermark > T, STRICTLY — Spark's EventTimeTimeout
wakes a group only when the watermark exceeds its timeout. The
reference pops on ``timer.getTimestamp() <= time``
(InternalTimerServiceImpl.java:206-216), i.e. fires at equality; for
Flink-exact at-T firing semantics register ``T - 1`` ms.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame

__all__ = [
    "EventTimeProcessFunction",
    "TimerContext",
    "process_keyed_event_time",
]


class TimerContext:
    """What a process/timer callback may do with time: read watermark /
    processing time, register and delete event-time timers. Timer
    mutations are collected and applied by the backend after the
    callback returns."""

    def __init__(self, watermark_ms: int, processing_time_ms: int, timers: set[int]):
        self._wm = watermark_ms
        self._pt = processing_time_ms
        self._timers = timers

    def watermark_ms(self) -> int:
        """Current event-time watermark (epoch ms; <=0 before the first
        one). A timer at T fires once the watermark reaches T."""
        return self._wm

    def processing_time_ms(self) -> int:
        return self._pt

    def register_timer(self, ts_ms: int) -> None:
        self._timers.add(int(ts_ms))

    def delete_timer(self, ts_ms: int) -> None:
        self._timers.discard(int(ts_ms))

    def timers(self) -> list[int]:
        return sorted(self._timers)


class EventTimeProcessFunction:
    """Subclass and override — the event-time sibling of
    ``KeyedProcessFunction``. Rows arrive as one pandas DataFrame per
    key per batch; ``state`` is a tuple matching ``state_schema`` (None
    when absent); ``ctx`` registers watermark-fired timers.

    ``ttl_ms``: state untouched for that long (processing time) reads
    as absent — the reference's StateTtlConfig analog. None disables.
    """

    #: Spark DDL schema strings (user fields only; the backend appends
    #: bookkeeping fields internally)
    state_schema: str = ""
    output_schema: str = ""
    ttl_ms: int | None = None

    def process_element(
        self, key: tuple, rows: pd.DataFrame, state: tuple | None, ctx: TimerContext
    ) -> tuple[pd.DataFrame | None, tuple | None]:
        """Return (output rows or None, new state or None-to-clear)."""
        raise NotImplementedError

    def on_timer(
        self, key: tuple, state: tuple | None, ctx: TimerContext, expiry_ms: int
    ) -> tuple[pd.DataFrame | None, tuple | None]:
        """The watermark passed ``expiry_ms`` for this key."""
        return None, None


def _n_user_fields(fn: EventTimeProcessFunction) -> int:
    # count TOP-LEVEL commas only: types like decimal(10,2) or
    # map<string,bigint> contain commas that must not split fields
    s = fn.state_schema.strip()
    if not s:
        return 0
    depth, n = 0, 1
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            n += 1
    return n


def process_keyed_event_time(
    df: DataFrame,
    keys: list[str],
    fn: EventTimeProcessFunction,
    output_mode: str = "update",
) -> DataFrame:
    """Wire an EventTimeProcessFunction into a streaming grouped plan.
    Requires a watermark upstream (``operators.windows.with_watermark``)
    — without one the timers never fire."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n_user = _n_user_fields(fn)
    state_schema = fn.state_schema.strip()
    full_schema = (state_schema + ", " if state_schema else "") + (
        "_timers array<bigint>, _atime bigint, _present boolean"
    )

    def _split(raw: tuple | None, now_ms: int):
        """(user_state, timers) honoring TTL."""
        if raw is None:
            return None, set()
        user = tuple(raw[:n_user])
        timers = set(raw[n_user] or [])
        atime = raw[n_user + 1]
        # explicit presence flag: a legitimately stored all-None user
        # tuple must read back as PRESENT (Flink ValueState distinguishes
        # update(null) from clear()); only _present=False means absent
        if not raw[n_user + 2]:
            user = None
        if (
            user is not None
            and fn.ttl_ms is not None
            and atime is not None
            and now_ms - atime > fn.ttl_ms
        ):
            user = None  # expired: visible as absent, like StateTtlConfig
        return user, timers

    def _store(
        state: GroupState,
        user: tuple | None,
        timers: set[int],
        now_ms: int,
        wm_ms: int,
    ):
        if user is None and not timers:
            if state.exists:
                state.remove()
            return
        user_part = tuple(user) if user is not None else (None,) * n_user
        state.update(user_part + (sorted(timers), now_ms, user is not None))
        if timers:
            # one engine timeout arms the earliest timer; later ones
            # re-arm as earlier ones fire. Spark REJECTS a timeout at or
            # below the current watermark, but a pending timer can
            # legitimately sit there (late rows arrived for this key
            # after other keys advanced the watermark past its timer) —
            # clamp to wm+1 so the group wakes on the next watermark
            # advance and the due timer fires then, matching the
            # reference's "fire on next watermark" for late timers
            # (InternalTimerServiceImpl.java:206-216).
            state.setTimeoutTimestamp(max(min(timers), wm_ms + 1))

    def _handle(key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        raw = tuple(state.get) if state.exists else None
        wm = state.getCurrentWatermarkMs()
        now = state.getCurrentProcessingTimeMs()
        user, timers = _split(raw, now)

        if state.hasTimedOut:
            # fire EVERY due timer in timestamp order; strict < matches
            # the engine's own wake-up condition (watermark > timeout),
            # so a timer the engine wouldn't wake for alone never
            # piggybacks on another's firing
            due = sorted(t for t in timers if t < wm)
            timers -= set(due)
            for t in due:
                ctx = TimerContext(wm, now, timers)
                out, user = fn.on_timer(key, user, ctx, t)
                timers = ctx._timers
                if out is not None and len(out):
                    yield out
            _store(state, user, timers, now, wm)
            return

        chunks = [p for p in pdf_iter if len(p)]
        if chunks:
            merged = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            ctx = TimerContext(wm, now, timers)
            out, user = fn.process_element(key, merged, user, ctx)
            timers = ctx._timers
            if out is not None and len(out):
                yield out
        _store(state, user, timers, now, wm)

    return df.groupBy(*keys).applyInPandasWithState(
        _handle,
        outputStructType=fn.output_schema,
        stateStructType=full_schema,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
