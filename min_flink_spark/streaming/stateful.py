"""Keyed stateful processing — the reference's hardest-to-map feature.

The reference's contract (SURVEY §2.8): per-key ``ValueState`` (the only
state kind, ``FC/api/common/state/KeyedStateStore.java:74``), a
continuously-emitting keyed reduce (``StreamGroupedReduce.java:11-54``),
and a vestigial ``KeyedProcessFunction`` (``FSJ/api/functions/
KeyedProcessFunction.java`` — processElement + onTimer, never wired to
the API). Spark-side this is ``applyInPandasWithState``: per-key
GroupState + processing-time timeouts, Arrow-batched.

``KeyedProcessFunction`` here is the user-facing class; ``process_keyed``
wires it into a streaming plan. State is a single Row matching
``state_schema`` (= ValueState semantics); ``on_timeout`` ≈ the
reference's timer callback (processing-time only — exactly the trim's
capability, ``StreamSourceContexts.java:41-47``).

The continuous keyed reduce (``RunningReduceFunction``) keeps its state
the way the reference's heap backend does — key group → key → value
(``NestedMapsStateTable``, ``KeyGroupRangeAssignment.java:48-120``):
one ``applyInPandasWithState`` group per key group
``pmod(xxhash64(key), KEY_GROUPS)``, whose state row holds the group's
sorted ``keys`` and their running ``accs``, packed as binary. One
Python call per key group and micro-batch replaces one per key, whose
per-group framework cost dominated small micro-batches. ``KEY_GROUPS``
is a module constant, never session conf: state-store keys are the
group ids, so a checkpointed query must map every key to the same
group after a restart (the role of Flink's ``maxParallelism``). A
running-reduce checkpoint written with the earlier one-row-per-key
layout cannot be resumed: Spark's state-schema check rejects its value
schema at query start (``STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE``)
rather than misreading it.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: Key groups of the continuous keyed reduce — the unit its state is
#: stored and checkpointed in. Changing it re-maps keys to groups, so a
#: query checkpointed under one value cannot resume under another.
#: Measured on 1,000 Zipf keys at 2,000 events/s (4-core host): event
#: latency is flat from 8 to 64 groups and rises at 128.
KEY_GROUPS = 32


class KeyedProcessFunction:
    """Subclass and override. Rows arrive as pandas DataFrames per key;
    ``state`` is a tuple (or None on first call) matching state_schema."""

    #: Spark DDL schema strings
    state_schema: str = ""
    output_schema: str = ""
    #: When True, all Arrow chunks of a key's batch are concatenated
    #: before process_element — REQUIRED for order-sensitive logic
    #: (chunks arrive in shuffle order, split at
    #: spark.sql.execution.arrow.maxRecordsPerBatch; sorting within a
    #: chunk is not sorting within the batch). Costs one key-group in
    #: memory, same bound as applyInPandas.
    needs_full_group: bool = False

    def process_element(
        self, key: tuple, rows: pd.DataFrame, state: tuple | None
    ) -> tuple[pd.DataFrame | None, tuple | None]:
        """Return (output rows or None, new state or None-to-clear)."""
        raise NotImplementedError

    def on_timeout(self, key: tuple, state: tuple | None) -> tuple[pd.DataFrame | None, tuple | None]:
        return None, None


def process_keyed(
    df: DataFrame,
    keys: list[str],
    fn: KeyedProcessFunction,
    output_mode: str = "update",
    timeout_ms: int | None = None,
) -> DataFrame:
    """Wire a KeyedProcessFunction into a (streaming) grouped plan.

    One shuffle on the key; state lives in the executor-side state store
    partitioned identically, so a key's records and state are always
    co-located — the same layout the reference builds with key-group
    hash partitioning (KeyGroupStreamPartitioner.java:32-56).

    A ``RunningReduceFunction`` runs instead once per key group and
    micro-batch: its rows shuffle on ``pmod(xxhash64(key), KEY_GROUPS)``
    and its state is one row per key group (module docstring). Its
    state never times out, so ``timeout_ms`` must stay None.

    Partition-count note: the stateful shuffle width is fixed at the
    query's FIRST run (state stores cannot re-partition); each partition
    costs a state-store instance + an Arrow/Python round-trip per batch.
    Wrap query start in ``runner.shuffle_partitions(spark, n)`` to size
    it to key volume rather than the batch default."""
    if isinstance(fn, RunningReduceFunction):
        if timeout_ms is not None:
            raise ValueError("the running reduce keeps its state forever: no timeout_ms")
        return _process_key_groups(df, keys, fn, output_mode)

    def _handle(key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        current: tuple | None = tuple(state.get) if state.exists else None
        if state.hasTimedOut:
            out, new_state = fn.on_timeout(key, current)
            if new_state is None:
                state.remove()
            else:
                state.update(new_state)
                if timeout_ms is not None:
                    state.setTimeoutDuration(timeout_ms)
            if out is not None and len(out):
                yield out
            return
        if fn.needs_full_group:
            chunks = [p for p in pdf_iter if len(p)]
            if chunks:
                merged = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
                out, current = fn.process_element(key, merged, current)
                if out is not None and len(out):
                    yield out
        else:
            for pdf in pdf_iter:
                out, current = fn.process_element(key, pdf, current)
                if out is not None and len(out):
                    yield out
        if current is None:
            if state.exists:
                state.remove()
        else:
            state.update(current)
            # A live timeout keeps the micro-batch engine scheduling
            # batches until it fires — register one only while state
            # exists, or an AvailableNow run never terminates.
            if timeout_ms is not None:
                state.setTimeoutDuration(timeout_ms)

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(*keys).applyInPandasWithState(
        _handle,
        outputStructType=fn.output_schema,
        stateStructType=fn.state_schema,
        outputMode=output_mode,
        timeoutConf=timeout_conf,
    )


def _process_key_groups(
    df: DataFrame, keys: list[str], fn: RunningReduceFunction, output_mode: str
) -> DataFrame:
    """One ``applyInPandasWithState`` group per key group; see
    ``RunningReduceFunction.reduce_group`` for the per-group kernel."""
    if list(keys) != [fn.key_col]:
        raise ValueError(f"the running reduce is keyed by {fn.key_col!r}, not {keys!r}")

    def _handle(_group: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        chunks = [p for p in pdf_iter if len(p)]
        if chunks:
            rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            out, new_state = fn.reduce_group(rows, state.get if state.exists else None)
            state.update(new_state)
            yield out

    key_group = F.pmod(F.xxhash64(fn.key_col), F.lit(KEY_GROUPS))
    return df.withColumn("_key_group", key_group).groupBy("_key_group").applyInPandasWithState(
        _handle,
        outputStructType=fn.output_schema,
        stateStructType=fn.state_schema,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_ACCUMULATE = {"sum": np.add, "min": np.minimum, "max": np.maximum}


class RunningReduceFunction(KeyedProcessFunction):
    """The reference's continuous keyed reduce, exactly: per input
    record, state ← reduce(state, value) and the updated partial is
    emitted (StreamGroupedReduce.java:35-53; first record emitted
    as-is). Order within a batch = ``order_col``. ``process_keyed``
    runs it once per key group (``reduce_group``), not once per key.
    """

    def __init__(
        self,
        key_col: str,
        order_col: str,
        value_col: str,
        op: str = "sum",
        value_type: str = "double",
    ):
        if op not in _ACCUMULATE:
            raise ValueError(f"unsupported running-reduce op: {op!r}")
        self.key_col, self.order_col, self.value_col, self.op = key_col, order_col, value_col, op
        # bigint values → exact int64 state: a running DOUBLE sum is
        # accumulation-order-dependent and can't be replayed bit-exactly
        # by another engine; fixed-point callers pre-scale to ints
        self.value_type = value_type
        # a key group's sorted keys and accs as packed little-endian
        # int64/float64: array<...> state would recompile its encoder on
        # every micro-batch (each array gets a fresh lambda variable id,
        # so Spark's codegen cache never hits), binary compiles once
        self.state_schema = "keys binary, accs binary"
        self.output_schema = (
            f"{key_col} bigint, {order_col} bigint, "
            f"{value_col} {value_type}, running {value_type}"
        )

    def reduce_group(
        self, rows: pd.DataFrame, state: tuple | None
    ) -> tuple[pd.DataFrame, tuple[bytes, bytes]]:
        """One key group's micro-batch: sort by (key, ``order_col``), run
        the reduce over each key's segment seeded with its state, and
        write every touched key's last partial back. ``state`` is the
        group's packed (sorted keys, accs) or None."""
        np_type = "<i8" if self.value_type == "bigint" else "<f8"
        k = rows[self.key_col].to_numpy(dtype="<i8")
        o = rows[self.order_col].to_numpy()
        idx = np.lexsort((o, k))
        k, o = k[idx], o[idx]
        v = rows[self.value_col].to_numpy(dtype=np_type)[idx]
        starts = np.flatnonzero(np.r_[True, k[1:] != k[:-1]])
        ends = np.r_[starts[1:], len(k)]
        touched = k[starts]

        old_keys = np.frombuffer(state[0] if state else b"", dtype="<i8")
        old_accs = np.frombuffer(state[1] if state else b"", dtype=np_type)
        pos = np.searchsorted(old_keys, touched)
        seeded = pos < len(old_keys)
        seeded[seeded] = old_keys[pos[seeded]] == touched[seeded]

        # per key: the batch's running aggregate, then combined with the
        # seed, so a DOUBLE partial depends only on the key's own records,
        # never on which other keys share its group
        acc = _ACCUMULATE[self.op]
        running = np.empty_like(v)
        for s, e, has, p in zip(starts, ends, seeded, pos):
            seg = acc.accumulate(v[s:e])
            running[s:e] = acc(seg, old_accs[p]) if has else seg

        new_keys = np.union1d(old_keys, touched)
        new_accs = np.empty(len(new_keys), dtype=np_type)
        new_accs[np.searchsorted(new_keys, old_keys)] = old_accs
        new_accs[np.searchsorted(new_keys, touched)] = running[ends - 1]
        out = pd.DataFrame(
            {self.key_col: k, self.order_col: o, self.value_col: v, "running": running}
        )
        return out, (new_keys.tobytes(), new_accs.tobytes())
