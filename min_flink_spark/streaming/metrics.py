"""Streaming metrics — the reference's per-operator counter surface
(numRecordsIn/Out, throughput; ``FC/api/common/accumulators/`` is the
user-facing half) mapped onto Spark's two native channels:

- batch / per-query named metrics: ``DataFrame.observe`` (exposed as
  ``Stream.observe``, core/stream.py) — collected with the job, no
  extra pass;
- per-micro-batch runtime telemetry: the ``StreamingQueryListener``
  bus, recorded here. Every progress event carries input row counts,
  processing rates, per-stateful-operator state rows/memory, and
  watermark position — the same signals the reference's task metrics
  expose, already aggregated per trigger.

``MetricsRecorder`` is intentionally a dumb sink (append-only list,
listener-bus thread writes, reader copies): dashboards at scale attach
their own listener to ship these to a metrics backend; tests and
examples read them in-process.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class MetricsRecorder(StreamingQueryListener):
    """Records every query-progress event as a plain dict."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    # listener-bus callbacks -------------------------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # reader helpers ----------------------------------------------------------
    def total_input_rows(self) -> int:
        return sum(int(p.get("numInputRows", 0)) for p in self.progress)

    def state_rows(self) -> int:
        """Total state-store rows across operators in the LAST progress
        that reported any (state sizing is the 100 TB streaming memory
        signal). Each operator counts its own state rows: the continuous
        keyed reduce (``RunningReduceFunction``) keeps one row per key
        group, not per key (``stateful.KEY_GROUPS``)."""
        for p in reversed(self.progress):
            ops = p.get("stateOperators") or []
            if ops:
                return sum(int(o.get("numRowsTotal", 0)) for o in ops)
        return 0

    def rows_dropped_late(self) -> int:
        """Input rows the stateful operators dropped as behind the
        watermark, summed over every recorded progress event."""
        return sum(
            int(o.get("numRowsDroppedByWatermark", 0))
            for p in self.progress
            for o in p.get("stateOperators") or []
        )


def record_metrics(spark: SparkSession) -> MetricsRecorder:
    """Attach a fresh recorder to the session's listener bus. Pair with
    ``stop_recording`` — listeners outlive queries."""
    rec = MetricsRecorder()
    spark.streams.addListener(rec)
    return rec


def stop_recording(spark: SparkSession, rec: MetricsRecorder) -> None:
    spark.streams.removeListener(rec)
