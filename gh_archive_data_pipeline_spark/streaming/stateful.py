"""Arbitrary stateful streaming (SURVEY.md §2.11 T8):
applyInPandasWithState-backed operators for semantics the built-in stateful
ops can't express.

running_user_stats: per-key running count/sum/max maintained across
micro-batches with an idle-timeout that finalizes and evicts state — the
canonical custom-stateful shape (counters, anomaly baselines, rate limits).
State per key is a constant-size tuple, so total state is O(|active keys|),
bounded by the eviction timeout at any stream length.

Timeouts are EVENT-time (watermark-driven), not processing-time:
- deterministic — eviction depends on the data's own clock, so a replayed
  stream finalizes identically (processing-time timers make task retries
  emit different output);
- drain-safe — with ProcessingTimeTimeout an ``availableNow`` drain never
  terminates: after the source is exhausted Spark keeps scheduling empty
  micro-batches waiting for wall-clock timers (measured: 500 batches and
  counting on a 6-row fixture). Event-time timers can only fire when the
  watermark moves, i.e. when data arrives, so a drained query stops.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = ("user_id bigint, n_events bigint, total_value double, "
                 "max_value double, finalized boolean")
STATE_SCHEMA = "n bigint, total double, mx double"

_IDLE_EVICT_MS = 30 * 60 * 1000  # finalize a key idle for 30 event-time min


def _update_user_stats(key: tuple, batches: Iterator[pd.DataFrame],
                       state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        n, total, mx = state.get
        state.remove()
        yield pd.DataFrame([{
            "user_id": user_id, "n_events": n, "total_value": total,
            "max_value": mx, "finalized": True,
        }])
        return
    n, total, mx = state.get if state.exists else (0, 0.0, float("-inf"))
    max_event_ms = 0
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
        mx = max(mx, float(pdf["value"].max()))
        max_event_ms = max(max_event_ms,
                           int(pdf["ts"].max().value // 1_000_000))
    state.update((n, total, mx))
    # Evict when the watermark passes last-seen-event + idle gap.
    state.setTimeoutTimestamp(max_event_ms + _IDLE_EVICT_MS)
    yield pd.DataFrame([{
        "user_id": user_id, "n_events": n, "total_value": total,
        "max_value": mx, "finalized": False,
    }])


def running_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator over a stream of (user_id, ts, value, ...).

    Emits a running (count, sum, max) row per key per micro-batch with
    ``finalized=False``; when the watermark (10 seconds behind ``ts``)
    passes a key's last event by 30 minutes the key is finalized
    (``finalized=True``) and its state evicted.
    """
    ts_type = dict(events.dtypes).get("ts")
    if ts_type == "timestamp_ntz":  # watermarks require TIMESTAMP
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", "10 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_stats,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
