"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2k: the escape hatch for semantics ``session_window`` /
``dropDuplicates`` can't express).

Operator: per-user RUNNING PROFILE — event count, value sum, first/last
event time — maintained across micro-batches and emitted on every
update (Update mode). This is the online twin of the batch
``groupBy(user).agg(...)`` profile: after draining any prefix of the
stream, the emitted latest row per user must equal the batch aggregate
over the same prefix (tested in tests/test_streaming.py).

Why applyInPandasWithState and not a windowed agg: the state here is
unbounded-lifetime per key (a user profile, not a time window), the
update function is arbitrary Python over the batch's rows, and the
emission contract (one row per updated key per batch) is custom.
Arrow-batched: each micro-batch groups by user and hands the kernel
pandas DataFrames — no row-at-a-time Python.

Scale notes: state is one small tuple per user — key-partitioned,
RocksDB-backed on a real cluster; the shuffle per micro-batch is on
``user_id`` only. A watermark + ``GroupStateTimeout`` would bound state
for keys that go quiet (demonstrated with EventTimeTimeout: quiet
users' state is finalized and dropped).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.drive import (
    start,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery

EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"
STATE_SCHEMA = "n_events long, total_value double, first_ts timestamp, last_ts timestamp"
OUT_SCHEMA = (
    "user_id long, n_events long, total_value double, "
    "first_ts timestamp, last_ts timestamp, finalized boolean"
)


def _update_profile(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Merge this batch's rows for one user into the running state.

    Emits the updated profile row; on event-time timeout (user quiet
    past the watermark) emits the profile once more with
    ``finalized=True`` and drops the state — the bounded-state story.
    """
    (user_id,) = key
    if state.hasTimedOut:
        n, total, first_ts, last_ts = state.get
        state.remove()
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "n_events": n,
                    "total_value": total,
                    "first_ts": first_ts,
                    "last_ts": last_ts,
                    "finalized": True,
                }
            ]
        )
        return

    n, total = 0, 0.0
    first_ts, last_ts = None, None
    if state.exists:
        n, total, first_ts, last_ts = state.get
    for pdf in pdfs:
        if pdf.empty:
            continue
        n += len(pdf)
        total += float(pdf["value"].sum())
        lo, hi = pdf["ts"].min().to_pydatetime(), pdf["ts"].max().to_pydatetime()
        first_ts = lo if first_ts is None else min(first_ts, lo)
        last_ts = hi if last_ts is None else max(last_ts, hi)
    state.update((n, total, first_ts, last_ts))
    # keep state until the watermark passes 1h beyond the user's last
    # event — then the timeout branch finalizes and drops it. The
    # timestamp must sit above the current watermark or Spark rejects
    # it (a user whose last event is already behind the watermark
    # times out at the next opportunity instead).
    target = int(pd.Timestamp(last_ts).value // 1_000_000) + 3_600_000
    state.setTimeoutTimestamp(max(target, state.getCurrentWatermarkMs() + 60_000))
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "n_events": n,
                "total_value": total,
                "first_ts": first_ts,
                "last_ts": last_ts,
                "finalized": False,
            }
        ]
    )


def running_user_profiles(
    stream: DataFrame, watermark: str = "48 hours"
) -> DataFrame:
    """Wire the stateful kernel onto an event stream (columns per
    ``EVENT_SCHEMA``)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_profile,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            # append (not update) so the file sink accepts the query:
            # the emitted rows form an append-only UPDATE LOG; the
            # current profile is the latest row per user
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def start_profile_stream(
    spark: SparkSession,
    landing_glob: str,
    sink_dir: str,
    checkpoint_dir: str,
    watermark: str = "48 hours",
) -> "StreamingQuery":
    """File drops of events in → per-user running profiles out
    (append-only log of profile updates; latest row per user is the
    current profile)."""
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(landing_glob)
    out = running_user_profiles(stream, watermark)
    return start(out, checkpoint_dir, sink_dir=sink_dir)
