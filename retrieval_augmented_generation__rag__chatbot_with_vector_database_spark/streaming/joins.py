"""Native watermarked stream-stream join — the streaming twin of
``operators.temporal.range_join`` (time-banded attribution between two
LIVE event streams, e.g. purchases picking up the clicks that preceded
them within an hour).

Everything else in ``streaming/`` that joins uses ``foreachBatch``
over a batch operator (the right tool when one side is a persisted
table). This module is the genuinely two-stream case: Structured
Streaming's stateful symmetric hash join, where BOTH sides buffer rows
in state until the other side's matches can no longer arrive.

What bounds the state (the thing that makes this safe on an unbounded
stream):

- a watermark on EACH side, so the engine knows how late either input
  can be; and
- a time-INTERVAL join condition (``right_ts`` within ``[left_ts +
  lower_s, left_ts + upper_s]``), so the engine can derive, per side,
  the event-time horizon behind the other side's watermark after which
  buffered rows are provably unmatchable and evicted.

Without both, a stream-stream join's state grows forever — Spark
rejects outer joins outright and silently accumulates for inner ones.
This module always applies both.

Plan shape at scale: one shuffle of each stream on the join keys into
co-partitioned join state; state size ∝ key-rate × (watermark + band
width), independent of total stream history. Inner joins emit as rows
match; outer joins additionally emit the null-padded row once the
watermark closes the band (so results are delayed by design, not
lost).

Reference parity: none (the reference is request/response) — this is
part of the engine's §2k streaming-semantics extension surface.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.drive import (
    start,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.rollup import (
    EVENT_FILE_SCHEMA,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery


def stream_range_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower_s: float = -3600.0,
    upper_s: float = 0.0,
    watermark: str = "2 hours",
    join_type: str = "inner",
    suffix: str = "_r",
) -> DataFrame:
    """Join every left row to the right rows sharing ``on`` with
    ``right_ts`` in ``[left_ts + lower_s, left_ts + upper_s]``
    (seconds, inclusive — identical band semantics to the batch
    ``range_join``, so stream == batch row for row once all input is
    drained). Right's non-key columns are suffixed on clashes.

    ``join_type``: ``inner`` or ``leftOuter`` (outer emits unmatched
    left rows null-padded after the watermark closes their band).
    Works on batch DataFrames too (watermark is a no-op there) — the
    parity tests exploit that.
    """
    lo, hi = float(lower_s), float(upper_s)
    if lo > hi:
        raise ValueError(f"lower_s {lower_s} > upper_s {upper_s}")
    if join_type not in ("inner", "leftOuter"):
        raise ValueError(f"join_type must be inner|leftOuter, got {join_type!r}")

    rcols = [c for c in right.columns if c not in on]
    r2 = right.select(
        *on,
        *[
            F.col(c).alias(c if c not in left.columns else f"{c}{suffix}")
            for c in rcols
        ],
    )
    rts = right_ts if right_ts not in left.columns else f"{right_ts}{suffix}"

    lw = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rw = r2.withWatermark(rts, watermark) if r2.isStreaming else r2

    # interval condition phrased on the raw timestamp columns so the
    # streaming planner recognizes it as the state-eviction bound
    cond = [lw[k] == rw[k] for k in on] + [
        rw[rts] >= lw[left_ts] + F.expr(f"INTERVAL {lo} SECOND"),
        rw[rts] <= lw[left_ts] + F.expr(f"INTERVAL {hi} SECOND"),
    ]
    joined = lw.join(rw, cond, join_type)
    for k in on:
        joined = joined.drop(rw[k])
    return joined


def start_attribution_join_stream(
    spark,
    left_dir: str,
    right_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    on: list[str] = ("user_id",),
    lower_s: float = -3600.0,
    upper_s: float = 0.0,
    watermark: str = "2 hours",
    join_type: str = "inner",
) -> "StreamingQuery":
    """Two file-source event streams (parquet drops of
    ``EVENT_FILE_SCHEMA``) → watermarked stream-stream range join →
    append-mode parquet sink (``streaming.drive.start``); the
    checkpoint carries both watermarks and the join state across
    restarts, so a pair is emitted exactly once even if a batch
    replays."""
    lstream = spark.readStream.schema(EVENT_FILE_SCHEMA).parquet(left_dir)
    rstream = spark.readStream.schema(EVENT_FILE_SCHEMA).parquet(right_dir)
    joined = stream_range_join(
        lstream,
        rstream,
        on=list(on),
        lower_s=lower_s,
        upper_s=upper_s,
        watermark=watermark,
        join_type=join_type,
    )
    return start(joined, checkpoint_dir, sink_dir=sink_dir)
