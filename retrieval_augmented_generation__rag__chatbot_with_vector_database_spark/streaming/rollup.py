"""Event-time windowed rollup with watermarked late-data handling
(Structured Streaming; the streaming twin of the batch query
``events_hourly``).

The reference is fully synchronous request/response — it has no
event-time processing (SURVEY.md §2k) — but a 100 TB event pipeline
needs the streaming form of its analytics: tumbling-window aggregates
that keep state only for windows the watermark has not yet closed,
merge late-but-in-watermark rows into their window, and drop rows
older than the allowed lateness.

Plan shape at scale: one shuffle on (window, event_type) into the
stateful aggregation; state size is bounded by
(#open windows × #event types), independent of input volume; the
parquet sink appends one immutable file set per finalized window —
no compaction rewrites. Exact distinct-users is deliberately
``approx_count_distinct`` here: exact streaming distinct would keep
per-user state per open window (HyperLogLog keeps a constant-size
sketch); the batch twin reports the exact number for the oracle.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.drive import (
    start,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery

DEFAULT_WATERMARK = "2 hours"

#: the event parquet drops every event stream reads (rollups,
#: sessions, the attribution join)
EVENT_FILE_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)


def hourly_rollup(events: DataFrame, watermark: str | None = None) -> DataFrame:
    """Tumbling 1-hour rollup of ``(ts, event_type, user_id, value)``.

    Works on a batch OR streaming DataFrame: pass ``watermark`` for the
    streaming form (required for append-mode emission + state expiry).
    Columns mirror the ``events_hourly`` batch query, with
    ``n_users_approx`` in place of the exact distinct count (see module
    docstring).
    """
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w").getField("start").alias("hour"),
            "event_type",
            "n_events",
            "n_users_approx",
            "total_value",
        )
    )


def start_hourly_rollup_stream(
    spark,
    landing_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    watermark: str = DEFAULT_WATERMARK,
) -> "StreamingQuery":
    """File-source stream of event parquet drops → watermarked hourly
    rollup → append-mode parquet sink (``streaming.drive.start``).

    Append mode emits a (window, event_type) row exactly once, when the
    watermark passes the window end — so the sink is immutable and
    replay-safe (checkpoint restores the watermark across restarts).
    """
    src = spark.readStream.schema(EVENT_FILE_SCHEMA).parquet(landing_dir)
    return start(hourly_rollup(src, watermark), checkpoint_dir, sink_dir=sink_dir)


def hourly_histogram(
    events: DataFrame,
    lo: float = 0.0,
    width: float = 10.0,
    n_bins: int = 50,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming-maintained quantile sketch: hourly fixed-bin
    (hour, bin, cnt) partials — the mergeable unit of
    ``operators.histogram`` (the batch twin is
    ``events_histogram_rollup``). Readers merge partials to any
    coarser grain and read percentiles off the merged cumulative
    counts at query time; the stream never recomputes history, it
    only appends closed hours. State per open window is ``n_bins``
    counters — constant, independent of event volume."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.histogram import (
        bin_index,
    )

    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(
            F.window("ts", "1 hour").alias("w"),
            bin_index("value", lo, width, n_bins).alias("bin"),
        )
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w").getField("start").alias("hour"), "bin", "cnt")
    )


def start_histogram_rollup_stream(
    spark,
    landing_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    lo: float = 0.0,
    width: float = 10.0,
    n_bins: int = 50,
    watermark: str = DEFAULT_WATERMARK,
) -> "StreamingQuery":
    """File-source stream → watermarked hourly histogram partials →
    append-mode parquet sink (each closed (hour, bin) emitted exactly
    once; late rows inside the watermark merge into open state)."""
    src = spark.readStream.schema(EVENT_FILE_SCHEMA).parquet(landing_dir)
    hist = hourly_histogram(src, lo, width, n_bins, watermark)
    return start(hist, checkpoint_dir, sink_dir=sink_dir)
