"""Gap-based sessionization with Spark's built-in ``session_window``
(batch AND streaming forms of SURVEY.md §2k's "conversation state"
extension).

The reference keeps no server-side session state — the client resends
full history (``/root/reference/app/api/routes.py:48-52,244-248``) —
so sessionization is an engine extension, not parity. The batch twin
(`events_sessionized`) hand-rolls gap islands with lag + running sum;
THIS module is the Spark-first form: ``session_window`` is a native
Catalyst operator (merging session state, watermark-driven expiry),
so we declare the gap and let the engine manage state — no
``applyInPandasWithState`` hand-rolled state machine needed for plain
gap semantics.

Scale shape: one shuffle on the grouping key; streaming state is one
open session per (user, island) and is evicted the moment the
watermark passes ``last_event + gap``. Skewed users (bots) are the
classic hazard: cap them upstream with a per-user rate filter, or
sessionize per (user, day-bucket) salt and re-merge.
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

DEFAULT_GAP = "30 minutes"


def session_rollup(
    events: DataFrame, gap: str = DEFAULT_GAP, watermark: str | None = None
) -> DataFrame:
    """Per-user gap sessions over ``(ts, user_id, value)``.

    Works on a batch or streaming DataFrame (pass ``watermark`` for
    streaming append mode). ``session_end`` follows Spark's
    ``session_window`` contract: last event time + gap.
    """
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w").getField("start").alias("session_start"),
            F.col("w").getField("end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def start_session_stream(
    spark,
    landing_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    gap: str = DEFAULT_GAP,
    watermark: str = "2 hours",
) -> "StreamingQuery":
    """File-source stream of event parquet drops → session rollup →
    append-mode parquet sink. A session row is emitted exactly once,
    when the watermark passes its end (last event + gap); until then
    the open session lives in (checkpointed) state and absorbs any
    in-watermark events that extend it — including across stream
    restarts."""
    rolled = session_rollup(
        spark.readStream.schema(EVENT_FILE_SCHEMA).parquet(landing_dir),
        gap=gap,
        watermark=watermark,
    )
    return start(rolled, checkpoint_dir, sink_dir=sink_dir)
