"""Streaming point-in-time enrichment (SURVEY.md §2k × the temporal
north-star): attach the most recent at-or-before state snapshot to
every incoming event — the online twin of ``operators.temporal.
asof_join``.

Feature-store shape: a label/event stream must pick up features "as
of" the event time, never from the future (feature leakage) and never
silently stale (tolerance). Spark has no native streaming ASOF join;
the Spark-first form is ``foreachBatch``: each micro-batch is a
bounded DataFrame, so the BATCH as-of composition (union + one keyed
window — ``operators/temporal.py``) applies verbatim, giving exact
batch parity by construction (the same code runs).

State side options at 100 TB:
- a slowly-changing dimension on parquet/Delta: re-read per batch,
  partition-pruned by the batch's key range — the common case;
- a compacted snapshot maintained by a second stream (LWW upsert,
  ``sources/index_table`` pattern) — for high-churn state.

The micro-batch sees state as of BATCH START (stream-static join
semantics: state updates land between batches, not within one) — the
same freshness contract Spark's own stream-static joins give, stated
here explicitly. Tolerance bounds the staleness a feature may carry.

Reference parity: the reference has no streaming surface beyond
upload-triggered ingest (SURVEY §2k); this is a north-star extension.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame, SparkSession

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.temporal import (
    asof_join,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.drive import (
    start,
    write_batch,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery

EVENT_STREAM_SCHEMA = "event_id long, user_id long, ts timestamp, value double"


def enrich_batch(
    batch: DataFrame,
    state: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload: list[str] | None = None,
    tolerance_s: float | None = None,
) -> DataFrame:
    """One micro-batch of events enriched against the state table —
    exactly the batch as-of join (same code path, so stream == batch
    output for identical inputs; tested)."""
    return asof_join(
        batch,
        state,
        on=on,
        left_ts=left_ts,
        right_ts=right_ts,
        payload=payload,
        tolerance_s=tolerance_s,
    )


def start_enrich_stream(
    spark: SparkSession,
    landing_glob: str,
    state_source: Callable[[SparkSession], DataFrame],
    sink_dir: str,
    checkpoint_dir: str,
    on: list[str],
    schema: str = EVENT_STREAM_SCHEMA,
    tolerance_s: float | None = None,
) -> "StreamingQuery":
    """File-stream wrapper: events drop into ``landing_glob``; each
    micro-batch is as-of enriched against ``state_source(spark)``
    (re-resolved EVERY batch — a parquet re-read sees state updates
    between batches; partition pruning keeps the re-read narrow) and
    written to ``sink_dir``.

    Exactly-once sink: each micro-batch lands in its own
    ``batch_id=<n>`` partition (``streaming.drive.write_batch``), so a
    replayed batch overwrites its torn partition instead of appending
    duplicate rows. Readers see ``batch_id`` as an extra partition
    column on ``spark.read.parquet(sink_dir)``.
    """

    def _process(batch: DataFrame, batch_id: int) -> None:
        state = state_source(batch.sparkSession)
        out = enrich_batch(batch, state, on=on, tolerance_s=tolerance_s)
        write_batch(out, sink_dir, batch_id)

    return start(
        spark.readStream.schema(schema).parquet(landing_glob),
        checkpoint_dir,
        each_batch=_process,
    )


def enrich_batch_scd2(
    batch: DataFrame,
    dim: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    payload: list[str] | None = None,
) -> DataFrame:
    """SCD2 variant of :func:`enrich_batch`: each micro-batch joins
    the dimension version whose ``[valid_from, valid_to)`` interval
    contains the event time (``operators.temporal.interval_join`` —
    the as-of window + atomic expiry check, so a batch never fans out
    per (key, version)). Same stream == batch guarantee: identical
    code path."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.temporal import (
        interval_join,
    )

    return interval_join(
        batch,
        dim,
        on=on,
        left_ts=left_ts,
        valid_from=valid_from,
        valid_to=valid_to,
        payload=payload,
    )


def start_scd2_enrich_stream(
    spark: SparkSession,
    landing_glob: str,
    dim_source: Callable[[SparkSession], DataFrame],
    sink_dir: str,
    checkpoint_dir: str,
    on: list[str],
    schema: str = EVENT_STREAM_SCHEMA,
) -> "StreamingQuery":
    """Streaming SCD2 enrichment: the warehouse-standard
    point-in-time dimension join, online. ``dim_source`` is
    re-resolved per micro-batch (dimension maintenance lands between
    batches — stream-static semantics, same freshness contract as
    ``start_enrich_stream``); the sink is the same
    idempotent-by-batch_id overwrite layout. An event always joins
    the version valid AT ITS EVENT TIME — late events pick up the
    historically-correct version, not today's (the leakage bug
    joining on "current version" commits)."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        dim = dim_source(batch.sparkSession)
        out = enrich_batch_scd2(batch, dim, on=on)
        write_batch(out, sink_dir, batch_id)

    return start(
        spark.readStream.schema(schema).parquet(landing_glob),
        checkpoint_dir,
        each_batch=_process,
    )
