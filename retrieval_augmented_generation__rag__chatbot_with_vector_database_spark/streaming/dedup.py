"""Streaming exact dedup (SURVEY.md §2k × the dedup north-star):
suppress re-arrivals of identical content BEFORE the expensive
chunk→embed stage.

Batch dedup (``operators.dedup``) curates a static corpus; a landing
stream needs the same decision online: a re-uploaded file (same bytes,
new path — the reference's repeated ``POST /api/v1/upload``,
``app/api/routes.py:314-334``) should not re-enter the embed kernel at
all. Spark shape: the content fingerprint (same normalization as
``operators.dedup.exact_dedup``) becomes the dedup key of
``dropDuplicatesWithinWatermark`` — state is kept per fingerprint and
expires once the event-time watermark passes ``delay``, so the state
store is bounded by the duplicate-arrival horizon, not corpus size.

Guarantees and trade-offs:
- exactly-one emission per fingerprint while its first arrival is
  inside the watermark horizon (cross-micro-batch, checkpointed);
- a duplicate arriving AFTER state expiry passes through again — by
  design (bounded state); the downstream content-addressed LWW upsert
  (``sources.index_table``) remains the end-to-end idempotence net, so
  a late duplicate costs compute, never correctness.

At 100 TB: state is one (16-byte md5, timestamp) entry per distinct
document inside the horizon — RocksDB state store territory, not
memory-bound; the dedup happens before chunking, so the saved work is
the whole chunk+embed+upsert pipeline per suppressed duplicate.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.drive import (
    start,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery

DOC_STREAM_SCHEMA = "doc_id long, ts timestamp, text string, source string"


def content_fingerprint(text: Column | str) -> Column:
    """md5 over case/whitespace-normalized text — identical to the
    batch ``exact_dedup`` key, so stream and batch agree on what a
    duplicate is."""
    t = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(F.trim(t)), r"\s+", " ").cast("binary"))


def dedup_within_watermark(
    stream: DataFrame,
    text_col: str = "text",
    event_time_col: str = "ts",
    delay: str = "24 hours",
) -> DataFrame:
    """First arrival per content fingerprint passes; duplicates inside
    the watermark horizon are dropped. Adds the ``fingerprint`` column
    (kept in the output — downstream stages and audits key on it)."""
    return (
        stream.withColumn("fingerprint", content_fingerprint(text_col))
        .withWatermark(event_time_col, delay)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def start_dedup_stream(
    spark: SparkSession,
    landing_glob: str,
    sink_dir: str,
    checkpoint_dir: str,
    schema: str = DOC_STREAM_SCHEMA,
    text_col: str = "text",
    event_time_col: str = "ts",
    delay: str = "24 hours",
) -> "StreamingQuery":
    """File-stream wrapper: parquet drops in, deduped append-mode
    parquet out (``streaming.drive.start``)."""
    stream = spark.readStream.schema(schema).parquet(landing_glob)
    out = dedup_within_watermark(stream, text_col, event_time_col, delay)
    return start(out, checkpoint_dir, sink_dir=sink_dir)
