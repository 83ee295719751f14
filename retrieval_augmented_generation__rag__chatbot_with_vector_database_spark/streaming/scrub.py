"""Streaming PII scrub (SURVEY.md §2k × operators.pii): scrub
documents as they land, BEFORE anything downstream (chunker, embedder,
index, dedup) ever sees the raw bytes — the ingestion-edge placement a
training-data pipeline requires.

Shape: ``operators.pii.scrub_documents`` is a stateless narrow map
(pure regex column expressions), so it applies to the streaming
DataFrame DIRECTLY — no ``foreachBatch``, no state store, no shuffle.
Structured Streaming runs the identical codegen'd plan per micro-batch,
which makes stream output trivially hash-identical to the batch path
over the same rows (tested) and gives exactly-once end state from the
checkpoint + append sink alone.

Scale notes: per-batch work is batch-bounded scan bandwidth; the
operator adds zero exchanges to the micro-batch plan, so watermarks,
triggers, and sink semantics are untouched whatever the corpus size.
The raw text column is DROPPED before the sink (``keep_text=False``)
— the unscrubbed bytes never persist past the landing dir.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import SparkSession

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.pii import (
    scrub_documents,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.drive import (
    start,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery

SCRUB_STREAM_SCHEMA = "doc_id long, source string, text string"


def start_scrub_stream(
    spark: SparkSession,
    landing_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
) -> "StreamingQuery":
    """Landing dir -> scrubbed parquet sink (``streaming.drive.start``:
    drains what's present and stops; restart with the same checkpoint
    to pick up new files exactly-once). ``text_col`` names the landing
    schema's text column (the other two fields are fixed: doc_id,
    source)."""
    stream = spark.readStream.schema(
        f"doc_id long, source string, {text_col} string"
    ).parquet(landing_dir)
    scrubbed = scrub_documents(stream, text_col=text_col, keep_text=False)
    return start(scrubbed, checkpoint_dir, sink_dir=sink_dir)
