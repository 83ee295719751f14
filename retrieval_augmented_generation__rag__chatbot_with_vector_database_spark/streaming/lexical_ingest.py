"""Streaming lexical-index maintenance (SURVEY.md §2k × the hybrid-
retrieval north-star): documents landing on a directory stream are
incrementally merged into the persistent inverted-index layout
(``sources.lexical_index``) — the lexical twin of the IVFPQ ingest
stream (``streaming.ann_ingest``), closing the "re-tokenize the corpus
per query batch" gap for continuously-ingested corpora.

Each micro-batch runs ``LexicalIndex.upsert`` with ``batch_id`` as the
LWW version: delete-then-insert postings + LWW doc-store merge are
id-idempotent, so the checkpoint's at-least-once replay converges to
the same layout — the exactly-once-end-state contract shared by every
ingest stream in this repo. Work per batch is O(|batch| + touched
buckets), never O(|index|).

Reference parity: the reference ingests documents into its persistent
index incrementally (``scripts/ingest_documents.py`` upsert loop over
``app/services/pinecone_service.py:108-146``); this is the same
lifecycle for the lexical signal.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.lexical_index import (
    LexicalIndex,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.drive import (
    start,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery

DOC_STREAM_SCHEMA = "doc_id long, text string"


def start_lexical_ingest_stream(
    spark: SparkSession,
    landing_glob: str,
    index_path: str,
    checkpoint_dir: str,
    schema: str = DOC_STREAM_SCHEMA,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "StreamingQuery":
    """Documents drop into ``landing_glob``; every micro-batch is
    incrementally merged into the lexical index at ``index_path``
    (which must already exist — ``LexicalIndex.create`` builds it).
    Runs through ``streaming.drive.start``."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        LexicalIndex(batch.sparkSession, index_path).upsert(
            batch, batch=batch_id, id_col=id_col, text_col=text_col
        )

    return start(
        spark.readStream.schema(schema).parquet(landing_glob),
        checkpoint_dir,
        each_batch=_process,
    )
