"""Incremental ingestion via Structured Streaming (SURVEY.md §2k).

Reference semantics: ``POST /api/v1/upload``
(``/root/reference/app/api/routes.py:314-334``) stages uploaded files
and re-runs the ingest pipeline on them; the index grows by keyed
upsert (``app/services/pinecone_service.py:108-146``), and re-uploading
identical content is idempotent because chunk ids are
content-addressed (``scripts/ingest_documents.py:93-105``).

Spark shape: a **file-source stream** on a landing directory — every
new file becomes part of the next micro-batch — driving the same
batch pipeline (chunk → embed → id) through ``foreachBatch`` into the
``VectorIndex`` last-write-wins upsert. Exactly-once end state comes
from the checkpoint (no file is processed twice) *plus* idempotent
content-addressed ids (a reprocessed file upserts the same rows).
No watermark: there is no event-time aggregation — late files are
just later batches (SURVEY.md §2k).

The stream runs through ``streaming.drive.start`` (checkpoint +
availableNow). At scale the landing dir is object storage and the
chunk+embed kernel is the only expensive stage
and runs as ONE Arrow-batched pass (``docs_to_records`` fuses the
standalone ``chunk_documents`` / ``embed_text_column`` operators so
the corpus crosses the Python boundary once, round 15).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.embed.providers import (
    EmbeddingProvider,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.text import (
    chunk_id,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.chunker import (
    DEFAULT_CHUNK_OVERLAP,
    DEFAULT_CHUNK_SIZE,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table import (
    VectorIndex,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.drive import (
    start,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery


def docs_to_records(
    docs: DataFrame,
    provider: EmbeddingProvider,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = DEFAULT_CHUNK_OVERLAP,
    scrub: bool = False,
) -> DataFrame:
    """The shared ingest dataflow (batch and per-micro-batch): docs
    ``(text, source)`` → [PII scrub] → chunks → embeddings →
    upsertable records ``(id, embedding, text, source, chunk_index)``.

    ``doc_id`` is a hash of the source path — stable across re-reads —
    and chunk ids are content-addressed (``functions.text.chunk_id``),
    so the whole map is deterministic w.r.t. file content.

    ``scrub=True`` runs ``operators.pii.pii_scrub`` BEFORE chunking —
    the scrub-before-anything funnel stage: raw text never reaches
    the chunker, the embedder, or the sink, and chunk ids are
    content-addressed over the SCRUBBED text (so a scrubbed and an
    unscrubbed ingest of the same file produce disjoint ids rather
    than silently colliding). The reference ingests raw user text
    verbatim (``scripts/ingest_documents.py:42-64``); a pipeline
    feeding model training must not.
    """
    base = docs.select(
        F.xxhash64("source").alias("doc_id"),
        "text",
        "source",
    )
    if scrub:
        from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.pii import (
            pii_scrub,
        )

        base = base.select(
            "doc_id", pii_scrub("text").alias("text"), "source"
        )
    # chunk AND embed in ONE Arrow pass: the two standalone operators
    # (chunk_documents, embed_text_column) are each a mapInPandas, so
    # composing them sent every chunk row JVM→Python→JVM→Python→JVM —
    # two full serializations of the corpus for one narrow pipeline
    # (guide §4.1: the boundary crossing is the cost you control).
    # The fused kernel produces byte-identical chunks (same
    # split_text), embeds the same per-text deterministic vectors, and
    # chunk ids stay the JVM md5 expression over (local_index, text) —
    # values unchanged, one boundary crossing instead of two. The
    # standalone operators remain the composable public surface.
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.chunker import (
        split_text,
    )

    out_schema = (
        "source string, local_index int, text string, "
        "embedding array<float>"
    )

    def _chunk_embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple[str, int, str]] = []
            for text, source in zip(pdf["text"], pdf["source"]):
                for i, c in enumerate(
                    split_text(text or "", chunk_size, chunk_overlap)
                ):
                    rows.append((source, i, c))
            out = pd.DataFrame(
                rows, columns=["source", "local_index", "text"]
            )
            vecs = provider.embed(list(out["text"]))
            # dtype=object explicitly: on a batch with zero chunks
            # pandas would otherwise give the empty column a numeric
            # dtype, which Arrow cannot convert to list<float>
            out["embedding"] = pd.Series(
                [np.asarray(v, dtype=np.float32) for v in vecs],
                index=out.index,
                dtype=object,
            )
            yield out

    embedded = base.select("text", "source").mapInPandas(
        _chunk_embed, schema=out_schema
    )
    return embedded.select(
        chunk_id(F.col("local_index"), F.col("text")).alias("id"),
        "embedding",
        "text",
        "source",
        F.col("local_index").alias("chunk_index"),
    )


def ingest_directory(
    spark: SparkSession,
    data_dir: str,
    index: VectorIndex,
    provider: EmbeddingProvider,
    batch_version: int = 0,
) -> int:
    """One-shot batch ingest of a directory (reference entry point 3,
    ``scripts/ingest_documents.py:108-233``). Returns index size."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.documents import (
        load_documents,
    )

    docs = load_documents(spark, data_dir)
    return index.upsert(docs_to_records(docs, provider), batch=batch_version)


def start_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    index: VectorIndex,
    provider: EmbeddingProvider,
    checkpoint_dir: str,
    lexical_index=None,
    scrub: bool = False,
) -> "StreamingQuery":
    """Start the incremental-ingestion stream on ``landing_dir``: it
    drains everything currently in the directory then stops
    (``streaming.drive.start``); restart with the same checkpoint to
    pick up new files.

    ``lexical_index`` (a ``sources.lexical_index.LexicalIndex``, must
    already exist): when given, each micro-batch ALSO upserts its
    chunks into the persistent inverted-index layout, so one stream
    keeps BOTH hybrid-retrieval signals fresh — the Spark analogue of
    the reference's single ingest flow feeding its one persistent
    index. Lexical doc ids are ``xxhash64(chunk_id)`` (the layout
    keys on longs); map back to chunks by hashing the vector index's
    id column the same way. Both upserts are id-idempotent, so a
    replayed micro-batch converges on both layouts.

    ``scrub=True`` applies the PII scrub inside every micro-batch
    BEFORE chunking (``docs_to_records(scrub=True)``) — the raw
    landing-file text never reaches either sink, the streaming twin
    of the batch scrub-ingest funnel
    (``queries.pii_queries.corpus_scrub_ingest_pipeline``).
    """
    stream = (
        spark.readStream.format("text")
        .option("wholetext", True)
        .option("recursiveFileLookup", True)
        .option("pathGlobFilter", "*.txt")
        .load(landing_dir)
        .select(
            F.col("value").alias("text"),
            F.input_file_name().alias("source"),
        )
    )

    def _upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        records = docs_to_records(batch_df, provider, scrub=scrub)
        if lexical_index is not None:
            # one execution of the chunk->embed DAG shared by both sinks
            records = records.localCheckpoint(eager=True)
        index.upsert(records, batch=batch_id)
        if lexical_index is not None:
            lexical_index.upsert(
                records.select(
                    F.xxhash64("id").alias("doc_id"), "text"
                ),
                batch=batch_id,
            )

    return start(stream, checkpoint_dir, each_batch=_upsert_batch)
