"""Streaming benchmark decontamination (SURVEY.md §2k × the curation
north-star): screen documents against the eval/benchmark n-gram set
AS THEY ARRIVE, quarantining contaminated docs before they ever reach
the embed/index/training stages — the cheapest place to stop
train-test leakage (dropping them later means re-running everything
downstream of ingest).

The eval shingle set is built ONCE into a tiny parquet table
(benchmarks are fixed artifacts; update the table when the benchmark
suite changes, not per batch). Per micro-batch:

1. the batch's word n-gram shingles (the same
   ``operators.dedup.exploded_shingles`` kernel the batch
   ``eval_overlap`` uses — stream and batch agree on what
   contamination is);
2. join against the broadcast eval table → per-doc overlap counts;
3. docs with >= 1 overlapping n-gram land in the ``flagged`` sink
   (with the count as evidence), everything else in the ``clean``
   sink; both write per-batch ``batch_id=<n>`` partitions through
   ``streaming.drive.write_batch`` (replay overwrites its own torn
   partitions: exactly-once end state).

Clean ∪ flagged == input, and flagged ids == the batch
``eval_overlap`` over the union of all arrivals (parity-tested).

At 100 TB: the eval table is KBs-to-MBs (thousands of benchmark
docs), broadcast to every executor once per batch; each micro-batch
costs its own shingle explode + a broadcast probe — the corpus never
shuffles, exactly the batch operator's plan contract.

Reference parity: the reference indexes uploads unscreened
(`app/api/routes.py:314-334`); north-star extension.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
    exploded_shingles,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.drive import (
    start,
    write_batch,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery

DOC_STREAM_SCHEMA = "doc_id long, text string, source string"


def build_eval_shingle_table(
    evalset: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> None:
    """Distinct eval-set word ``n``-grams → one small parquet table
    (single file: it is broadcast whole at probe time). Rebuild when
    the benchmark suite changes."""
    (
        exploded_shingles(evalset, id_col, text_col, n)
        .select("shingle")
        .distinct()
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )


def decontam_batch(
    batch: DataFrame,
    eval_shingles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch step: returns ``(clean, flagged)``.

    ``flagged``: the batch's rows plus ``n_overlapping_ngrams`` for
    docs sharing >= 1 n-gram with the eval table; ``clean``: all other
    rows, schema-unchanged. The eval side is broadcast — the batch
    never shuffles for the probe."""
    hits = (
        exploded_shingles(batch, id_col, text_col, n)
        .join(F.broadcast(eval_shingles.select("shingle")), "shingle")
        .groupBy(F.col("id").alias(id_col))
        .agg(F.count("*").alias("n_overlapping_ngrams"))
    )
    flagged = batch.join(hits, id_col, "inner")
    clean = batch.join(hits.select(id_col), id_col, "left_anti")
    return clean, flagged


def start_decontam_stream(
    spark: SparkSession,
    landing_glob: str,
    eval_shingles_path: str,
    clean_sink: str,
    flagged_sink: str,
    checkpoint_dir: str,
    schema: str = DOC_STREAM_SCHEMA,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> "StreamingQuery":
    """File-stream wrapper: documents drop into ``landing_glob``;
    clean docs land in ``clean_sink`` and contaminated docs (with
    overlap counts) in ``flagged_sink``, both as per-batch
    ``batch_id=<n>`` partitions (``streaming.drive.write_batch``)."""
    ev = spark.read.parquet(eval_shingles_path)

    def _process(batch: DataFrame, batch_id: int) -> None:
        clean, flagged = decontam_batch(batch, ev, id_col, text_col, n)
        write_batch(clean, clean_sink, batch_id)
        write_batch(flagged, flagged_sink, batch_id)

    return start(
        spark.readStream.schema(schema).parquet(landing_glob),
        checkpoint_dir,
        each_batch=_process,
    )


__all__ = [
    "build_eval_shingle_table",
    "decontam_batch",
    "start_decontam_stream",
]
