"""Streaming NB scoring (SURVEY.md §2k × the classifier north-star):
apply the PERSISTED learned quality/domain gate to documents as they
land, the online half of ``corpus_curation_pipeline_nb``.

Shape: the model layout (``operators.classifier.save_nb_model`` —
sufficient statistics, vocabulary-bounded) is loaded ONCE per
micro-batch inside ``foreachBatch`` and joined to the batch through
the same ``nb_classify`` derivation the batch path runs, so stream
scores are hash-identical to batch scores over the same rows
(tested). ``foreachBatch`` (not a stateful operator) because the
model is a slowly-changing DIMENSION, not stream state: re-reading
the layout each batch picks up concurrent ``update_nb_model`` folds —
the fresh-model-without-restart property a 100 TB labeling loop
needs, and the same pattern as the lexical-index streaming
maintenance.

Scale notes: per batch the work is one vocabulary-bounded model scan +
(batch tokens × |K|) scoring rows — batch-bounded, never
corpus-bounded; the sink is one ``batch_id=<n>`` partition per
micro-batch written by ``streaming.drive.write_batch`` (a replayed
batch overwrites its own output, never appends a second copy). Docs with zero tokens carry a NULL
prediction (explicitly emitted — the gate downstream decides their
fate; silently dropping them would make the stream lossy).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.drive import (
    start,
    write_batch,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery

CLASSIFY_STREAM_SCHEMA = "doc_id long, lang string, text string"


def score_batch(
    batch: DataFrame,
    model_path: str,
    id_col: str = "doc_id",
    label_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """One micro-batch through the persisted model: every input row is
    emitted — scored rows carry (pred, score, is_correct), token-less
    rows carry NULLs (never silently dropped)."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.classifier import (
        load_nb_model,
        nb_classify,
    )

    spark = batch.sparkSession
    scored = nb_classify(
        None,
        batch,
        id_col=id_col,
        label_col=label_col,
        text_col=text_col,
        model_tables=load_nb_model(spark, model_path),
    )
    return batch.select(id_col, label_col).join(
        scored.drop(label_col), id_col, "left"
    )


def start_classify_stream(
    spark: SparkSession,
    landing_glob: str,
    model_path: str,
    sink_dir: str,
    checkpoint_dir: str,
    schema: str = CLASSIFY_STREAM_SCHEMA,
    id_col: str = "doc_id",
    label_col: str = "lang",
    text_col: str = "text",
) -> "StreamingQuery":
    """File-stream wrapper: parquet docs in, scored rows out to
    ``sink_dir/batch_id=<n>`` (``streaming.drive``). The model layout
    is re-read per micro-batch, so concurrent ``update_nb_model``
    folds take effect on the next batch without a stream restart."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        out = score_batch(batch, model_path, id_col, label_col, text_col)
        write_batch(out, sink_dir, batch_id)

    return start(
        spark.readStream.schema(schema).parquet(landing_glob),
        checkpoint_dir,
        each_batch=_process,
    )
