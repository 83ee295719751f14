"""The one streaming driver: every ``start_*_stream`` in ``streaming/``
starts, sinks and replays through this module.

Exactly-once end state is Structured Streaming's checkpoint plus an
idempotent sink (Armbrust et al., "Structured Streaming", SIGMOD
2018). The checkpoint gives at-least-once delivery of each
micro-batch under a stable ``batch_id``; a replay after a crash
re-runs the batch under the SAME id. The sink makes that replay
harmless. Three pieces, each in one place:

- :func:`start` — the only ``writeStream`` in the package: checkpoint
  location plus the ``availableNow`` trigger (drain what has landed,
  then stop; restart with the same checkpoint to continue). Either an
  append-mode parquet file sink (Spark's own file-sink log makes it
  exactly-once) or a ``foreachBatch`` body.
- :func:`write_batch` — the replay-safe per-batch sink: one
  ``root/batch_id=<n>`` directory written with ``overwrite``, so a
  replayed batch replaces its own (possibly torn) output instead of
  appending a second copy.
- :func:`read_batches` — the replay-guard read of a ``batch_id=<n>``
  table: fenced against a torn compaction swap, optionally blind to
  the current batch's own partition (a replay must see the table as
  it stood before its first attempt). The compacted ``batch_id=-1``
  partition (``sources.compaction``) is never excluded — no real
  batch id is -1.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.layout import (
    check_not_torn,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery


def start(
    stream_df: DataFrame,
    checkpoint_dir: str,
    *,
    sink_dir: str | None = None,
    each_batch: Callable[[DataFrame, int], None] | None = None,
) -> "StreamingQuery":
    """Run ``stream_df`` to its append-mode parquet ``sink_dir`` or
    through ``each_batch(batch, batch_id)`` — exactly one of the two.
    availableNow + checkpoint: drains pending input, then stops."""
    if (sink_dir is None) == (each_batch is None):
        raise ValueError("give exactly one of sink_dir and each_batch")
    writer = (
        stream_df.writeStream.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    if each_batch is not None:
        return writer.foreachBatch(each_batch).start()
    return (
        writer.format("parquet")
        .outputMode("append")
        .option("path", sink_dir)
        .start()
    )


def write_batch(df: DataFrame, root: str, batch_id: int) -> None:
    """Write one micro-batch's output to ``root/batch_id=<batch_id>``,
    replacing whatever a torn earlier attempt left there."""
    df.write.mode("overwrite").parquet(f"{root}/batch_id={batch_id}")


def read_batches(
    spark: SparkSession,
    root: str,
    schema: str,
    exclude_batch: int | None = None,
) -> DataFrame:
    """Every ``batch_id=<n>`` partition under ``root`` as ``schema``
    plus the ``batch_id`` partition column; an empty frame of that
    shape when ``root`` is missing or holds no partition.
    ``exclude_batch`` prunes that batch's own partition (never
    scanned). Raises if a partition swap under ``root`` died
    mid-flight."""
    check_not_torn(root)
    try:
        t = spark.read.schema(schema).parquet(root)
    except AnalysisException:  # nothing written yet
        t = None
    if t is None or "batch_id" not in t.columns:
        return spark.createDataFrame([], f"{schema}, batch_id int")
    if exclude_batch is not None:
        t = t.filter(F.col("batch_id") != exclude_batch)
    return t
