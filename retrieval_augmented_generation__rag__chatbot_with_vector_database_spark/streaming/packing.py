"""Streaming training-sequence packing (SURVEY.md §2k × the batch-
construction north-star): newly arriving documents extend the packed
layout incrementally — no repacking of history, ever.

This is the cash-out of the batch packer's append-stability claim
(``operators/packing.py``): greedy next-fit decides each doc's slot
from the PREFIX of its shard's stream, so packing a corpus in one
batch or in N arrivals yields byte-identical (shard, seq, offset)
assignments — PROVIDED each shard sees ids in increasing order. The
stream keeps one tiny state row per shard — the open bin's (seq,
fill) and the high-water id — and per micro-batch:

1. read the state table (excluding the current batch's own partition,
   so a replayed batch resumes from exactly the pre-batch state);
2. loudly REJECT any arriving id at or below the shard's high-water
   mark — out-of-order arrivals would silently change history's
   assignments, which is precisely what this operator promises never
   to do (late docs belong in a new epoch, not a rewrite);
3. run the same next-fit kernel, seeded from the open bin;
4. write the batch's assignments and the updated per-shard state to
   per-batch ``batch_id=<n>`` partitions (``streaming.drive.
   write_batch``: replay overwrites its own torn output, exactly-once
   end state).

At 100 TB: state is O(shards) rows regardless of corpus size; each
micro-batch costs one shuffle of the batch (never of history) plus a
pruned read of the latest state partitions. The sink accumulates
``batch_id=`` partitions — fold the settled prefix with
``sources.compaction.compact_batch_partitions`` like the other
streaming sinks.

Reference parity: none (the reference re-embeds uploads one at a
time, `app/api/routes.py:314-334`); north-star extension.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.drive import (
    read_batches,
    start,
    write_batch,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery

STATE_SCHEMA = "shard int, seq long, fill long, max_id long"
_OUT_SCHEMA = (
    "id long, shard int, seq long, offset long, size long, "
    "state_seq long, state_fill long, state_max_id long"
)


def read_pack_state(
    spark: SparkSession, state_dir: str, exclude_batch_id: int | None = None
) -> DataFrame:
    """Latest state row per shard (each batch rewrites the full row of
    every shard it touched; the newest ``batch_id`` wins); empty before
    the first batch. Excluding the current batch's partition makes
    replays resume from the pre-batch state
    (``streaming.drive.read_batches``).

    Do NOT fold this dir with ``compact_batch_partitions``: compaction
    merges many batches' rows into one ``batch_id=-1`` partition,
    which destroys the per-shard latest-batch-wins ordering this read
    depends on. Unlike the assignments SINK (compact freely — its rows
    are disjoint by doc), the state dir stays O(shards × batches)
    single-row files; at one micro-batch a minute that is ~0.5M tiny
    rows per year per shard — prune old batches by deleting
    ``batch_id=<n>`` dirs older than the checkpoint's replay horizon
    instead."""
    t = read_batches(spark, state_dir, STATE_SCHEMA, exclude_batch_id)
    w = Window.partitionBy("shard").orderBy(F.col("batch_id").desc())
    return (
        t.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("shard", "seq", "fill", "max_id")
    )


def pack_batch(
    batch: DataFrame,
    state: DataFrame,
    id_col: str = "doc_id",
    size_col: str = "n_tokens",
    budget: int = 2048,
    shards: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch step: returns ``(assignments, new_state)``.
    ``state`` is :func:`read_pack_state`'s frame (empty before the
    first batch).

    ``assignments``: (id_col, shard, seq, offset, size) for the
    batch's docs — identical to what ``operators.packing.
    pack_sequences`` would emit had these docs been part of the
    original batch run (parity-tested). ``new_state``: updated
    (shard, seq, fill, max_id) rows for the touched shards.

    Raises on an arriving id <= the shard's high-water mark (the
    append-only contract; see module doc).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if shards <= 0:
        raise ValueError(f"shards must be positive, got {shards}")

    base = batch.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(size_col).cast("long").alias("size"),
        F.pmod(F.col(id_col).cast("long"), F.lit(shards)).cast("int").alias("shard"),
    ).filter(F.col("size").isNotNull())
    base = base.join(
        state.select(
            "shard",
            F.col("seq").alias("st_seq"),
            F.col("fill").alias("st_fill"),
            F.col("max_id").alias("st_max_id"),
        ),
        "shard",
        "left",
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        if (pdf["size"] < 0).any():
            bad = pdf.loc[pdf["size"] < 0, "id"].iloc[0]
            raise ValueError(f"negative size for id {bad}")
        has_state = pd.notna(pdf["st_seq"].iloc[0])
        max_id = int(pdf["st_max_id"].iloc[0]) if has_state else None
        if max_id is not None and int(pdf["id"].iloc[0]) <= max_id:
            raise ValueError(
                f"append-only contract violated: id {int(pdf['id'].iloc[0])} "
                f"<= shard high-water mark {max_id} "
                f"(shard {int(pdf['shard'].iloc[0])}) — late arrivals must "
                "open a new epoch, not rewrite packed history"
            )
        from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.packing import (
            next_fit,
        )

        seqs, offs, seq, fill = next_fit(
            pdf["size"],
            budget,
            start_seq=int(pdf["st_seq"].iloc[0]) if has_state else 0,
            start_fill=int(pdf["st_fill"].iloc[0]) if has_state else 0,
            continue_open_bin=has_state,  # open bin may already hold docs
        )
        pdf["seq"] = seqs
        pdf["offset"] = offs
        pdf["state_seq"] = seq
        pdf["state_fill"] = fill
        pdf["state_max_id"] = int(pdf["id"].iloc[-1])
        return pdf[
            [
                "id", "shard", "seq", "offset", "size",
                "state_seq", "state_fill", "state_max_id",
            ]
        ]

    out = base.groupBy("shard").applyInPandas(kernel, _OUT_SCHEMA)
    # one pass computes both outputs; pin it so the two sinks agree
    out = out.localCheckpoint(eager=True)
    assignments = out.select(
        F.col("id").alias(id_col), "shard", "seq", "offset", "size"
    )
    new_state = (
        out.groupBy("shard")
        .agg(
            F.first("state_seq").alias("seq"),
            F.first("state_fill").alias("fill"),
            F.first("state_max_id").alias("max_id"),
        )
    )
    return assignments, new_state


def start_packing_stream(
    spark: SparkSession,
    landing_glob: str,
    assignments_sink: str,
    state_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, n_tokens long",
    id_col: str = "doc_id",
    size_col: str = "n_tokens",
    budget: int = 2048,
    shards: int = 32,
) -> "StreamingQuery":
    """File-stream wrapper: (doc_id, n_tokens) rows drop into
    ``landing_glob``; packed assignments land in ``assignments_sink``;
    per-shard open-bin state lives in ``state_dir``
    (``streaming.drive``). Exactly-once via per-batch partition
    overwrite + pre-batch state exclusion."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        state = read_pack_state(s, state_dir, exclude_batch_id=batch_id)
        assignments, new_state = pack_batch(
            batch, state, id_col, size_col, budget, shards
        )
        write_batch(assignments, assignments_sink, batch_id)
        write_batch(new_state, state_dir, batch_id)

    return start(
        spark.readStream.schema(schema).parquet(landing_glob),
        checkpoint_dir,
        each_batch=_process,
    )


__all__ = ["pack_batch", "read_pack_state", "start_packing_stream"]
