"""Streaming ANN-layout maintenance (SURVEY.md §2k × the ANN
north-star): vectors landing on a directory stream are incrementally
merged into the IVFPQ search layout — the piece that keeps approximate
search FRESH under continuous ingest instead of serving a stale
snapshot until the next full rebuild.

Each micro-batch runs ``operators.pq.upsert_ivfpq_index``: coarse-
assign + PQ-encode with the layout's own sidecar-persisted quantizers,
intra-batch last-write-wins, touched-centroid-partition merge under
the crash-consistent swap protocol. Because the upsert is an
id-idempotent merge (LWW by id), a replayed micro-batch after a
restart converges to the same layout — the checkpoint gives
at-least-once delivery and the merge supplies the idempotence, the
same exactly-once-end-state contract as the flat-index ingest stream
(``streaming/ingest.py``); the stream itself runs through
``streaming.drive.start``.

Retrain trigger: quantizers (coarse centroids + PQ codebooks) drift as
the corpus moves — probe CORRECTNESS is unaffected meanwhile, but
recall decays. ``retrain_threshold`` watches ``rows upserted / rows at
build`` (the sidecar's staleness counter) after every micro-batch;
past the threshold the stream retrains + rebuilds via
``retrain_ivfpq_index`` from the layout's own rows: every IVFPQ layout
stores the full-precision vectors next to the codes, untransformed
(``write_ivfpq_index`` keeps them in the raw space whatever its
normalize / MIPS / OPQ transform), which is the space the retrain
expects. The retrain writes the rebuilt layout beside the live one and
swaps it in only once complete, so a crash mid-retrain leaves the live
layout intact and the replayed batch upserts into it again.
"""

from __future__ import annotations

import logging
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.pq import (
    retrain_ivfpq_index,
    upsert_ivfpq_index,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.drive import (
    start,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery

VEC_STREAM_SCHEMA = "vec_id long, embedding array<float>"

log = logging.getLogger(__name__)


def start_ivfpq_ingest_stream(
    spark: SparkSession,
    landing_glob: str,
    layout_path: str,
    checkpoint_dir: str,
    schema: str = VEC_STREAM_SCHEMA,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    retrain_threshold: float | None = None,
) -> "StreamingQuery":
    """Vectors drop into ``landing_glob``; every micro-batch is
    incrementally merged into the IVFPQ layout at ``layout_path``
    (which must already exist — ``write_ivfpq_index`` creates it).

    ``retrain_threshold`` (e.g. ``0.5`` = half the layout upserted
    since the last build): when a micro-batch pushes staleness past
    it, the layout's own full-precision rows feed a quantizer retrain
    + rebuild (``retrain_ivfpq_index``), resetting staleness."""
    if retrain_threshold is not None and retrain_threshold <= 0:
        raise ValueError("retrain_threshold must be positive")

    def _process(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        res = upsert_ivfpq_index(s, layout_path, batch, id_col, vec_col)
        stale = res.get("staleness", 0.0)
        if retrain_threshold is None or stale < retrain_threshold:
            return
        rows = s.read.parquet(layout_path).drop("centroid_id", "codes")
        retrain_ivfpq_index(s, layout_path, rows, id_col, vec_col)
        log.info(
            "ivfpq layout %s retrained at staleness %.3f (threshold %.3f)",
            layout_path, stale, retrain_threshold,
        )

    return start(
        spark.readStream.schema(schema).parquet(landing_glob),
        checkpoint_dir,
        each_batch=_process,
    )
