"""Streaming takedown propagation (SURVEY.md §2k × the S6 takedown
surface): deletion requests land on a stream and fan out to EVERY
persisted layout a search could surface the id from — the
right-to-be-forgotten pipeline as continuous operation instead of a
manual checklist. The reference exposes takedown as an index-level
endpoint (`app/services/pinecone_service.py:184-188`); a production
corpus needs per-id deletes arriving continuously (user requests,
licensing revocations) applied everywhere: flat vector index, lexical
postings, float-IVF and IVFPQ ANN layouts, the near-dup bucket table,
and the web-crawl frontier (URL-keyed — requests for web content
carry the URL alongside the doc id).

Spark shape: one ``foreachBatch`` per micro-batch of ids, invoking the
layout-specific delete hooks in order. Every hook is an IDEMPOTENT
touched-partition rewrite (deleting absent ids is a no-op in all four
layouts), so at-least-once delivery from the checkpointed source
converges to the same end state after any replay — the identical
exactly-once-end-state contract as the ingest streams
(``streaming/ingest.py``, ``streaming/ann_ingest.py``), but for
removal. Per-batch audit counts are logged: takedown is the one
pipeline where "how many rows did this actually remove" is a
compliance artifact, not a nicety.

At 100 TB each hook rewrites only the partitions that HOLD the ids
(bucket dirs / centroid dirs); a takedown batch's cost is bounded by
the ids' partition spread, never by corpus size.
"""

from __future__ import annotations

import logging
from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame, SparkSession

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.drive import (
    start,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery

#: a hook takes (spark, ids_df) and returns an audit count or stats
#: dict; hooks MUST be idempotent (replay safety comes from them)
TakedownHook = Callable[[SparkSession, DataFrame], object]

TAKEDOWN_STREAM_SCHEMA = "doc_id long"

log = logging.getLogger(__name__)


def layout_hooks(
    vector_index=None,
    lexical_index=None,
    ivf_path: str | None = None,
    ivfpq_path: str | None = None,
    vector_id_prefix: str = "",
    neardup_bucket_dir: str | None = None,
    frontier_dir: str | None = None,
    frontier_url_col: str = "url",
    pending_dir: str | None = None,
    line_occurrence_dir: str | None = None,
) -> list[tuple[str, TakedownHook]]:
    """Standard hook set over the engine's persisted per-doc surfaces —
    pass the ones that exist; ids arrive as longs (the corpus doc/vec
    id) and are mapped per layout: the flat ``VectorIndex`` stores
    string ids (optionally ``vector_id_prefix`` + id, matching the
    ingest pipeline's id scheme), the lexical index, both ANN layouts,
    and the near-dup bucket table (minhash signatures are derived
    personal data — forgetting a doc must forget its signature too)
    store the long id directly.

    ``frontier_dir`` adds the web-crawl frontier
    (``streaming/web_ingest.py``) — keyed on URL, not id, so the
    takedown stream's rows must carry a ``frontier_url_col`` column
    (any spelling; canonicalized inside the hook). The hook raises
    loudly if the column is absent rather than silently skipping a
    surface a forget request was owed. ``pending_dir`` adds the
    PENDING frontier (``streaming/frontier_admit.py``) on the same
    URL key — an admitted-but-unfetched URL is still a retained
    record that the page was discovered, and the layout is identical,
    so the same partition-rewrite delete applies.
    ``line_occurrence_dir`` adds the boilerplate line-occurrence
    table (``streaming/boilerplate.py``): a doc's lines are derived
    personal data like its minhash signature — keyed by the long
    doc id, touched-partition rewrite, blocklist correctly shrinks."""
    from pyspark.sql import functions as F

    hooks: list[tuple[str, TakedownHook]] = []
    if vector_index is not None:
        def _vec(spark, ids, _idx=vector_index):
            sids = ids.select(
                F.concat(F.lit(vector_id_prefix), F.col(ids.columns[0]).cast("string")).alias("id")
            )
            return _idx.delete_ids(sids)

        hooks.append(("vector_index", _vec))
    if lexical_index is not None:
        def _lex(spark, ids, _idx=lexical_index):
            return _idx.delete_docs(
                ids.select(F.col(ids.columns[0]).cast("long").alias("id"))
            )

        hooks.append(("lexical_index", _lex))
    if ivf_path is not None:
        def _ivf(spark, ids, _p=ivf_path):
            from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
                delete_ivf_ids,
            )

            return delete_ivf_ids(spark, _p, ids)

        hooks.append(("ivf_layout", _ivf))
    if ivfpq_path is not None:
        def _ivfpq(spark, ids, _p=ivfpq_path):
            from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.pq import (
                delete_ivfpq_ids,
            )

            return delete_ivfpq_ids(spark, _p, ids)

        hooks.append(("ivfpq_layout", _ivfpq))
    if neardup_bucket_dir is not None:
        def _buckets(spark, ids, _p=neardup_bucket_dir):
            from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.neardup import (
                delete_bucket_table_ids,
            )

            return delete_bucket_table_ids(spark, _p, ids)

        hooks.append(("neardup_bucket_table", _buckets))
    if frontier_dir is not None:
        def _frontier(spark, ids, _p=frontier_dir, _c=frontier_url_col):
            from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.web_ingest import (
                delete_frontier_urls,
            )

            if _c not in ids.columns:
                raise ValueError(
                    f"frontier takedown needs a {_c!r} column on the "
                    f"request stream (got {ids.columns}) — the frontier "
                    "is keyed on URL, not doc id"
                )
            return delete_frontier_urls(
                spark, _p, ids.select(_c).filter(F.col(_c).isNotNull())
            )

        hooks.append(("web_frontier", _frontier))
    if pending_dir is not None:
        def _pending(spark, ids, _p=pending_dir, _c=frontier_url_col):
            from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.web_ingest import (
                delete_frontier_urls,
            )

            if _c not in ids.columns:
                raise ValueError(
                    f"pending-frontier takedown needs a {_c!r} column on "
                    f"the request stream (got {ids.columns}) — the "
                    "frontier is keyed on URL, not doc id"
                )
            return delete_frontier_urls(
                spark, _p, ids.select(_c).filter(F.col(_c).isNotNull())
            )

        hooks.append(("web_frontier_pending", _pending))
    if line_occurrence_dir is not None:
        def _lines(spark, ids, _p=line_occurrence_dir):
            from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.boilerplate import (
                delete_line_occurrences,
            )

            return delete_line_occurrences(
                spark, _p, ids.select(ids.columns[0])
            )

        hooks.append(("boilerplate_line_occurrences", _lines))
    if not hooks:
        raise ValueError("no layouts given — nothing to take down")
    return hooks


def start_takedown_stream(
    spark: SparkSession,
    landing_glob: str,
    checkpoint_dir: str,
    hooks: list[tuple[str, TakedownHook]],
    schema: str = TAKEDOWN_STREAM_SCHEMA,
) -> "StreamingQuery":
    """Deletion requests (one id per row) drop into ``landing_glob``;
    every micro-batch localCheckpoints the (tiny) id set once, then
    runs every hook against it, logging per-layout audit counts
    (``streaming.drive.start``). A replayed batch re-deletes
    already-absent ids — a no-op by the hooks' idempotence, so the
    end state is exact."""
    if not hooks:
        raise ValueError("no takedown hooks given")

    def _process(batch: DataFrame, batch_id: int) -> None:
        ids = batch.distinct().localCheckpoint(eager=True)
        for name, hook in hooks:
            res = hook(batch.sparkSession, ids)
            log.info("takedown batch %s → %s: %s", batch_id, name, res)

    return start(
        spark.readStream.schema(schema).parquet(landing_glob),
        checkpoint_dir,
        each_batch=_process,
    )
