"""Search-path dispatcher — the single front door over the engine's
three batch-retrieval strategies, so callers say WHAT (queries, k,
metric) and the router picks HOW from what exists on disk. The
reference's analog is the argmax index-selection probe before querying
(`app/api/routes.py:78-116` picks the index, then
`pinecone_service.py:148-182` runs one fixed search path); here the
decision space is the engine's real strategy ladder:

| path        | when                                            |
|-------------|-------------------------------------------------|
| ``ivfpq``   | layout dir carries ``_ivfpq_meta.json`` AND the metric matches the layout's transform: raw→euclidean, ``normalize``→cosine, ``mips``→dotproduct (a transformed layout serves exactly its own metric) |
| ``ivf``     | layout dir carries ``_ivf_meta.json`` AND the metric is the one the layout was assigned under |
| ``exact_gemm`` | no layout: Arrow GEMM exact scan             |

Rationale: a persisted inverted-file layout always beats rescanning
(partition-pruned probe reads nprobe bucket dirs); with both quantized
and float layouts available the quantized one wins (16 B/row scan,
full-precision rerank restores quality); without any layout the Arrow
GEMM kernel scores at ~100x less per-score CPU than the interpreted
HOF fold (``topk.topk_search`` stays the bit-exact reference).

``route()`` is a pure function of (layout sidecar, metric) and is what
tests pin; ``search()`` dispatches on its answer. Routing reads NO
data — sidecar JSON only. A metric outside ``functions.vector.METRICS``
raises on every path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

#: dotproduct-over-IVFPQ over-fetches at least this FRACTION of the
#: layout's ``rows_at_build``: MIPS is the hardest metric for
#: reconstruction-optimal PQ (the sqrt coordinate concentrates the
#: inner-product signal; SCALE.md: recall 0.037 at fetch-100 vs ≥0.9
#: at ~1% over-fetch on the 500k hard case). Only ever raises
#: ``fetch_k``, so full-coverage results are unchanged.
MIPS_FETCH_FLOOR = 0.01


def route(layout_path: str | None = None, metric: str = "cosine") -> dict:
    """Pick the search path. Returns {"path": ..., "reason": ...,
    "meta": the parsed layout sidecar, None without a layout}; raises
    on an unknown metric and on contradictions (an IVFPQ layout's ADC
    is squared-L2, so it serves exactly the metric its build flags
    define — see ``pq.check_layout_metric``; an IVF layout's buckets
    are nearest-centroid cells under its build metric, so probing them
    in another metric's centroid order would prune the wrong cells)."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
        check_metric,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        IVF_META,
        ivf_meta,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.pq import (
        IVFPQ_META,
        check_layout_metric,
        load_ivfpq_meta,
    )

    check_metric(metric)
    if layout_path is None:
        return {
            "path": "exact_gemm",
            "reason": "no layout: Arrow GEMM exact scan",
            "meta": None,
        }
    if os.path.exists(os.path.join(layout_path, IVFPQ_META)):
        meta = load_ivfpq_meta(layout_path)
        check_layout_metric(metric, meta)
        reason = {
            "euclidean": f"{IVFPQ_META} present: 16 B/row pruned probe + rerank",
            "cosine": f"{IVFPQ_META} present, normalized: ADC order "
            "≡ cosine order on unit vectors + cosine rerank",
            "dotproduct": f"{IVFPQ_META} present, MIPS-augmented: ADC "
            "order ≡ dot-product order + dotproduct rerank",
        }[metric]
        return {"path": "ivfpq", "reason": reason, "meta": meta}
    if os.path.exists(os.path.join(layout_path, IVF_META)):
        meta = ivf_meta(layout_path)
        if meta["metric"] != metric:
            raise ValueError(
                f"IVF layout at {layout_path!r} was assigned under "
                f"{meta['metric']!r}; it cannot serve metric={metric!r}"
            )
        return {
            "path": "ivf",
            "reason": f"{IVF_META} present: partition-pruned nprobe probe",
            "meta": meta,
        }
    raise ValueError(
        f"layout_path {layout_path!r} has neither {IVFPQ_META} nor "
        f"{IVF_META} — not a persisted vector layout"
    )


def search(
    queries: DataFrame,
    index: DataFrame | None = None,
    k: int = 5,
    metric: str = "cosine",
    layout_path: str | None = None,
    nprobe: int = 4,
    fetch_k: int = 50,
    pre_filter=None,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dispatching batch top-k: (query_id, vec_id, score, rank) from
    whichever strategy :func:`route` picks. ``index`` is the
    full-precision frame the exact path scans; the layout paths read
    only ``layout_path`` (an IVFPQ layout stores the raw vectors its
    rerank needs next to the codes) and ignore it. Dotproduct over
    IVFPQ raises ``fetch_k`` to :data:`MIPS_FETCH_FLOOR` of the
    layout's rows.

    ``pre_filter``: a static metadata predicate (Column over index/
    layout columns — compose one from a Pinecone-style dict with
    ``functions.filter_dsl.filter_dict_to_column``, the reference's
    query-filter argument). Every strategy applies it BEFORE scoring —
    the exact path filters the scan, the IVF probe filters inside the
    pruned buckets, and the IVFPQ probe needs the layout built with
    ``meta_cols`` carrying the filtered columns (single-stage
    filtering: the top-k is the filtered corpus's own)."""
    r = route(layout_path, metric)
    path, meta = r["path"], r["meta"]

    if path == "ivfpq":
        from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.pq import (
            ivfpq_topk_rerank,
        )

        if metric == "dotproduct":
            import math

            built = int(meta.get("rows_at_build", 0) or 0)
            fetch_k = max(fetch_k, math.ceil(MIPS_FETCH_FLOOR * built))
        return ivfpq_topk_rerank(
            queries,
            queries.sparkSession.read.parquet(layout_path),
            meta,
            k=k,
            nprobe=nprobe,
            fetch_k=fetch_k,
            pre_filter=pre_filter,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            id_col=id_col,
            vec_col=vec_col,
        )
    if path == "ivf":
        from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
            ivf_topk_gemm,
            read_ivf_index,
            sidecar_centroids,
        )

        spark = queries.sparkSession
        return ivf_topk_gemm(
            queries,
            read_ivf_index(spark, layout_path),
            sidecar_centroids(meta),
            k=k,
            nprobe=nprobe,
            metric=metric,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            id_col=id_col,
            vec_col=vec_col,
            pre_filter=pre_filter,
        )
    if index is None:
        raise ValueError("exact search needs an index frame")
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        topk_search_gemm,
    )

    return topk_search_gemm(
        queries,
        index,
        k=k,
        metric=metric,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        id_col=id_col,
        vec_col=vec_col,
        pre_filter=pre_filter,
    )
