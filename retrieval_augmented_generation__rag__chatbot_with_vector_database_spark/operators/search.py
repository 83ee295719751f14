"""Search-path dispatcher — the single front door over the engine's
four batch-retrieval strategies, so callers say WHAT (queries, k,
metric) and the router picks HOW from what exists on disk and how big
the index is. The reference's analog is the argmax index-selection
probe before querying (`app/api/routes.py:78-116` picks the index,
then `pinecone_service.py:148-182` runs one fixed search path); here
the decision space is the engine's real strategy ladder:

| path        | when                                            |
|-------------|-------------------------------------------------|
| ``ivfpq``   | layout dir carries ``_ivfpq_meta.json`` AND the metric matches the layout's transform: raw→euclidean, ``normalize``→cosine, ``mips``→dotproduct (a transformed layout serves exactly its own metric) |
| ``ivf``     | layout dir carries ``_ivf_meta.json``           |
| ``exact_gemm`` | no layout, index rows > ``DEFAULT_HOF_MAX_ROWS`` (or unknown); OR a layout exists but its sidecar ``rows_at_build`` < ``prefer_exact_below`` (size-aware crossover: below break-even the single-stage brute-force scan beats any probe's fixed overhead) |
| ``exact_hof``  | no layout, small index                          |

Rationale: a persisted inverted-file layout always beats rescanning
(partition-pruned probe reads nprobe bucket dirs); with both quantized
and float layouts available the quantized one wins (16 B/row scan,
full-precision rerank restores quality); without any layout the exact
paths differ only in throughput — the Arrow GEMM kernel is ~100x less
per-score CPU than the interpreted HOF fold, so the fold is reserved
for small indexes.

``route()`` is a pure function of (layout sidecars, row count, flags)
and is what tests pin; ``search()`` dispatches on its answer. Routing
reads NO data — sidecar JSON and an optional cached row count only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

#: above this, the interpreted HOF fold costs more CPU than the Arrow
#: GEMM kernel's fixed overhead — measured crossover is far lower, the
#: bound just keeps tiny/test indexes on the dependency-free path
DEFAULT_HOF_MAX_ROWS = 50_000


def route(
    layout_path: str | None = None,
    n_rows: int | None = None,
    metric: str = "cosine",
    prefer_exact_below: int = 0,
) -> dict:
    """Pick the search path. Returns {"path": ..., "reason": ...};
    raises on contradictions (an IVFPQ layout's ADC is squared-L2, so
    it serves euclidean always, cosine only when the layout was built
    ``normalize=True`` — unit vectors make squared-L2 order ≡ cosine
    order — and dotproduct never).

    ``prefer_exact_below``: size-aware crossover override — when a
    layout exists but its sidecar ``rows_at_build`` is below this
    bound, route to the exact GEMM scan instead (SCALE.md finding 1:
    below a few hundred thousand rows the single-stage brute-force
    scan beats any probe's fixed multi-stage overhead; the layout
    only pays off once scan IO dominates). 0 (default) disables the
    override — a present layout is served. Routing still reads NO
    data: the row count comes from the sidecar JSON."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        IVF_META,
        ivf_meta,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.pq import (
        IVFPQ_META,
        load_ivfpq_meta,
    )

    if layout_path is not None:
        if os.path.exists(os.path.join(layout_path, IVFPQ_META)):
            meta = load_ivfpq_meta(layout_path)
            built = int(meta.get("rows_at_build", 0) or 0)
            if prefer_exact_below and built and built < prefer_exact_below:
                return {
                    "path": "exact_gemm",
                    "reason": (
                        f"layout present but rows_at_build {built} < "
                        f"prefer_exact_below {prefer_exact_below}: below "
                        "the probe/scan crossover the single-stage exact "
                        "GEMM wins"
                    ),
                }
            flags = (
                bool(meta.get("normalize", False)),
                bool(meta.get("mips", False)),
            )
            required = {
                "euclidean": (False, False),
                "cosine": (True, False),
                "dotproduct": (False, True),
            }
            if metric not in required:
                raise ValueError(f"unknown metric {metric!r}")
            if flags != required[metric]:
                raise ValueError(
                    f"metric={metric!r} needs an IVFPQ layout built with "
                    f"(normalize, mips)={required[metric]}; this layout has "
                    f"{flags} — a transformed layout serves exactly its own "
                    "metric (normalize→cosine, mips→dotproduct, raw→"
                    "euclidean); rebuild with the matching "
                    "write_ivfpq_index flags or use an IVF/float layout"
                )
            reason = {
                "euclidean": f"{IVFPQ_META} present: 16 B/row pruned probe + rerank",
                "cosine": f"{IVFPQ_META} present, normalized: ADC order "
                "≡ cosine order on unit vectors + cosine rerank",
                "dotproduct": f"{IVFPQ_META} present, MIPS-augmented: ADC "
                "order ≡ dot-product order + dotproduct rerank",
            }[metric]
            return {"path": "ivfpq", "reason": reason}
        if os.path.exists(os.path.join(layout_path, IVF_META)):
            built = int(ivf_meta(layout_path).get("rows_at_build", 0) or 0)
            if prefer_exact_below and built and built < prefer_exact_below:
                return {
                    "path": "exact_gemm",
                    "reason": (
                        f"layout present but rows_at_build {built} < "
                        f"prefer_exact_below {prefer_exact_below}: below "
                        "the probe/scan crossover the single-stage exact "
                        "GEMM wins"
                    ),
                }
            return {
                "path": "ivf",
                "reason": f"{IVF_META} present: partition-pruned nprobe probe",
            }
        raise ValueError(
            f"layout_path {layout_path!r} has neither {IVFPQ_META} nor "
            f"{IVF_META} — not a persisted vector layout"
        )
    if n_rows is not None and n_rows <= DEFAULT_HOF_MAX_ROWS:
        return {
            "path": "exact_hof",
            "reason": f"small index ({n_rows} rows <= {DEFAULT_HOF_MAX_ROWS})",
        }
    return {
        "path": "exact_gemm",
        "reason": "no layout, large/unknown index: Arrow GEMM exact scan",
    }


def search(
    queries: DataFrame,
    index: DataFrame | None = None,
    k: int = 5,
    metric: str = "cosine",
    layout_path: str | None = None,
    nprobe: int = 4,
    fetch_k: int = 50,
    n_rows: int | None = None,
    prefer_exact_below: int = 0,
    mips_fetch_floor: float = 0.01,
    pre_filter=None,
    adaptive_fetch: bool = False,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dispatching batch top-k: (query_id, vec_id, score, rank) from
    whichever strategy :func:`route` picks. ``index`` is the
    full-precision frame the exact paths scan; the layout paths read
    only ``layout_path`` (an IVFPQ layout stores the raw vectors its
    rerank needs next to the codes) and ignore it. ``n_rows`` lets
    callers who know the index size skip a count; when absent and no
    layout exists the router treats the index as large (GEMM) rather
    than pay a count job.

    ``mips_fetch_floor``: minimum over-fetch FRACTION of the index for
    dotproduct-over-IVFPQ — MIPS is the hardest metric for
    reconstruction-optimal PQ (the sqrt coordinate concentrates the
    inner-product signal), so the effective ``fetch_k`` is raised to
    at least ``mips_fetch_floor × rows_at_build`` (SCALE.md: recall
    0.037 at fetch-100 vs ≥0.9 at ~1% over-fetch on the 500k hard
    case). Only ever raises ``fetch_k``, so full-coverage results are
    unchanged.

    ``pre_filter``: a static metadata predicate (Column over index/
    layout columns — compose one from a Pinecone-style dict with
    ``functions.filter_dsl.filter_dict_to_column``, the reference's
    query-filter argument). Every strategy applies it BEFORE scoring —
    exact paths filter the scan, the IVF probe filters inside the
    pruned buckets, and the IVFPQ probe needs the layout built with
    ``meta_cols`` carrying the filtered columns (single-stage
    filtering: the top-k is the filtered corpus's own).

    ``adaptive_fetch`` (IVFPQ path only): scale ``fetch_k`` by the
    measured selectivity of the filtered probed scan, floored at
    ``k`` — see ``operators.pq.ivfpq_topk_rerank``. Off by default so
    hand-tuned fetch budgets stay byte-stable."""
    decision = route(layout_path, n_rows, metric, prefer_exact_below)
    path = decision["path"]

    if path == "ivfpq":
        from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.pq import (
            ivfpq_topk_rerank,
            load_ivfpq_meta,
        )

        meta = load_ivfpq_meta(layout_path)
        if metric == "dotproduct" and mips_fetch_floor > 0:
            import math

            built = int(meta.get("rows_at_build", 0) or 0)
            fetch_k = max(fetch_k, math.ceil(mips_fetch_floor * built))
        layout = queries.sparkSession.read.parquet(layout_path)
        return ivfpq_topk_rerank(
            queries,
            layout,
            [(int(c), v) for c, v in meta["centroids"]],
            meta["codebooks"],
            k=k,
            nprobe=nprobe,
            fetch_k=fetch_k,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            id_col=id_col,
            vec_col=vec_col,
            residual=meta.get("residual", False),
            metric=metric,
            normalized=bool(meta.get("normalize", False)),
            mips=bool(meta.get("mips", False)),
            pre_filter=pre_filter,
            rotation=meta.get("rotation"),
            adaptive_fetch=adaptive_fetch,
        )
    if path == "ivf":
        from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
            ivf_topk_gemm,
            load_centroids,
            read_ivf_index,
        )

        spark = queries.sparkSession
        return ivf_topk_gemm(
            queries,
            read_ivf_index(spark, layout_path),
            load_centroids(layout_path),
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
    if path == "exact_gemm":
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
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        topk_search,
    )

    return topk_search(
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
