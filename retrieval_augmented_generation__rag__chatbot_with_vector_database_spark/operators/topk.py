"""Top-k vector similarity search (SURVEY.md §2c J1/J3, §2e W1).

Reference: ``PineconeService.query``
(``/root/reference/app/services/pinecone_service.py:148-182``) — score a
query vector against every index vector with the index metric, return
the ``top_k`` best matches sorted by score with metadata; optional
metadata pre-filter (``:152,171-176``); k default 5, clamped 1–20 by
the API layer (``app/api/routes.py:31``).

Spark-first design for 100 TB:

- The query side is small (a batch of user questions); the index side
  is huge. We **broadcast the queries** and stream the index through a
  single narrow stage — the big side is never shuffled. Catalyst plans
  BroadcastNestedLoopJoin; scoring runs inside codegen (pure HOF
  exprs from ``functions.vector``).
- Per-query top-k uses ``row_number`` over (score desc, id asc).
  Spark ≥3.5 inserts a **WindowGroupLimit** below the shuffle, so each
  map task keeps only its local top-k per query before exchanging —
  the shuffle moves O(|Q|·k·partitions) rows, not O(|Q|·|V|).
- Metadata filters (P2) are plain ``.filter`` below the join →
  predicate pushdown reaches the Parquet scan (row-group pruning).
- Ties are broken deterministically by ascending id (Pinecone breaks
  them arbitrarily; FIXTURES.md pins this for the oracle).

The exact brute-force path here is the correctness baseline; the ANN
path for sub-linear scans is ``operators.ann`` (IVF partition pruning).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
    cosine_from,
    dot_product,
    l2_norm,
    similarity_expr,
    smaller_is_better,
)

TOP_K_MIN, TOP_K_MAX = 1, 20  # app/api/routes.py:31


def clamp_top_k(k: int) -> int:
    return max(TOP_K_MIN, min(TOP_K_MAX, k))


def _order(metric: str, score: Column, id_col: Column) -> list[Column]:
    lead = score.asc() if smaller_is_better(metric) else score.desc()
    return [lead, id_col.asc()]


def rank_top_k(scored: DataFrame, k: int, metric: str,
               score: str = "score") -> DataFrame:
    """The one per-query vector top-k window: ``rank`` = row_number
    over (``score`` in the metric's order, ``vec_id`` asc) per
    ``query_id``, kept while ``rank <= k``. Spark inserts a
    WindowGroupLimit below the shuffle, so each map task ships only its
    local top-k per query."""
    w = Window.partitionBy("query_id").orderBy(
        *_order(metric, F.col(score), F.col("vec_id"))
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def rank_top_k_arrays(query_id, vec_id, score, k: int, metric: str):
    """:func:`rank_top_k` on the driver, over numpy columns: returns
    (row indices, ranks) of each query's best ``k`` rows, in
    (``query_id``, ``rank``) order. The order is the window's: score in
    the metric's direction, then lowest ``vec_id``; NaN sorts as the
    largest value, as in Spark (first under a descending metric, last
    under an ascending one)."""
    import numpy as np

    nan = np.isnan(score)
    key = np.where(nan, 0.0, score)
    if smaller_is_better(metric):
        keys = (vec_id, key, nan)
    else:
        keys = (vec_id, -key, ~nan)
    order = np.lexsort((*keys, query_id))
    qs = query_id[order]
    start = np.r_[True, qs[1:] != qs[:-1]] if len(qs) else np.zeros(0, bool)
    # position of each row inside its query's run, 1-based
    first = np.maximum.accumulate(np.where(start, np.arange(len(qs)), 0))
    rank = np.arange(len(qs)) - first + 1
    keep = rank <= k
    return order[keep], rank[keep].astype(np.int32)


def topk_search(
    queries: DataFrame,
    index: DataFrame,
    k: int = 5,
    metric: str = "cosine",
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_filter: Column | None = None,
    per_query_filter: Column | None = None,
    query_extra_cols: tuple[str, ...] = (),
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Batch top-k: for every row of ``queries``, the ``k`` closest rows
    of ``index`` under ``metric``.

    ``pre_filter`` is a static predicate over index columns (pushed to
    the Parquet scan). ``per_query_filter`` is Pinecone's per-query
    ``filter_dict`` analog (pinecone_service.py:152): a predicate over
    index × query columns (expose query columns via
    ``query_extra_cols``) applied as the broadcast-join condition, so
    filtering still happens before scoring, per query.

    Returns ``[query_id, vec_id, score, rank, *payload_cols]`` with
    ``rank`` 1..k in match order (W1's ``enumerate(docs, 1)``).
    Queries whose filter matches nothing simply have no output rows
    (the P5 empty-guard joins them back). Under cosine a zero-norm
    query raises, as on every route.
    """
    k = clamp_top_k(k)
    if pre_filter is not None:
        index = index.filter(pre_filter)

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qvec"),
        *[F.col(c) for c in query_extra_cols],
    )
    if metric == "cosine":
        # pre-project each side's L2 norm ONCE: the naive
        # cosine expression re-folds both norms 2-3x per scored row
        # (HOF folds are interpreted — ~3x the per-row CPU).
        # Same operation order as the naive form → bit-identical scores.
        # A zero-norm query has no cosine: it raises inside the plan (no
        # extra job), as the GEMM routes raise on collecting it.
        qnorm = l2_norm(F.col("__qvec"))
        q = q.withColumn(
            "__qnorm",
            F.when(
                qnorm == 0,
                F.raise_error(
                    F.concat(
                        F.lit("zero-norm query vectors under cosine: id "),
                        F.col("query_id").cast("string"),
                    )
                ),
            ).otherwise(qnorm),
        )
        index = index.withColumn("__vnorm", l2_norm(F.col(vec_col)))
    joined = (
        index.join(F.broadcast(q), per_query_filter)
        if per_query_filter is not None
        else index.join(F.broadcast(q))
    )
    if metric == "cosine":
        score = cosine_from(
            dot_product(F.col("__qvec"), F.col(vec_col)),
            F.col("__qnorm"),
            F.col("__vnorm"),
        )
        # a zero-norm row has no cosine (NULL), so no route returns it
        joined = joined.filter(score.isNotNull())
    else:
        score = similarity_expr(metric, F.col("__qvec"), F.col(vec_col))
    scored = joined.select(
        "query_id",
        F.col(id_col).alias("vec_id"),
        score.alias("score"),
        *[F.col(c) for c in payload_cols],
    )
    return rank_top_k(scored, k, metric).select(
        "query_id", "vec_id", "score", "rank", *payload_cols
    )


def topk_search_gemm(
    queries: DataFrame,
    index: DataFrame,
    k: int = 5,
    metric: str = "cosine",
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_filter: Column | None = None,
) -> DataFrame:
    """Batch top-k by blocked matrix multiply — the high-throughput
    exact path for large indexes.

    The query matrix is collected to the driver (RAG batches are
    small by construction — bounded user questions, not corpus rows)
    and closed over by a ``mapInArrow`` kernel; every index Arrow
    batch becomes one dense GEMM against it, and only each batch's
    local top-k per query survives to the global top-k window. The
    shuffle moves O(|Q|·k·batches) rows; the index is scanned once,
    never shuffled. The kernel is the IVF probe's
    (``ann.gemm_topk``) with no pruning: one bucket that every query
    probes.

    ``mapInArrow`` (not mapInPandas) matters: the vector column is
    viewed straight from the Arrow list buffer — pandas would convert
    every cell to an ndarray individually, costing ~50x the GEMM
    itself. ~100x less per-score CPU than the interpreted
    higher-order-function fold (use ``topk_search`` when bit-exact
    fold-order parity with a SQL oracle matters more than speed —
    GEMM reorders the accumulation). A null vector, or one whose
    length differs from the query dimension, raises ``ValueError``.

    The query collect is bounded (``ann.MAX_GEMM_QUERIES``, loud
    failure; an unknown metric raises there too) and
    zero-norm index vectors under cosine are dropped before top-k
    selection — a 0/0 NaN would sort ABOVE every real score in a
    descending numpy partition, handing NaN rows the top-k slots the
    expression path (NULL score, sorts last) would never give them.
    """
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        collect_query_matrix,
        gemm_topk,
    )

    k = clamp_top_k(k)
    if pre_filter is not None:
        index = index.filter(pre_filter)
    qids, Q, Qm = collect_query_matrix(queries, query_id_col, query_vec_col, metric)
    cand = index.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__vec"))
    return gemm_topk(cand, qids, Q, Qm, metric, k)


def mmr_rerank(
    candidates: DataFrame,
    k: int,
    lam: float = 0.7,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "score",
    max_candidates: int = 4096,
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein, SIGIR
    1998): greedily pick k results maximizing ``lam * relevance -
    (1 - lam) * max cosine to the already-picked set`` — the standard
    diversity rerank vector stores expose (e.g. LangChain's
    ``search_type="mmr"`` over the reference's Pinecone retriever,
    which the reference leaves at plain similarity). ``lam=1``
    degenerates to the input relevance order.

    Greedy selection is inherently sequential, so this is the
    legitimate ``applyInPandas`` case (SURVEY.md §2j): the reranker
    runs per query over the BOUNDED candidate set a first-stage
    retrieval already produced (top-N, N <= ``max_candidates`` —
    enforced with a loud error, never silently truncated). The
    expensive corpus scan stays in the first stage; this stage is
    O(N * k) per query, distributed across queries.

    Ties break by ascending id at equal MMR score (FIXTURES.md
    determinism convention). Emits (query_col, id_col, mmr_rank,
    mmr) — ``mmr`` is the score at selection time; the first pick's
    is ``lam * relevance`` (empty-set diversity term = 0).
    """
    import numpy as np
    import pandas as pd

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_candidates:
            raise ValueError(
                f"mmr_rerank: candidate set of {n} exceeds max_candidates="
                f"{max_candidates} for query {pdf[query_col].iloc[0]!r}; "
                "tighten the first-stage top-N instead"
            )
        ids = pdf[id_col].to_numpy()
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0.0] = 1.0  # zero vectors: cosine treated as 0
        U = V / norms[:, None]
        picked: list[int] = []
        scores: list[float] = []
        # max cosine to the picked set; None before the first pick
        # (the empty-set diversity term is ABSENT, not 0 — a floor at
        # 0 would mute the penalty when all similarities are negative)
        max_sim = None
        avail = np.ones(n, dtype=bool)
        for _ in range(min(k, n)):
            if max_sim is None:
                mmr = lam * rel
            else:
                mmr = lam * rel - (1.0 - lam) * max_sim
            best = np.max(mmr[avail])
            cand = ids[avail & (mmr == best)]
            i = int(np.nonzero(avail & (mmr == best) & (ids == cand.min()))[0][0])
            picked.append(i)
            scores.append(float(mmr[i]))
            avail[i] = False
            s = U @ U[i]
            max_sim = s if max_sim is None else np.maximum(max_sim, s)
        out = pdf.iloc[picked][[query_col, id_col]].copy()
        out["mmr_rank"] = np.arange(1, len(picked) + 1, dtype=np.int32)
        out["mmr"] = scores
        return out

    schema = (
        candidates.select(query_col, id_col)
        .withColumn("mmr_rank", F.lit(1).cast("int"))
        .withColumn("mmr", F.lit(0.0).cast("double"))
        .schema
    )
    return candidates.groupBy(query_col).applyInPandas(kernel, schema=schema)
