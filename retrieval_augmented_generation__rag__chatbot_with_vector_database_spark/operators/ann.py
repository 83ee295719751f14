"""Approximate nearest neighbor via IVF (inverted-file) partition
pruning — the scale path for the reference's top-k similarity search
(``/root/reference/app/services/pinecone_service.py:148-182``, which
delegates ANN to the Pinecone service; we implement it as DataFrame
ops per SURVEY.md §4 item 2).

Design (FAISS-style IVF, Spark-first):

1. **Coarse quantizer**: ``k`` centroids. Seed selection is
   deterministic (the ``k`` lowest-id vectors) so the whole pipeline
   is reproducible in the DuckDB oracle; ``lloyd_refine`` improves
   them with standard k-means iterations when quality matters more
   than oracle parity.
2. **Assignment is a map, not a join**: centroids are collected to
   the driver (k·dim doubles — tiny by construction) and closed over
   by one ``mapInArrow`` GEMM kernel, so every index vector gets its
   nearest-centroid id inside a single narrow stage. No shuffle, no
   join; at 100 TB this is one pass over the index, fully parallel.
3. **Layout**: ``write_ivf_index`` writes the assigned index
   partitioned by ``centroid_id``. A probe touches only the ``nprobe``
   of ``k`` partitions its queries pick (static Parquet partition
   pruning). The IVF and IVFPQ (``operators.pq``) layouts share one
   write tail (:func:`write_centroid_layout`), one upsert tail
   (:func:`upsert_centroid_rows`) and one per-id delete
   (:func:`delete_centroid_ids`); each layout's sidecar holds its
   centroid list.
4. **Probe**: score query↔centroids on the driver (tiny), take the
   ``nprobe`` best centroids per query, scan only the probed
   partitions and score each Arrow batch bucket by bucket against the
   queries probing it (``gemm_topk``), then the per-query top-k
   window. The preparation (query matrix, probe plan, bound kernel) is
   a :class:`Probe`; :func:`probe_on_spark` runs it as one
   ``mapInArrow`` stage, and ``operators.search`` runs a small one on
   the driver.

Recall is tunable by ``nprobe`` (see the ``ann_ivf_recall`` query:
IVF@nprobe vs the exact scan, per query).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
    check_metric,
    cosine_from,
    dot_product,
    l2_norm,
    similarity_expr,
    smaller_is_better,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
    rank_top_k,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.layout import (
    check_not_torn,
    delete_keys,
    pick_survivors,
    read_parquet,
    release_local_checkpoint,
    upsert_keys,
)

IVF_META = "_ivf_meta.json"


def check_centroid_ids(centroids: list[tuple[int, list[float]]]) -> None:
    """The IVF and IVFPQ layouts store ``centroid_id`` as int32; an id
    outside that range would be silently truncated by the assignment
    kernels, so a writer refuses it up front."""
    for cid, _ in centroids:
        if not -(2**31) <= int(cid) < 2**31:
            raise ValueError(
                f"centroid id {int(cid)} does not fit the layout's int32 "
                "centroid_id; label the centroids 0..n-1"
            )


def seed_centroids(index: DataFrame, k: int, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> list[tuple[int, list[float]]]:
    """Deterministic coarse-quantizer seeds: the ``k`` lowest-id
    vectors, as driver-local ``(centroid_id, vector)`` pairs.
    Centroid ids are the source vector ids (stable, oracle-friendly).
    """
    rows = (
        index.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy("id")
        .limit(k)
        .collect()
    )
    return [(int(r["id"]), [float(x) for x in r["v"]]) for r in rows]


def _py_l2(vec: list[float]) -> float:
    """Left-fold sum of squares — the same IEEE op order as the
    Spark/DuckDB folds, so driver-side centroid norms are
    bit-identical to engine-side ones."""
    s = 0.0
    for x in vec:
        s += x * x
    return s ** 0.5


def check_centroid_norms(centroids: list[tuple[int, list[float]]],
                         metric: str) -> None:
    """Under cosine a zero-norm centroid has no direction: every row
    would score NaN against it, and which rows it captured would be an
    accident of the kernel. The assignment kernel and the probe refuse
    it up front."""
    if metric != "cosine":
        return
    for cid, vec in centroids:
        if _py_l2(vec) == 0.0:
            raise ValueError(
                f"centroid {int(cid)} has norm 0, so its cosine is undefined; "
                "seed the quantizer from nonzero vectors"
            )


def _centroid_matrix(centroids: list[tuple[int, list[float]]], metric: str):
    """(cids, C) in ascending cid order, so a first-maximum argmax or a
    stable argsort over C breaks score ties to the lowest cid."""
    import numpy as np

    check_centroid_norms(centroids, metric)
    centroids = sorted(centroids, key=lambda c: c[0])
    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    C = np.array([v for _, v in centroids], dtype=np.float64)
    if metric == "cosine":
        C = C / np.linalg.norm(C, axis=1, keepdims=True)
    return cids, C


def assign_centroids_gemm(
    index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    metric: str = "cosine",
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
) -> DataFrame:
    """Add ``out_col`` = the nearest centroid's id under ``metric``: one
    ``mapInArrow`` matmul per Arrow batch (the engine's only centroid
    assignment kernel). Ties go to the lowest cid (np.argmax keeps the
    first maximum over the cid-ordered centroid matrix); under cosine
    a zero-norm row scores -inf everywhere and so lands in the lowest
    cid. An unknown ``metric`` raises (the kernel's ``else`` branch
    would assign by euclidean), and so does a null vector or one whose
    length is not the centroid dimension."""
    import numpy as np

    check_metric(metric)
    cids, C = _centroid_matrix(centroids, metric)
    dim = C.shape[1]
    names = index.columns
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in index.schema.fields]
        + [f"{out_col} int"]
    )

    def kernel(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            B = list_matrix(rb, vec_col, dim).astype(np.float64, copy=False)
            if metric == "cosine":
                with np.errstate(divide="ignore", invalid="ignore"):
                    B = B / np.linalg.norm(B, axis=1, keepdims=True)
                best = np.argmax(np.nan_to_num(B @ C.T, nan=-np.inf), axis=1)
            elif metric == "dotproduct":
                best = np.argmax(B @ C.T, axis=1)
            else:  # euclidean
                d2 = (B * B).sum(axis=1)[:, None] - 2.0 * (B @ C.T) + (C * C).sum(axis=1)[None, :]
                best = np.argmin(d2, axis=1)
            assigned = pa.array(cids[best].astype(np.int32), type=pa.int32())
            yield pa.RecordBatch.from_arrays(
                [rb.column(i) for i in range(rb.num_columns)] + [assigned],
                names=names + [out_col],
            )

    return index.mapInArrow(kernel, out_schema)


#: driver-collect bound for every GEMM/ADC query side (IVF, IVFPQ, PQ
#: and the exact GEMM scan all collect through collect_query_matrix)
MAX_GEMM_QUERIES = 4096


def collect_query_matrix(
    queries: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    metric: str,
):
    """Collect the (bounded) query side for a GEMM kernel.

    An unknown ``metric`` raises before any job runs: every kernel
    branches on the name, and an unrecognized one would fall into its
    ``else`` branch and rank by the wrong order. The collect is capped
    via ``limit(MAX_GEMM_QUERIES + 1)`` so an oversized query side
    fails loudly with a clear error BEFORE materializing on the driver
    — misuse can't OOM it. Zero-norm query vectors are rejected under
    cosine (their similarity is undefined; the expression path yields
    NULL scores, which a dense kernel cannot represent)."""
    import numpy as np

    check_metric(metric)
    qrows = (
        queries.select(
            F.col(query_id_col).alias("qid"), F.col(query_vec_col).alias("qv")
        )
        .limit(MAX_GEMM_QUERIES + 1)
        .collect()
    )
    if len(qrows) > MAX_GEMM_QUERIES:
        raise ValueError(
            f"GEMM query side exceeds {MAX_GEMM_QUERIES} rows; the query matrix "
            "is collected to the driver by design (bounded user questions). "
            "For corpus-scale 'query' sides use the join/expression paths."
        )
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    Q = np.array([list(r["qv"]) for r in qrows], dtype=np.float64)
    if metric == "cosine":
        norms = np.linalg.norm(Q, axis=1)
        if (norms == 0).any():
            bad = qids[norms == 0][:5].tolist()
            raise ValueError(f"zero-norm query vectors under cosine: ids {bad}")
        Qm = Q / norms[:, None]
    else:
        Qm = Q
    return qids, Q, Qm


def list_matrix(batch, name: str, width: int):
    """The one Arrow vector decode: list column ``name`` of ``batch`` as
    an n × ``width`` matrix viewing the values buffer (zero-copy,
    stored dtype). Raises unless every row is non-null and holds
    exactly ``width`` values — a ragged row would silently shift every
    later row's codes or coordinates."""
    import numpy as np

    col = batch.column(name)
    if col.null_count:
        raise ValueError(
            f"{name} column is not fixed-width {width}: "
            f"{col.null_count} null row(s)"
        )
    off = np.asarray(col.offsets, dtype=np.int64)
    widths = np.diff(off)
    if not (widths == width).all():
        raise ValueError(
            f"{name} column is not fixed-width {width}: widths "
            f"{sorted(set(int(w) for w in widths))[:5]}"
        )
    return np.asarray(col.values)[off[0] : off[-1]].reshape(
        batch.num_rows, width
    )


def probe_plan(Q, centroids: list[tuple[int, list[float]]], nprobe: int,
               metric: str):
    """The one probe plan: each query's ``nprobe`` best centroids under
    ``metric`` (ties to the lowest cid), returned as (probed cids
    ascending, bucket → ascending indices of the queries probing it).
    ``Q`` is the query matrix in the metric's scoring form (unit rows
    under cosine). The euclidean order drops |q|², which is constant
    per query and only adds rounding."""
    import numpy as np

    cids, C = _centroid_matrix(centroids, metric)
    if metric == "euclidean":
        key = -2.0 * (Q @ C.T) + (C * C).sum(axis=1)[None, :]
    else:
        key = -(Q @ C.T)
    probed = cids[np.argsort(key, axis=1, kind="stable")[:, :nprobe]]
    by_bucket: dict[int, list[int]] = {}
    for qi, row in enumerate(probed):
        for c in row:
            by_bucket.setdefault(int(c), []).append(qi)
    return sorted(by_bucket), {
        c: np.array(v, dtype=np.int64) for c, v in by_bucket.items()
    }


def gemm_blocks(batches, *, qids, Qm, q_sq, metric: str, k: int,
                compressed: bool, by_bucket: dict | None):
    """The one GEMM block kernel (see :func:`gemm_topk`): per Arrow
    batch of ``cand``, each bucket's rows scored against the queries
    probing it, and per query every row at least as good as the k-th."""
    import numpy as np
    import pyarrow as pa

    dim = Qm.shape[1]
    smaller = smaller_is_better(metric)
    q_all = np.arange(len(qids))
    for rb in batches:
        if rb.num_rows == 0:
            continue
        ids = rb.column("vec_id").to_numpy(zero_copy_only=False).astype(np.int64)
        if compressed:
            B = list_matrix(rb, "q8", dim).astype(np.float64)
            B = B * rb.column("q8_scale").to_numpy(zero_copy_only=False)[:, None]
        else:
            B = list_matrix(rb, "__vec", dim).astype(np.float64, copy=False)
        bucket = (
            None
            if by_bucket is None
            else rb.column("centroid_id").to_numpy(zero_copy_only=False)
        )
        if metric == "cosine":
            bn = np.linalg.norm(B, axis=1)
            valid = bn != 0
            if not valid.all():
                ids, B, bn = ids[valid], B[valid], bn[valid]
                if bucket is not None:
                    bucket = bucket[valid]
                if B.shape[0] == 0:
                    continue
            B = B / bn[:, None]
        # the layout is partitioned by centroid_id, so a batch holds
        # one (rarely a few) buckets: score each bucket's rows against
        # ONLY the queries that probe it — compute is exactly the
        # probed (query, vector) pairs
        blocks = (
            [(q_all, slice(None))]
            if bucket is None
            else [
                (by_bucket.get(int(c)), np.nonzero(bucket == c)[0])
                for c in np.unique(bucket)
            ]
        )
        out_q, out_i, out_s = [], [], []
        for qsel, rsel in blocks:
            if qsel is None:
                continue
            Bb = B[rsel]
            if metric == "euclidean":
                S = np.sqrt(
                    np.maximum(
                        (Bb * Bb).sum(axis=1)[:, None]
                        - 2.0 * (Bb @ Qm[qsel].T)
                        + q_sq[qsel][None, :],
                        0.0,
                    )
                )
            else:
                S = Bb @ Qm[qsel].T  # (rows_in_bucket, probing_q)
            key = S if smaller else -S
            kk = min(k, Bb.shape[0])
            # a NaN k-th key (fewer than kk non-NaN scores) keeps the
            # whole column, as a top-kk cut would have
            kth = np.partition(key, kk - 1, axis=0)[kk - 1]
            keep = (key <= kth[None, :]) | np.isnan(kth)[None, :]
            rows_q, rows_i = np.nonzero(keep.T)
            out_q.append(qids[qsel][rows_q])
            out_i.append(ids[rsel][rows_i])
            out_s.append(S[rows_i, rows_q])
        if out_q:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), type=pa.int64()),
                    pa.array(np.concatenate(out_i), type=pa.int64()),
                    pa.array(np.concatenate(out_s), type=pa.float64()),
                ],
                names=["query_id", "vec_id", "score"],
            )


def _gemm_kernel(qids, Q, Qm, metric: str, k: int, compressed: bool,
                 by_bucket: dict | None):
    return partial(
        gemm_blocks, qids=qids, Qm=Qm, q_sq=(Q * Q).sum(axis=1),
        metric=metric, k=k, compressed=compressed, by_bucket=by_bucket,
    )


#: the schema every probe kernel emits
SCORED_SCHEMA = "query_id long, vec_id long, score double"


@dataclass(frozen=True)
class Probe:
    """One prepared centroid-layout probe, computed once and run by
    either executor (:func:`probe_on_spark`, or on the driver in
    ``operators.search``): the kernel bound over the query matrix and
    the probe plan (Arrow batches → ``SCORED_SCHEMA`` batches), the
    probed bucket ids, the kernel's input columns as ``kernel name →
    layout column``, and the final window's metric and ``k``."""

    kernel: Callable
    probed: list
    columns: dict
    metric: str
    k: int


def probe_on_spark(layout: DataFrame, probe: Probe, pre_filter=None) -> DataFrame:
    """The Spark executor of a :class:`Probe`: the layout scan pruned
    to the probed ``centroid_id`` directories (PartitionFilters), the
    ``pre_filter`` pushed into the same scan, the kernel in one
    ``mapInArrow`` and the per-query top-k window
    (:func:`topk.rank_top_k`)."""
    pruned = layout.filter(F.col("centroid_id").isin(probe.probed))
    if pre_filter is not None:
        pruned = pruned.filter(pre_filter)
    scored = pruned.select(
        *[F.col(src).alias(name) for name, src in probe.columns.items()]
    ).mapInArrow(probe.kernel, SCORED_SCHEMA)
    return rank_top_k(scored, probe.k, probe.metric)


def gemm_topk(cand: DataFrame, qids, Q, Qm, metric: str, k: int,
              by_bucket: dict | None = None) -> DataFrame:
    """The exact scan's and the IVF probe's GEMM top-k: (query_id,
    vec_id, score, rank) of the collected queries
    (``collect_query_matrix``'s ``qids, Q, Qm``) against ``cand``, which
    carries ``vec_id``, ``__vec`` (or an int8 layout's
    ``q8``/``q8_scale``) and, for a probe, ``centroid_id``.

    Per Arrow batch (:func:`gemm_blocks`): decode → under cosine drop
    zero-norm rows (their score is undefined, so no route returns them)
    and normalize → per bucket, one score block against only the
    queries probing it (``by_bucket`` from :func:`probe_plan`; ``None``
    is the unpruned scan, one bucket every query probes) → per query,
    every row whose score is at least as good as the k-th best, merged
    by :func:`topk.rank_top_k`. Rows tied at the k-th score all survive
    the batch, so the window's (score, ``vec_id``) order decides among
    them, as it does on every other route."""
    kernel = _gemm_kernel(qids, Q, Qm, metric, k, "q8" in cand.columns, by_bucket)
    return rank_top_k(cand.mapInArrow(kernel, SCORED_SCHEMA), k, metric)


def ivf_topk_gemm(
    queries: DataFrame,
    index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 4,
    metric: str = "cosine",
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_filter=None,
) -> DataFrame:
    """The IVF probe: GEMM scoring over an index that carries
    ``centroid_id`` (a ``write_ivf_index`` layout, or a frame from
    :func:`assign_centroids_gemm`), any of the reference's three metrics
    (``pinecone_service.py:33-39``). The probe plan
    (:func:`probe_plan`) is computed driver-side from the centroid
    matrix (tiny), the scan is statically pruned to the probed buckets,
    and each Arrow batch is scored bucket-by-bucket against only the
    queries probing it (:func:`gemm_topk`). A null vector, or one whose
    length differs from the query dimension, raises ``ValueError``; so
    does a zero-norm centroid under cosine.

    Transparently handles int8-compressed layouts
    (``write_ivf_index(compression="int8")``): when the index carries
    ``q8``/``q8_scale`` instead of the vector column, each Arrow batch
    is dequantized in-kernel (one int8→float64 multiply) before the
    GEMM — the scan moves ~4x fewer bytes.

    Pinecone-style filtered ANN: ``pre_filter`` lands in the SAME
    pruned scan (PushedFilters next to PartitionFilters), so filtered
    rows never reach the GEMM kernel."""
    probe = ivf_probe(
        queries, centroids, k, nprobe, metric,
        "q8" in index.columns and vec_col not in index.columns,
        query_id_col, query_vec_col, id_col, vec_col,
    )
    return probe_on_spark(index, probe, pre_filter)


def ivf_probe(queries: DataFrame, centroids: list[tuple[int, list[float]]],
              k: int, nprobe: int, metric: str, compressed: bool,
              query_id_col: str, query_vec_col: str, id_col: str,
              vec_col: str) -> Probe:
    """The IVF probe's preparation (:func:`ivf_topk_gemm`): the query
    matrix, its :func:`probe_plan` and the bound GEMM block kernel."""
    qids, Q, Qm = collect_query_matrix(
        queries, query_id_col, query_vec_col, metric
    )
    probed, by_bucket = probe_plan(Qm, centroids, nprobe, metric)
    vecs = {"q8": "q8", "q8_scale": "q8_scale"} if compressed else {"__vec": vec_col}
    return Probe(
        kernel=_gemm_kernel(qids, Q, Qm, metric, k, compressed, by_bucket),
        probed=probed,
        columns={"vec_id": id_col, "centroid_id": "centroid_id", **vecs},
        metric=metric,
        k=k,
    )


def ivf_topk_rerank(
    queries: DataFrame,
    compressed_layout: DataFrame,
    full_index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 4,
    metric: str = "cosine",
    expand: int = 4,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage probe for int8 layouts: quantized GEMM generates
    ``expand·k`` candidates per query (cheap — 4x fewer scan bytes),
    then ONLY those candidates are re-scored against the
    full-precision vectors. Quantization error reorders near-ties, so
    candidate RECALL survives compression much better than candidate
    RANKING — rerank recovers the exact ordering within the candidate
    set (SCALE.md: 0.43 → ~1.0 recall@10 on a near-duplicate-dense
    corpus).

    Plan shape: candidate ids (|Q|·expand·k rows — driver-bounded) are
    BROADCAST against the full index scan, so the big side is filtered
    in place, never shuffled; then queries broadcast for exact
    scoring; final per-query top-k window is O(|Q|·k·partitions).
    """
    cand = ivf_topk_gemm(
        queries,
        compressed_layout,
        centroids,
        k=expand * k,
        nprobe=nprobe,
        metric=metric,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    ).select("query_id", "vec_id")

    qv = F.col(query_vec_col).cast("array<double>")
    qb = queries.select(
        F.col(query_id_col).alias("query_id"),
        qv.alias("__qvec"),
        *([l2_norm(qv).alias("__qnorm")] if metric == "cosine" else []),
    )
    idx = full_index.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__vec")
    )
    pairs = idx.join(F.broadcast(cand), "vec_id").join(F.broadcast(qb), "query_id")
    if metric == "cosine":
        score = cosine_from(
            dot_product(F.col("__qvec"), F.col("__vec")),
            F.col("__qnorm"),
            l2_norm(F.col("__vec")),
        )
    else:
        score = similarity_expr(metric, F.col("__qvec"), F.col("__vec"))
    scored = pairs.select("query_id", "vec_id", score.alias("score"))
    return rank_top_k(scored, k, metric)


def write_ivf_index(
    index: DataFrame,
    path: str,
    centroids: list[tuple[int, list[float]]],
    metric: str = "cosine",
    vec_col: str = "embedding",
    compression: str | None = None,
) -> None:
    """Materialize the IVF layout: parquet partitioned by
    ``centroid_id`` so probes prune to ``nprobe`` directories. Rows are
    assigned by :func:`assign_centroids_gemm`.

    ``compression="int8"`` stores symmetric per-vector int8
    quantization (``q8`` array<tinyint> + ``q8_scale``) INSTEAD of the
    float vector — ~4x smaller on disk and in scan, the standard
    memory lever for billion-vector indexes. Assignment still happens
    on the full-precision vectors; the probe dequantizes in-kernel
    (``ivf_topk_gemm`` detects the layout). Reconstruction error is
    bounded by max|x|/254 per coordinate (see
    ``functions.vector.quantize_int8``; quality profiled by the
    ``vector_quantization_error`` query)."""
    if compression not in (None, "int8"):
        raise ValueError("compression must be None or 'int8'")
    assigned = assign_centroids_gemm(index, centroids, metric, vec_col)
    if compression == "int8":
        assigned = _compress_int8(assigned, vec_col)
    write_centroid_layout(
        assigned,
        path,
        IVF_META,
        {
            "metric": metric,
            "compression": compression,
            "n_centroids": len(centroids),
            "centroids": centroids,
            "vec_col": vec_col,
        },
    )


def write_centroid_layout(rows: DataFrame, path: str, meta_file: str,
                          sidecar: dict) -> None:
    """The one write tail of the IVF and IVFPQ layouts: ``rows`` (each
    carrying ``centroid_id``) written partitioned by ``centroid_id``,
    one shuffle partition per centroid, then the sidecar with the
    centroid list (``sidecar["centroids"]``, the exact build-time
    quantizer: upserts after a process restart recover it instead of
    re-deriving a different one from the mutated corpus) and fresh
    staleness counters.

    The row count rides the write job as an observed metric, not a
    separate count job. Observed metrics accumulate per ATTEMPTED task,
    so stage retries or speculative duplicates can over-count:
    ``rows_at_build`` is a staleness indicator, not an exactness
    contract."""
    from pyspark.sql import Observation

    centroids = sidecar_centroids(sidecar)
    check_centroid_ids(centroids)
    obs = Observation()
    (
        rows.observe(obs, F.count(F.lit(1)).alias("n"))
        .repartition(len(centroids), F.col("centroid_id"))
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path)
    )
    with open(os.path.join(path, meta_file), "w") as f:
        json.dump(
            {
                **sidecar,
                "centroids": centroids,
                "rows_at_build": int(obs.get["n"]),
                "upserted_since_build": 0,
                "deleted_since_build": 0,
            },
            f,
        )


def _compress_int8(assigned: DataFrame, vec_col: str) -> DataFrame:
    """Replace the float vector column with symmetric per-vector int8
    quantization (``q8`` + ``q8_scale``) — shared by the build and the
    incremental-upsert paths so both produce bit-identical layouts."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
        quantization_scale,
        quantize_int8,
    )

    keep = [c for c in assigned.columns if c != vec_col]
    return assigned.withColumn("q8_scale", quantization_scale(vec_col)).select(
        *keep,
        "q8_scale",
        quantize_int8(vec_col, F.col("q8_scale")).alias("q8"),
    )


def read_sidecar(path: str, meta_file: str) -> dict:
    """A centroid layout's build/maintenance sidecar."""
    with open(os.path.join(path, meta_file)) as f:
        return json.load(f)


def ivf_meta(path: str) -> dict:
    """Read the IVF layout's build/maintenance sidecar."""
    return read_sidecar(path, IVF_META)


def load_centroids(path: str) -> list[tuple[int, list[float]]]:
    """Recover the exact build-time quantizer from the layout sidecar
    (survives process restarts — ``seed_centroids`` re-run against the
    since-mutated corpus would yield a DIFFERENT list)."""
    return sidecar_centroids(ivf_meta(path))


def sidecar_centroids(meta: dict) -> list[tuple[int, list[float]]]:
    """The build-time centroid list of an already-parsed sidecar."""
    if "centroids" not in meta:
        raise ValueError(
            "layout sidecar predates centroid persistence (no 'centroids'); "
            "rebuild with write_ivf_index to enable recovery"
        )
    return [(int(cid), [float(x) for x in vec]) for cid, vec in meta["centroids"]]


def sidecar_staleness(meta: dict) -> float:
    """Fraction of a centroid layout changed (upserted + deleted) since
    its last full build, from its sidecar — the retrain trigger of the
    IVF and IVFPQ layouts alike."""
    changed = int(meta.get("upserted_since_build", 0)) + int(
        meta.get("deleted_since_build", 0)
    )
    return changed / max(int(meta.get("rows_at_build") or 1), 1)


def bump_sidecar(path: str, meta_file: str, meta: dict, counter: str,
                 n: int) -> float:
    """Add ``n`` to the sidecar's ``counter`` (``upserted_since_build``
    or ``deleted_since_build``), persist it, return the new staleness."""
    meta[counter] = int(meta.get(counter, 0)) + n
    with open(os.path.join(path, meta_file), "w") as f:
        json.dump(meta, f)
    return sidecar_staleness(meta)


def delete_centroid_ids(spark: SparkSession, path: str,
                        ids: DataFrame | list[int], id_col: str,
                        meta_file: str) -> dict:
    """Per-id delete shared by the IVF and IVFPQ layouts: rewrite only
    the ``centroid_id`` partitions holding the ids and count the rows
    removed into the sidecar's ``deleted_since_build``."""
    check_not_torn(path)
    meta = read_sidecar(path, meta_file)
    if isinstance(ids, list):
        ids_df = spark.createDataFrame(
            [(int(i),) for i in ids], f"{id_col} long"
        )
    else:
        ids_df = ids.select(F.col(ids.columns[0]).alias(id_col))
    ids_df = ids_df.distinct().localCheckpoint(eager=True)
    n_deleted, touched = delete_keys(
        read_parquet(spark, path), path, "centroid_id", ids_df, id_col
    )
    release_local_checkpoint(ids_df)
    staleness = (
        bump_sidecar(path, meta_file, meta, "deleted_since_build", n_deleted)
        if touched
        else sidecar_staleness(meta)
    )
    return {"touched": touched, "n_deleted": n_deleted, "staleness": staleness}


def ivf_staleness(path: str) -> float:
    """Fraction of the layout changed (upserted + deleted) since the
    last full build — the retrain trigger (centroids drift as the
    corpus moves, and deletions remove mass the quantizer was trained
    on; rebuild when this crosses a policy bound, e.g. 0.2)."""
    return sidecar_staleness(ivf_meta(path))


def read_ivf_index(spark: SparkSession, path: str) -> DataFrame:
    """Read the layout back, failing loudly on a torn partition swap."""
    check_not_torn(path)
    return read_parquet(spark, path)


def upsert_ivf_index(
    spark: SparkSession,
    path: str,
    records: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incrementally merge ``records`` into an existing
    ``write_ivf_index`` layout — the ANN-side analogue of the flat
    index's bucketed upsert, so streaming ingest (S8) keeps the search
    index current without a full rebuild.

    Cost is O(|batch| + |touched centroid partitions|), not O(|index|):
    each record is assigned to its nearest centroid
    (:func:`assign_centroids_gemm`, a narrow map), then
    :func:`upsert_centroid_rows` merges the batch into the touched
    partitions only. Metric, compression and the centroid list are all
    read from the sidecar, so the merged partitions come from the same
    kernels and the same quantizer as the build; a sidecar without
    ``centroids`` raises before any write.

    Intra-batch duplicates resolve by the same total order as the flat
    index's ``merge_last_write_wins`` (md5 over the payload), so a
    micro-batch carrying one ``vec_id`` twice — possibly assigned to
    two different centroids — contributes exactly one survivor row.

    Returns ``{"touched": [...], "n_upserted": int, "staleness": float}``.
    """

    def rows_of(meta: dict) -> DataFrame:
        assigned = pick_survivors(
            assign_centroids_gemm(
                records, sidecar_centroids(meta), meta["metric"], vec_col
            ),
            id_col,
        )
        if meta.get("compression") == "int8":
            return _compress_int8(assigned, vec_col)
        return assigned

    return upsert_centroid_rows(spark, path, IVF_META, rows_of, id_col)


def upsert_centroid_rows(spark: SparkSession, path: str, meta_file: str,
                         rows_of, id_col: str) -> dict:
    """The one upsert tail of the IVF and IVFPQ layouts: refuse a torn
    swap, read the sidecar, build the batch's layout rows with
    ``rows_of(sidecar)``, materialize them once (the merge reads them
    for their keys, their partitions and their rows) and count them.
    An empty batch returns the current staleness. Otherwise
    ``sources.layout.upsert_keys`` rewrites only the partitions the old
    versions leave and the new rows enter, under the crash-consistent
    swap, the checkpoint blocks are released and the sidecar's
    ``upserted_since_build`` grows by the batch.

    Returns ``{"touched": [...], "n_upserted": int, "staleness": float}``.
    """
    check_not_torn(path)
    meta = read_sidecar(path, meta_file)
    fresh = rows_of(meta).localCheckpoint(eager=True)
    n_new = fresh.count()
    touched = []
    if n_new:
        touched = upsert_keys(
            read_parquet(spark, path), path, "centroid_id", fresh, id_col
        )
    release_local_checkpoint(fresh)
    return {
        "touched": touched,
        "n_upserted": n_new,
        "staleness": (
            bump_sidecar(path, meta_file, meta, "upserted_since_build", n_new)
            if n_new
            else sidecar_staleness(meta)
        ),
    }


def delete_ivf_ids(
    spark: SparkSession,
    path: str,
    ids: DataFrame | list[int],
    id_col: str = "vec_id",
) -> dict:
    """Right-to-be-forgotten / takedown propagation for the float IVF
    layout — same touched-partition discipline as
    :func:`upsert_ivf_index`: a broadcast join finds the centroid
    partitions that HOLD the ids, only those are re-merged via
    anti-join and crash-consistently swapped (a partition emptied by
    the delete disappears from the layout); untouched partitions stay
    byte-identical. Deleting absent ids is a no-op. Deletions count
    into ``deleted_since_build`` — quantizer drift exactly like
    upserts — so :func:`ivf_staleness` fires the retrain policy on
    churn, not only growth. Composes with ``VectorIndex.delete_ids`` /
    ``LexicalIndex.delete_docs`` / ``pq.delete_ivfpq_ids`` for
    cross-layout takedown of a document.

    Returns ``{"touched": [...], "n_deleted": int, "staleness": float}``.
    """
    return delete_centroid_ids(spark, path, ids, id_col, IVF_META)


def split_skewed_centroids(
    index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    max_rows: int,
    metric: str = "cosine",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_rounds: int = 5,
) -> list[tuple[int, list[float]]]:
    """Split oversized IVF cells before materializing the layout
    (VERDICT r2 "what's wrong" #3): on skewed corpora (near-duplicate
    blobs, hot topics) one centroid can swallow a large fraction of
    the index, making its partition the straggler task of every probe
    and defeating nprobe pruning.

    Each round: assign → count cells → for every cell above
    ``max_rows``, replace its centroid with ``ceil(n/max_rows)``
    sub-seeds (the lowest-id member vectors — same deterministic seed
    rule as :func:`seed_centroids`); repeat until no cell exceeds the
    bound or ``max_rounds``. Sub-seed ids are member vec_ids, so ids
    stay globally unique and stable (a centroid's own source vector
    always self-assigns, so a kept centroid's id can never reappear as
    another cell's seed). The returned list is cid-sorted — the
    argmax-tiebreak contract of the GEMM kernels.

    Per round: one narrow assignment pass + one groupBy count + one
    windowed seed-pick over only the oversized cells. The final
    histogram is what ``ann_ivf_partition_sizes`` reports; probes use
    the returned centroid list unchanged (scale nprobe with the split
    factor to hold recall).

    Sub-seed id uniqueness is enforced, not assumed: kept centroids'
    cids are excluded from sub-seed candidacy (the "member vector
    self-assigns" argument fails under exact ties and never held for
    ``lloyd_refine``'d means), and split cells are disjoint, so the
    returned cid list is always duplicate-free — guarded by an
    invariant check that raises rather than silently breaking the GEMM
    argmax tiebreak. Failing to reach the bound within ``max_rounds``
    (e.g. a cell of exact-duplicate vectors, which no quantizer can
    separate) warns instead of returning silently."""
    import math
    import warnings

    cur = sorted(centroids)
    need: dict[int, int] = {}
    for _ in range(max_rounds):
        assigned = assign_centroids_gemm(index, cur, metric, vec_col)
        counts = {
            int(r["centroid_id"]): int(r["n"])
            for r in assigned.groupBy("centroid_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        need = {
            cid: math.ceil(n / max_rows) for cid, n in counts.items() if n > max_rows
        }
        if not need:
            break
        # sub-seed ids must not collide with KEPT centroids' cids. The
        # "a centroid's own source vector self-assigns" invariant breaks
        # under exact ties (two identical centroids → all tied rows,
        # including a centroid's own member vector, collapse into the
        # tiebreak winner's cell), and lloyd_refine'd means never had it
        # — so exclude kept cids from candidacy outright. Split cells
        # are disjoint, so sub-seeds can't collide with each other.
        kept_cids = [cid for cid, _ in cur if cid not in need]
        w = Window.partitionBy("centroid_id").orderBy(F.col(id_col).asc())
        seed_rows = (
            assigned.filter(F.col("centroid_id").isin(list(need)))
            .filter(~F.col(id_col).isin(kept_cids))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max(need.values()))
            .select(
                "centroid_id",
                F.col(id_col).alias("__sid"),
                F.col(vec_col).cast("array<double>").alias("__svec"),
                "__rn",
            )
            .collect()
        )
        by_cell: dict[int, list] = {}
        for r in seed_rows:
            by_cell.setdefault(int(r["centroid_id"]), []).append(r)
        nxt = [(cid, vec) for cid, vec in cur if cid not in need]
        for cid, rows in by_cell.items():
            rows.sort(key=lambda r: r["__rn"])
            for r in rows[: need[cid]]:
                nxt.append((int(r["__sid"]), [float(x) for x in r["__svec"]]))
        cur = sorted(nxt)
        cids = [cid for cid, _ in cur]
        if len(set(cids)) != len(cids):
            dupes = sorted({c for c in cids if cids.count(c) > 1})[:5]
            raise ValueError(
                f"duplicate centroid ids after split: {dupes} — invariant "
                "violation (kept cids are excluded from sub-seed candidacy "
                "and split cells are disjoint); please report"
            )
    if need:
        # the loop exhausted max_rounds with cells still oversized in
        # its LAST count; the final split may or may not have fixed
        # them — surface it rather than return silently
        warnings.warn(
            f"split_skewed_centroids: {len(need)} cell(s) still exceeded "
            f"max_rows={max_rows} entering the final round (worst needed "
            f"{max(need.values())}-way split); the size bound may still be "
            "violated — raise max_rounds or max_rows",
            RuntimeWarning,
            stacklevel=2,
        )
    return cur


def lloyd_refine(
    index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    iters: int = 2,
    metric: str = "euclidean",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Standard k-means refinement of the seed centroids: assign →
    per-cluster element-wise mean → repeat.

    The mean is ``posexplode`` + ``groupBy(centroid_id, pos)`` — ONE
    aggregate expression regardless of dimension, not a per-dimension
    ``avg(v[i])`` fan-out (which at production dims, 1024-3072, means
    thousands of aggregate expressions and a codegen blowup). The
    explode never materializes N·dim rows: hash aggregation is
    partial, so each task ships at most k·dim partial sums into the
    single shuffle, and k·dim finals come back to the driver (tiny)
    to be re-inlined.

    Empty clusters keep their previous centroid.
    """
    dim = len(centroids[0][1])
    cur = centroids
    for _ in range(iters):
        assigned = assign_centroids_gemm(index, cur, metric, vec_col)
        v = F.col(vec_col).cast("array<double>")
        means = (
            assigned.select("centroid_id", F.posexplode(v).alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(int(r["centroid_id"]), {})[int(r["pos"])] = float(r["m"])
        cur = [
            (cid, [by_cid[cid][i] for i in range(dim)] if cid in by_cid else vec)
            for cid, vec in cur
        ]
    return cur
