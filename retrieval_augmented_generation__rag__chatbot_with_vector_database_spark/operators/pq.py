"""Product Quantization (PQ) with Asymmetric Distance Computation —
the high-compression tier of the vector-index ladder (float32 → int8
→ PQ): a dim-d float vector becomes ``m`` one-byte codes (~``4·d/m``×
smaller), scored against FULL-PRECISION queries through per-query
lookup tables.

Spark shapes:
- **Training** (`train_pq_codebooks`): per subspace j, k-means over
  the j-th vector slice. Codebooks are tiny (m·k·(d/m) floats) and
  k-means needs many passes, so training runs driver-side in numpy on
  a BOUNDED deterministic sample (id-hash take, default ≤ 65 536 rows
  — the standard practice at any corpus size: FAISS trains PQ on a
  sample too). Deterministic init (lowest-hash sample rows) + fixed
  Lloyd iterations → the same codebooks on every run.
- **Encoding** (`pq_encode`): one `mapInArrow` pass; per Arrow batch,
  m small GEMMs (batch × k per subspace) pick argmin codes. Output is
  (id, codes array<int>, bit-packed by parquet) — the layout that lands in parquet.
- **Probing** (`pq_topk`): queries are collected (bounded, loud error
  past the cap — same contract as the GEMM probe) and broadcast; per
  Arrow batch of codes, each query's LUT[m][k] of partial squared
  distances is gathered and summed — no decompression, no float
  vectors read. Per-query top-k via the usual window.
- **Recall recovery**: like the int8 tier, PQ candidates over-fetch
  (`fetch_k`) and a full-precision rerank against the original
  vectors restores exact ordering (`pq_topk_rerank`).

Codes are data-dependent (k-means), so PQ queries use boolean
contract oracles (recall ≥ bound pinned TRUE) rather than value
hashes — same pattern as the HLL rollup.

Reference parity: the reference's Pinecone service exposes no
quantization knobs; this extends the engine the way a self-hosted
100 TB vector corpus requires (memory-resident codes, disk-resident
floats touched only by the rerank).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PQ_META = "_pq_meta.json"


def _sample_matrix(
    index: DataFrame,
    id_col: str,
    vec_col: str,
    max_rows: int,
):
    """Bounded deterministic training sample as a numpy matrix: the
    ``max_rows`` lowest ``xxhash64(id)`` rows — a uniform, run- and
    partitioning-stable choice (no seeded RNG, no full collect)."""
    import numpy as np

    rows = (
        index.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<float>").alias("v"),
            F.xxhash64(F.col(id_col)).alias("h"),
        )
        .orderBy(F.col("h").asc(), F.col("id").asc())
        .limit(max_rows)
        .collect()
    )
    return np.array([r["v"] for r in rows], dtype=np.float32)


def train_pq_codebooks(
    index: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 10,
    max_train_rows: int = 65_536,
) -> list[list[list[float]]]:
    """``codebooks[j][c]`` = centroid ``c`` (length d/m) of subspace
    ``j``. Deterministic: sample by id-hash, init each subspace from
    its first ``k`` sample rows, fixed Lloyd iterations, empty
    clusters keep their previous centroid."""
    import numpy as np

    X = _sample_matrix(index, id_col, vec_col, max_train_rows)
    n, d = X.shape
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    if n < k:
        raise ValueError(f"training sample ({n} rows) smaller than k={k}")
    return _kmeans_books(X, m, k, iters)


def _kmeans_books(X, m: int, k: int, iters: int) -> list[list[list[float]]]:
    """Per-subspace k-means over an in-memory sample matrix (the
    shared core of raw and residual training): deterministic init from
    the first k rows, fixed Lloyd iterations, empty clusters keep
    their previous centroid."""
    import numpy as np

    d = X.shape[1]
    sub = d // m
    books = []
    for j in range(m):
        S = X[:, j * sub : (j + 1) * sub].astype(np.float64)
        C = S[:k].copy()
        s2 = (S * S).sum(axis=1)[:, None]
        for _ in range(iters):
            # |s-c|^2 = |s|^2 - 2 s·c + |c|^2 — BLAS matmul, not an
            # n×k×sub broadcast tensor (that costs ~10× at 65k rows)
            d2 = s2 - 2.0 * (S @ C.T) + (C * C).sum(axis=1)[None, :]
            a = d2.argmin(axis=1)
            # vectorized per-cluster means via bincount accumulation
            counts = np.bincount(a, minlength=k).astype(np.float64)
            sums = np.zeros_like(C)
            np.add.at(sums, a, S)
            nonempty = counts > 0
            C[nonempty] = sums[nonempty] / counts[nonempty, None]
        books.append([[float(x) for x in row] for row in C])
    return books


def train_books_and_centroids(
    index: DataFrame,
    m: int,
    k: int,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 10,
    max_train_rows: int = 65_536,
):
    """(codebooks, centroids) — :func:`train_pq_codebooks` and
    ``ann.seed_centroids`` run CONCURRENTLY from two driver threads
    (round 16, guide §2.6): each is a small bounded collect whose job
    tail leaves most cores idle, so overlapping them hides one
    latency behind the other. Results are identical to the sequential
    calls — both are pure functions of ``index``."""
    from concurrent.futures import ThreadPoolExecutor

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        seed_centroids,
    )

    with ThreadPoolExecutor(max_workers=2) as pool:
        fb = pool.submit(
            train_pq_codebooks, index, m, k, id_col, vec_col, iters,
            max_train_rows,
        )
        fc = pool.submit(seed_centroids, index, n_centroids, id_col, vec_col)
        return fb.result(), fc.result()


def train_pq_codebooks_residual(
    index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 10,
    max_train_rows: int = 65_536,
) -> list[list[list[float]]]:
    """Codebooks over RESIDUALS ``v - centroid(v)`` — the classic
    IVFPQ refinement: residuals concentrate around zero with far less
    spread than raw vectors, so the same m×k code budget quantizes
    them more finely. Same bounded deterministic sampling and k-means
    core as the raw trainer."""
    import numpy as np

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        assign_centroids_gemm,
    )

    assigned = assign_centroids_gemm(index, centroids, "euclidean", vec_col)
    rows = (
        assigned.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<float>").alias("v"),
            "centroid_id",
            F.xxhash64(F.col(id_col)).alias("h"),
        )
        .orderBy(F.col("h").asc(), F.col("id").asc())
        .limit(max_train_rows)
        .collect()
    )
    cvec = {int(c): np.array(v, dtype=np.float64) for c, v in centroids}
    X = np.array(
        [np.array(r["v"], dtype=np.float64) - cvec[int(r["centroid_id"])] for r in rows]
    )
    n, d = X.shape
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    if n < k:
        raise ValueError(f"training sample ({n} rows) smaller than k={k}")
    return _kmeans_books(X, m, k, iters)


def train_opq_rotation(
    index: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_rows: int = 65_536,
) -> list[list[float]]:
    """Parametric OPQ rotation (Ge et al., *Optimized Product
    Quantization*, CVPR 2013, §4: PCA + eigenvalue allocation): an
    orthonormal d×d matrix ``R`` such that quantizing ``x @ R``
    instead of ``x`` balances the variance the m subspaces must each
    absorb — PQ's independence assumption costs most when a few
    subspaces carry most of the energy, which is exactly what
    correlated (real-embedding-shaped) data does.

    Construction, fully deterministic:
    1. PCA on the bounded id-hash sample (same sampling contract as
       codebook training); eigenvectors get a deterministic sign fix
       (largest-|component| coordinate made positive) so ``eigh``'s
       sign ambiguity cannot flip runs.
    2. Eigenvalue allocation: walk eigenvalues in descending order,
       assigning each eigenvector to the non-full bucket with the
       smallest current log-eigenvalue sum (ties → lowest bucket id);
       each bucket holds exactly d/m directions. This balances the
       per-subspace variance PRODUCT, the quantity §4.2 shows bounds
       subspace distortion under an independence assumption.
    3. ``R`` = the permuted eigenvector matrix. Orthonormal, so
       rotation preserves every L2 distance and inner product —
       downstream coarse quantizers, ADC, and reranks are unchanged
       semantically; only the code-budget allocation improves.

    Driver cost is one d×d eigendecomposition of a covariance built
    from ≤ ``max_train_rows`` rows — O(d²·n + d³), independent of
    corpus size, same bounded-training story as k-means codebooks.
    """
    import numpy as np

    X = _sample_matrix(index, id_col, vec_col, max_train_rows).astype(
        np.float64
    )
    n, d = X.shape
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    if n < 2:
        raise ValueError(f"training sample ({n} rows) too small for PCA")
    C = np.cov(X, rowvar=False)
    w, U = np.linalg.eigh(C)  # ascending eigenvalues
    order = np.argsort(w)[::-1]
    w = w[order]
    U = U[:, order]
    for j in range(d):  # deterministic sign
        i = int(np.abs(U[:, j]).argmax())
        if U[i, j] < 0:
            U[:, j] = -U[:, j]
    sub = d // m
    log_w = np.log(np.maximum(w, 1e-12))
    cap = [sub] * m
    logsum = [0.0] * m
    buckets: list[list[int]] = [[] for _ in range(m)]
    for idx in range(d):
        j = min(
            (jj for jj in range(m) if cap[jj] > 0),
            key=lambda jj: (logsum[jj], jj),
        )
        buckets[j].append(idx)
        cap[j] -= 1
        logsum[j] += float(log_w[idx])
    perm = [i for b in buckets for i in b]
    R = U[:, perm]
    return [[float(x) for x in row] for row in R]


def rotate_vectors(
    df: DataFrame,
    rotation: list[list[float]],
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """``out_col`` (default: replace ``vec_col``) = ``x @ R`` as
    float32 — one Arrow-batched pandas UDF doing a single (batch × d)
    @ (d × d) BLAS matmul per batch; every other column rides along
    untouched. Orthonormal R ⇒ distances/inner products preserved."""
    from pyspark.sql.functions import pandas_udf

    R_payload = json.dumps(rotation)
    out = out_col or vec_col

    @pandas_udf("array<float>")
    def _rot(s):
        import numpy as np
        import pandas as pd

        R = np.array(json.loads(R_payload), dtype=np.float64)
        V = np.array(list(s), dtype=np.float64)
        if V.ndim != 2 or V.shape[1] != R.shape[0]:
            raise ValueError(
                f"vector dim {V.shape[-1] if V.ndim == 2 else '?'} != "
                f"rotation dim {R.shape[0]}"
            )
        out_m = (V @ R).astype(np.float32)
        return pd.Series(list(out_m))

    return df.withColumn(out, _rot(F.col(vec_col)))


def pq_reconstruction_sse(
    index: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """1-row DataFrame ``(sum_sq_err double, n long)``: total squared
    reconstruction error of the PQ encoding over the WHOLE index —
    the distortion objective OPQ minimizes. One ``mapInArrow`` pass
    emitting per-batch partials (encode + per-subspace gather of the
    chosen centroid, squared diff summed), then a single 2-number
    aggregate — no shuffle proportional to rows, holds at any corpus
    size."""
    import pyarrow as pa

    m = len(codebooks)
    sub = len(codebooks[0][0])
    books_payload = json.dumps(codebooks)
    out_schema = "sum_sq_err double, n long"

    def kernel(batches):
        import numpy as np

        B = [np.array(b, dtype=np.float64) for b in json.loads(books_payload)]
        for batch in batches:
            tbl = batch.to_pydict()
            V = np.array(tbl[vec_col], dtype=np.float64)
            n = V.shape[0]
            if n == 0:
                continue
            err = 0.0
            for j in range(m):
                S = V[:, j * sub : (j + 1) * sub]
                d2 = (
                    (S * S).sum(axis=1)[:, None]
                    - 2.0 * (S @ B[j].T)
                    + (B[j] ** 2).sum(axis=1)[None, :]
                )
                # argmin's achieved distance IS the subspace error
                err += float(np.maximum(d2.min(axis=1), 0.0).sum())
            yield pa.RecordBatch.from_pydict(
                {
                    "sum_sq_err": pa.array([err], type=pa.float64()),
                    "n": pa.array([n], type=pa.int64()),
                }
            )

    partials = index.select(id_col, vec_col).mapInArrow(kernel, out_schema)
    return partials.agg(
        F.coalesce(F.sum("sum_sq_err"), F.lit(0.0)).alias("sum_sq_err"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n"),
    )


def pq_encode(
    index: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """(id, codes, *carry_cols): ``codes[j]`` = argmin-distance
    codebook entry of subspace ``j`` (ties → lowest code, numpy
    argmin). One ``mapInArrow`` pass, m small GEMMs per batch.

    ``carry_cols`` pass through the kernel zero-copy (the Arrow
    arrays are re-emitted untouched). The layout writers carry
    ``centroid_id`` / raw vectors / metadata through the encode
    instead of self-joining the assigned frame on id afterwards —
    which recomputed the whole assignment GEMM for the second branch
    AND shuffled the full corpus once more."""
    import pyarrow as pa
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    carry_cols = list(carry_cols or [])
    m = len(codebooks)
    sub = len(codebooks[0][0])
    books_payload = json.dumps(codebooks)
    in_cols = [id_col, vec_col] + [
        c for c in carry_cols if c not in (id_col, vec_col)
    ]
    src = index.select(*in_cols)
    carried_fields = [src.schema[c] for c in carry_cols]
    # codes as array<int>, not tinyint: Spark 4.1's ArrowColumnVector
    # has no byte accessor for list elements; parquet bit-packs the
    # 4-bit code values regardless, so the layout stays compact
    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("codes", ArrayType(IntegerType())),
            *[StructField(f.name, f.dataType, f.nullable) for f in carried_fields],
        ]
    )

    def kernel(batches):
        import numpy as np

        B = [np.array(b, dtype=np.float64) for b in json.loads(books_payload)]
        for batch in batches:
            names = batch.schema.names
            ids = batch.column(names.index(id_col)).to_pylist()
            V = np.array(
                batch.column(names.index(vec_col)).to_pylist(), dtype=np.float64
            )
            codes = np.empty((len(ids), m), dtype=np.int32)
            for j in range(m):
                S = V[:, j * sub : (j + 1) * sub]
                # |s - c|^2 = |s|^2 - 2 s·c + |c|^2; |s|^2 constant per row
                d2 = -2.0 * (S @ B[j].T) + (B[j] ** 2).sum(axis=1)[None, :]
                codes[:, j] = d2.argmin(axis=1).astype(np.int32)
            # explicit Arrow types: inference would give list<int64>
            # and Spark's reader rejects the child-type mismatch
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([int(x) for x in ids], type=pa.int64()),
                    pa.array(codes.tolist(), type=pa.list_(pa.int32())),
                    *[batch.column(names.index(c)) for c in carry_cols],
                ],
                names=[id_col, "codes", *carry_cols],
            )

    return src.mapInArrow(kernel, out_schema)


def write_pq_index(
    index: DataFrame,
    path: str,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the encoded layout + codebooks sidecar (the
    quantizer is part of the layout, exactly like the IVF centroid
    sidecar — a probe with different codebooks would be garbage)."""
    pq_encode(index, codebooks, id_col, vec_col).write.mode("overwrite").parquet(
        path
    )
    with open(os.path.join(path, PQ_META), "w") as f:
        json.dump({"m": len(codebooks), "k": len(codebooks[0]),
                   "sub": len(codebooks[0][0]), "codebooks": codebooks}, f)


def load_pq_codebooks(path: str) -> list[list[list[float]]]:
    with open(os.path.join(path, PQ_META)) as f:
        return json.load(f)["codebooks"]


MAX_PQ_QUERIES = 4096


def _adc_luts(targets, books, sub: int):
    """Stacked ADC lookup tables, one per target vector (b × m × k):
    ``lut[t][j][c] = |targets[t]_j - books[j][c]|²``, the partial
    squared distance of subspace ``j`` to codebook entry ``c``. One
    small GEMM per subspace for the whole stack, not per target.
    ``books`` are float64 arrays (m × k × sub)."""
    import numpy as np

    out = np.empty(
        (targets.shape[0], len(books), books[0].shape[0]), dtype=np.float64
    )
    for j, Bj in enumerate(books):
        T = targets[:, j * sub : (j + 1) * sub]
        out[:, j, :] = (
            (T * T).sum(axis=1)[:, None]
            - 2.0 * (T @ Bj.T)
            + (Bj ** 2).sum(axis=1)[None, :]
        )
    return out


def _list_matrix(batch, name: str, width: int):
    """Arrow list column ``name`` of ``batch`` as an n × ``width``
    matrix viewing the values buffer (zero-copy, stored dtype).
    Raises unless every row holds exactly ``width`` values — a ragged
    row would silently shift every later row's codes or coordinates."""
    import numpy as np

    col = batch.column(name)
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


def pq_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k by ADC (squared euclidean): per query a
    LUT[m][k_codes] of partial squared distances to every codebook
    entry; a candidate's distance is m LUT gathers summed — the float
    vectors are never read. Returns (query_id, vec_id, adc_dist,
    rank), ascending distance, ties by id. Queries are collected
    (bounded like the GEMM probe: loud error past ``MAX_PQ_QUERIES``)
    and shipped inside the kernel closure; per-query top-k is the
    usual WindowGroupLimit window."""
    import pyarrow as pa

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        collect_query_matrix,
    )

    qids, Q, _ = collect_query_matrix(
        queries, query_id_col, query_vec_col, "euclidean", MAX_PQ_QUERIES
    )
    m = len(codebooks)
    sub = len(codebooks[0][0])
    if Q.shape[1] != m * sub:
        raise ValueError(
            f"query dim {Q.shape[1]} != codebook dim {m * sub} (m={m}, sub={sub})"
        )
    q_payload = json.dumps([[float(x) for x in row] for row in Q])
    qid_payload = json.dumps([int(x) for x in qids])
    books_payload = json.dumps(codebooks)
    out_schema = "query_id long, vec_id long, adc_dist double"

    def kernel(batches):
        import numpy as np

        B = [np.array(b, dtype=np.float64) for b in json.loads(books_payload)]
        Qm = np.array(json.loads(q_payload), dtype=np.float64)
        qid = np.array(json.loads(qid_payload), dtype=np.int64)
        nq = Qm.shape[0]
        lut = _adc_luts(Qm, B, sub)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = (
                batch.column(id_col)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64, copy=False)
            )
            codes = _list_matrix(batch, "codes", m).astype(
                np.int64, copy=False
            )
            # dist[q][i] = sum_j lut[q][j][codes[i][j]]
            dist = np.zeros((nq, n), dtype=np.float64)
            for j in range(m):
                dist += lut[:, j, :][:, codes[:, j]]
            yield pa.RecordBatch.from_pydict(
                {
                    "query_id": np.repeat(qid, n),
                    "vec_id": np.tile(ids, nq),
                    "adc_dist": dist.reshape(-1),
                }
            )

    scored = encoded.select(id_col, "codes").mapInArrow(kernel, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pq_topk_rerank(
    queries: DataFrame,
    encoded: DataFrame,
    index: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    fetch_k: int = 25,
    metric: str = "euclidean",
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage probe: PQ/ADC over-fetches ``fetch_k`` candidates per
    query from the compressed codes, then a FULL-PRECISION rescore
    against the original vectors restores exact ordering within the
    candidate set — the same recall-recovery pattern as the int8
    rerank (candidates broadcast, index joined on its id, never
    shuffled)."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
        similarity_expr,
    )

    cand = pq_topk(
        queries, encoded, codebooks, k=fetch_k,
        query_id_col=query_id_col, query_vec_col=query_vec_col, id_col=id_col,
    ).select("query_id", "vec_id")
    qside = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qvec"),
    )
    rescored = (
        index.join(F.broadcast(cand), index[id_col] == cand["vec_id"])
        .drop(cand["vec_id"])
        .join(F.broadcast(qside), "query_id")
        .select(
            "query_id",
            F.col(id_col).alias("vec_id"),
            similarity_expr(metric, F.col("__qvec"), F.col(vec_col)).alias("score"),
        )
    )
    lead = F.col("score").asc() if metric == "euclidean" else F.col("score").desc()
    w = Window.partitionBy("query_id").orderBy(lead, F.col("vec_id").asc())
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------- IVF × PQ

IVFPQ_META = "_ivfpq_meta.json"


def _unit_normalized(index: DataFrame, vec_col: str) -> DataFrame:
    """Replace ``vec_col`` with its unit-normalized form (JVM-side,
    float out — the layout's storage type). Zero-norm vectors pass
    through unscaled: their cosine is undefined under ANY path, and a
    layout build must stay total."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
        l2_norm,
        normalize,
    )

    return index.withColumn(
        vec_col,
        F.when(
            l2_norm(F.col(vec_col)) > 0,
            normalize(F.col(vec_col)).cast("array<float>"),
        ).otherwise(F.col(vec_col).cast("array<float>")),
    )


def mips_max_norm(index: DataFrame, vec_col: str = "embedding") -> float:
    """Max L2 norm over the index — the MIPS transform's scale
    constant ``M``. One aggregate; exact and order-independent (float
    max), so build and callers compute the identical value."""
    return _mips_norm_and_dim(index, vec_col)[0]


def _mips_norm_and_dim(
    index: DataFrame, vec_col: str = "embedding"
) -> tuple[float, int]:
    """(max L2 norm, max vector dim) in ONE aggregate — the build path
    needs both (M for the transform, dim to validate the codebook
    covers the augmented vector) and shouldn't pay two scans."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
        l2_norm,
    )

    row = index.agg(
        F.max(l2_norm(F.col(vec_col))).alias("m"),
        F.max(F.size(F.col(vec_col))).alias("d"),
    ).collect()[0]
    m = row["m"]
    if m is None or m <= 0:
        raise ValueError("MIPS transform needs at least one non-zero vector")
    return float(m), int(row["d"])


def mips_augmented(
    index: DataFrame,
    vec_col: str,
    max_norm: float,
    target_dim: int,
) -> DataFrame:
    """The classic MIPS→L2 reduction (Bachrach et al. 2014, "Speeding
    up the Xbox recommender"; Shrivastava & Li's ALSH family):
    ``x' = [x/M, sqrt(1-|x/M|²), 0…]`` padded to ``target_dim`` — then
    for any query ``q' = [q, 0…]``, ``|q'-x'|² = |q'|² + 1 - 2·(q·x)/M``
    is a per-query constant minus a monotone image of the dot product,
    so euclidean candidate order ≡ dot-product order. The sqrt term
    clamps at 0 for |x| ≥ M (exactly the max row; or post-build upserts
    that outgrow M — mild distortion for those rows only, fixed by the
    staleness-triggered retrain like every other quantizer drift).
    Zero padding aligns the augmented dimension to the PQ subspace
    grid; zero coordinates contribute nothing to any distance.
    JVM-side end to end."""
    scaled = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: x / F.lit(float(max_norm)),
    )
    aug = F.concat(
        scaled,
        F.array(
            F.sqrt(
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0)
                    - F.aggregate(
                        scaled, F.lit(0.0), lambda acc, x: acc + x * x
                    ),
                )
            )
        ),
    )
    pad = F.array_repeat(
        F.lit(0.0), F.lit(target_dim) - F.size(aug)
    )
    return index.withColumn(
        vec_col, F.concat(aug, pad).cast("array<float>")
    )


def write_ivfpq_index(
    index: DataFrame,
    path: str,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool | None = None,
    normalize: bool = False,
    mips: bool = False,
    meta_cols: list[str] | None = None,
    rotation: list[list[float]] | None = None,
) -> None:
    """FAISS-IVFPQ-shaped layout: rows are assigned to their nearest
    coarse centroid (euclidean — the ADC metric) and PQ-ENCODED, then
    written partitioned by ``centroid_id`` — probes read only nprobe
    bucket directories. Each bucket file holds the codes AND the RAW
    full-precision vectors (``vec_col``), so the layout is
    self-contained: :func:`ivfpq_topk_rerank` fuses the ADC probe and
    the exact rerank into one job over the probed buckets, and serving
    never reads a separate full-precision table. Both quantizers (coarse
    centroids + codebooks) live in the sidecar, like the IVF layout's
    centroid persistence: probing with a different quantizer is
    silent garbage, so it must be impossible.

    ``residual=False`` encodes RAW vectors (IVF-Flat-PQ);
    ``residual=True`` encodes ``v - centroid(v)`` with codebooks from
    :func:`train_pq_codebooks_residual` — residuals concentrate near
    zero, so the same code budget quantizes finer (the classic IVFPQ).
    The flag is persisted; probe and upsert read it back.

    ``normalize=True`` unit-normalizes every vector BEFORE assignment
    and encoding (train centroids/codebooks on the normalized frame
    too) and persists the flag: on unit vectors squared-L2 order ≡
    cosine order (|a-b|² = 2-2·cos), so a normalized layout serves
    ``metric="cosine"`` through the same ADC machinery — the
    reference's default metric (`app/api/routes.py:139,152`) on the
    engine's cheapest layout. ``route()`` accepts cosine only against
    a normalized sidecar.

    ``mips=True`` applies the MIPS→L2 augmentation instead
    (:func:`mips_augmented`, target dim = the codebooks' m×sub;
    ``M`` recomputed here — deterministic, equal to the caller's
    :func:`mips_max_norm`): the layout serves ``metric="dotproduct"``.
    Mutually exclusive with ``normalize`` (each transform defines the
    layout's space). Centroids/codebooks must be trained on the SAME
    augmented frame, and the codebook dim must cover the augmented
    vector (input dim + 1) — a smaller codebook would silently slice
    off the sqrt coordinate and ADC order would no longer be
    dot-product order, so it raises here.

    ``residual=None`` (the default) resolves to ``mips``: MIPS is
    intrinsically the hardest metric for reconstruction-optimal PQ
    (the sqrt coordinate concentrates the inner-product signal —
    recall@10 0.037 raw vs 0.54 residual at fetch-100 on the 500k
    hard case, SCALE.md), so a dotproduct tier defaults to residual
    codes; the other transforms keep the cheaper raw encoding.
    Passing ``residual=False`` WITH ``mips=True`` explicitly raises —
    a raw-code MIPS layout is a recall trap with no error anywhere
    downstream.

    ``meta_cols`` co-locates METADATA columns with the codes in each
    bucket file — the layout-side prerequisite for metadata-filtered
    ANN (the reference's query path takes a Pinecone filter dict next
    to the vector, `app/services/pinecone_service.py:148-182`): a
    probe's ``pre_filter`` then evaluates inside the pruned bucket
    scan (Catalyst pushes the predicate to the parquet reader, under
    the same PartitionFilters), so qualifying rows compete only among
    themselves — single-stage filtering, recall independent of filter
    selectivity. The names are persisted in the sidecar; upsert and
    retrain carry them through.

    ``rotation`` bakes an OPQ rotation (:func:`train_opq_rotation`)
    into the layout: vectors are rotated AFTER the metric transform
    (unit-normalize / MIPS-augment) and before coarse assignment and
    encoding, so centroids and codebooks must be trained on the same
    rotated frame. R is orthonormal — every L2 distance and inner
    product is preserved, so ADC order, metric mapping, and the
    raw-vector rerank are all unchanged semantically; only the code
    budget's variance allocation improves (SCALE.md: 0.18× SSE under
    1000× scale anisotropy; no gain on isotropic data — opt-in, not a
    default). R is PERSISTED in the sidecar — the probe rotates
    queries with the layout's own R, upsert encodes new rows in the
    same rotated frame, retrain re-learns R for the drifted corpus;
    serving never needs R out-of-band (the same "probing with a
    different quantizer must be impossible" rule as the
    centroids/codebooks).
    """
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        assign_centroids_gemm,
        check_centroid_ids,
    )

    if normalize and mips:
        raise ValueError("normalize and mips are mutually exclusive")
    check_centroid_ids(centroids)
    meta_cols = list(meta_cols or [])
    reserved = {id_col, vec_col, "centroid_id", "codes", "__raw"}
    for c in meta_cols:
        if c in reserved:
            raise ValueError(
                f"meta_cols entry {c!r} collides with a layout column"
            )
        if c not in index.columns:
            raise ValueError(f"meta_cols entry {c!r} not in the index frame")
    if residual is None:
        residual = mips
    if mips and not residual:
        raise ValueError(
            "mips=True with residual=False: raw PQ codes cannot carry "
            "the MIPS sqrt coordinate's signal (recall@10 0.037 vs "
            "0.54 residual on the 500k hard case — SCALE.md); train "
            "with train_pq_codebooks_residual on the augmented frame "
            "and pass residual=True (or leave residual=None)"
        )
    max_norm = None
    # stash the raw vectors before any space transform: the layout
    # stores RAW floats (the rerank metric is defined on them), while
    # assignment + encoding run in the transformed space
    transformed = normalize or mips or rotation is not None
    if transformed:
        index = index.withColumn("__raw", F.col(vec_col))
    if normalize:
        index = _unit_normalized(index, vec_col)
    if mips:
        target_dim = len(codebooks) * len(codebooks[0][0])
        max_norm, in_dim = _mips_norm_and_dim(index, vec_col)
        if target_dim < in_dim + 1:
            raise ValueError(
                f"MIPS codebook dim m*sub={target_dim} < input dim "
                f"{in_dim} + 1: the augmented vector [x/M, sqrt(1-|x/M|²)] "
                "would be truncated and ADC order would silently stop "
                "being dot-product order — train codebooks on the "
                "augmented frame (dim >= input + 1, padded to the "
                "subspace grid)"
            )
        index = mips_augmented(index, vec_col, max_norm, target_dim)
    if rotation is not None:
        rd = len(rotation)
        book_dim = len(codebooks) * len(codebooks[0][0])
        if rd != book_dim or any(len(r) != rd for r in rotation):
            raise ValueError(
                f"rotation must be a {book_dim}×{book_dim} matrix over "
                f"the layout's (transformed) frame; got {rd}×"
                f"{len(rotation[0]) if rotation else 0}"
            )
        index = rotate_vectors(index, rotation, vec_col)
    assigned = assign_centroids_gemm(index, centroids, "euclidean", vec_col)
    enc_src, enc_col = assigned, vec_col
    if residual:
        enc_src, enc_col = _with_residual(assigned, centroids, vec_col)
    # carry layout columns THROUGH the encode kernel (zero-copy Arrow
    # passthrough) instead of self-joining the assigned frame on id:
    # the join recomputed the assignment GEMM for its second branch
    # and shuffled the full corpus once more — pure waste at 100 TB
    raw = "__raw" if transformed else vec_col
    enc = pq_encode(
        enc_src, codebooks, id_col, enc_col,
        carry_cols=["centroid_id", raw, *meta_cols],
    )
    # raw vectors stored AS-IS (no float cast): the fused rerank must
    # see the exact values the exact paths score
    layout = enc.select(
        id_col, "centroid_id", F.col(raw).alias(vec_col), *meta_cols, "codes"
    )
    n_parts = len(centroids)
    # row count rides the write job as an observed metric — the
    # round-14 form re-read the written footers as a separate count()
    # job (cheap per call, but every rebuild-per-call serving query
    # pays it). At-scale caveat (ADVICE r15): observed metrics count
    # per ATTEMPTED task, so retries/speculation can over-count;
    # rows_at_build is a staleness indicator, not an exactness
    # contract (see write_ivf_index for the same note).
    from pyspark.sql import Observation

    obs = Observation()
    (
        layout.observe(obs, F.count(F.lit(1)).alias("n"))
        .repartition(n_parts, F.col("centroid_id"))
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path)
    )
    n_rows = int(obs.get["n"])
    with open(os.path.join(path, IVFPQ_META), "w") as f:
        json.dump(
            {
                "m": len(codebooks),
                "k": len(codebooks[0]),
                "centroids": [
                    [int(c), [float(x) for x in v]] for c, v in centroids
                ],
                "codebooks": codebooks,
                "rows_at_build": n_rows,
                "upserted_since_build": 0,
                "residual": residual,
                "normalize": normalize,
                "mips": mips,
                "mips_max_norm": max_norm,
                "vec_col": vec_col,
                "meta_cols": meta_cols,
                "rotation": rotation,
            },
            f,
        )


def _with_residual(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str,
) -> tuple[DataFrame, str]:
    """Attach ``__res = v - centroid(v)`` (JVM-side zip_with over a
    broadcast centroid join); returns (frame, residual column name)."""
    spark = assigned.sparkSession
    cdf = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in centroids],
        "centroid_id int, __cvec array<double>",
    )
    out = assigned.join(F.broadcast(cdf), "centroid_id").withColumn(
        "__res",
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("__cvec"),
            lambda x, y: x - y,
        ).cast("array<float>"),
    )
    return out, "__res"


def load_ivfpq_meta(path: str) -> dict:
    with open(os.path.join(path, IVFPQ_META)) as f:
        return json.load(f)


def ivfpq_staleness(path: str) -> float:
    """Fraction of the layout changed (upserted + deleted) since the
    last full build — the retrain trigger for BOTH quantizers (coarse
    centroids and PQ codebooks drift as the corpus moves; probe
    correctness is unaffected meanwhile, only recall decays).
    Deletions count as drift too: the quantizers were trained on mass
    that is no longer there."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        sidecar_staleness,
    )

    return sidecar_staleness(load_ivfpq_meta(path))


def delete_ivfpq_ids(
    spark,
    path: str,
    ids: DataFrame | list[int],
    id_col: str = "vec_id",
) -> dict:
    """Right-to-be-forgotten / takedown propagation for the IVFPQ
    layout — the quantized tier's analogue of
    ``sources.index_table.VectorIndex.delete_ids`` and
    ``sources.lexical_index.LexicalIndex.delete_docs`` (the
    reference's takedown surface is index-level,
    `app/services/pinecone_service.py:184-188`; Pinecone's own API
    deletes per id, which is what a production layout needs): codes
    AND co-located raw vectors for the given ids are removed, and only
    the partition directories that actually HOLD those ids are
    re-merged and crash-consistently swapped (torn swaps detected
    before any write; a partition whose survivors are empty is swapped
    to absent). The rest of the layout — at 100 TB, everything but a
    handful of bucket dirs — is untouched bytes.

    Deletions are counted into ``deleted_since_build``: they are
    quantizer drift exactly like upserts (the centroids/codebooks were
    trained on mass that is no longer there), so
    :func:`ivfpq_staleness` rises and the retrain policy fires on
    churn, not only on growth.

    Returns ``{"touched": [...], "n_deleted": int, "staleness": float}``.
    """
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        delete_centroid_ids,
    )

    return delete_centroid_ids(spark, path, ids, id_col, IVFPQ_META)


def ivfpq_topk_rerank(
    queries: DataFrame,
    layout: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 4,
    fetch_k: int = 50,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
    metric: str = "euclidean",
    normalized: bool = False,
    mips: bool = False,
    pre_filter=None,
    rotation: list[list[float]] | None = None,
    adaptive_fetch: bool = False,
) -> DataFrame:
    """The full ANN-at-scale composition in ONE job: coarse probe
    (each query's ``nprobe`` nearest centroids, chosen driver-side
    from the already-collected bounded query matrix) → static ``isin``
    partition prune (only probed bucket DIRECTORIES are read —
    PartitionFilters, like the float IVF layout) → ADC over the pruned
    codes with a per-query bucket mask (a row scores only for queries
    probing its bucket) → per-query ``fetch_k`` candidates → exact
    rerank against the raw vectors that ``write_ivfpq_index`` stores
    next to the codes. The rerank touches ``fetch_k`` float rows per
    query and task; the only post-kernel op is the final per-query
    top-k window. ``fetch_k`` below ``k`` is raised to ``k``: the
    over-fetch can never cut the answer short.

    ``layout`` must carry ``vec_col``; a layout written without it
    (an older codes-only build) raises and has to be rebuilt.

    A transformed layout serves EXACTLY its metric (each transform
    defines the space the codes live in; mixing metrics would rank by
    one geometry and score by another):

    - raw layout → ``euclidean``: ADC is squared-L2, rerank exact
      euclidean ascending;
    - ``normalize=True`` layout → ``cosine``: queries unit-normalized
      driver-side, ADC candidate order ≡ cosine order on unit vectors,
      rerank exact cosine (scale-invariant → RAW full-precision frame)
      descending — rows hash-equal the exact cosine path on the
      candidate set;
    - ``mips=True`` layout → ``dotproduct``: queries zero-padded to
      the augmented dimension (``q' = [q, 0…]`` — scaling a single
      query never changes its own ranking), ADC candidate order ≡
      dot-product order by the MIPS reduction, rerank exact dot
      product on the RAW frame descending.

    ``pre_filter`` (a Column over layout columns — built-ins or
    ``meta_cols`` carried by ``write_ivfpq_index``) applies BEFORE the
    ADC kernel, inside the pruned bucket scan: Catalyst pushes the
    predicate to the parquet reader under the same PartitionFilters,
    so non-qualifying rows never enter the candidate pool and the
    top-k is the filtered corpus's own (single-stage filtering — the
    semantics of the reference's Pinecone filter argument; recall does
    not degrade with filter selectivity the way post-filtering a
    fixed-k result does).

    ``adaptive_fetch``: with a ``pre_filter``, scale ``fetch_k`` by
    the MEASURED selectivity of the probed scan — two cheap jobs
    (a footer-only count of the probed buckets and a pushed-filter
    count over the same buckets' slim metadata columns), then
    ``fetch_k ← max(k, ⌈fetch_k × surviving/probed⌉)``. ``fetch_k``
    is an over-fetch against quantization error sized relative to the
    candidate pool; when the filter shrinks the pool, an unscaled
    fetch makes the per-bucket ADC cut, the per-task merge, and
    the full-precision rerank all pay the UNfiltered budget. The
    floor at ``k`` is always preserved and the value only ever
    shrinks (never raises recall pressure beyond the caller's own
    fetch_k)."""
    import numpy as np
    import pyarrow as pa

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        collect_query_matrix,
    )

    required = {
        "euclidean": (False, False),
        "cosine": (True, False),
        "dotproduct": (False, True),
    }
    if metric not in required:
        raise ValueError(f"unknown IVFPQ metric {metric!r}")
    if (normalized, mips) != required[metric]:
        raise ValueError(
            f"metric={metric!r} needs layout flags (normalize, mips)="
            f"{required[metric]}, got ({normalized}, {mips}) — a "
            "transformed IVFPQ layout serves exactly its own metric; "
            "rebuild with the matching write_ivfpq_index flags"
        )
    if vec_col not in layout.columns:
        raise ValueError(
            f"IVFPQ layout has no raw-vector column {vec_col!r} (a "
            "codes-only layout from an older build); rebuild it with "
            "write_ivfpq_index, which stores the vectors next to the codes"
        )
    fetch_k = max(fetch_k, k)
    qids, Q, _ = collect_query_matrix(
        queries, query_id_col, query_vec_col, "euclidean", MAX_PQ_QUERIES
    )
    Qraw = Q  # raw query space — the rerank metric is defined on it
    if metric == "cosine":
        # probe/ADC in the layout's unit-sphere space; zero-norm
        # queries pass through (their cosine is undefined anywhere)
        nrm = np.linalg.norm(Q, axis=1, keepdims=True)
        Q = np.where(nrm > 0, Q / np.where(nrm == 0, 1.0, nrm), Q)
    if metric == "dotproduct":
        # pad to the augmented dimension; the sqrt/pad coordinates are
        # zero on the query side by construction
        aug_dim = len(codebooks) * len(codebooks[0][0])
        if Q.shape[1] > aug_dim:
            raise ValueError(
                f"query dim {Q.shape[1]} exceeds MIPS layout dim {aug_dim}"
            )
        Q = np.hstack([Q, np.zeros((Q.shape[0], aug_dim - Q.shape[1]))])
    if rotation is not None:
        # an OPQ layout's centroids/codes live in the rotated frame;
        # queries enter it through the SAME persisted R (orthonormal,
        # so ADC order and the raw-space rerank are unchanged)
        R = np.array(rotation, dtype=np.float64)
        if Q.shape[1] != R.shape[0]:
            raise ValueError(
                f"query dim {Q.shape[1]} != layout rotation dim {R.shape[0]}"
            )
        Q = Q @ R
    m = len(codebooks)
    sub = len(codebooks[0][0])
    if Q.shape[1] != m * sub:
        raise ValueError(
            f"query dim {Q.shape[1]} != codebook dim {m * sub} (m={m}, sub={sub})"
        )
    cids = np.array([c for c, _ in centroids], dtype=np.int64)
    C = np.array([v for _, v in centroids], dtype=np.float64)
    d2 = (
        (Q * Q).sum(axis=1)[:, None]
        - 2.0 * (Q @ C.T)
        + (C * C).sum(axis=1)[None, :]
    )
    # deterministic nprobe pick: distance, then centroid id
    order = np.lexsort((cids[None, :].repeat(len(qids), 0), d2), axis=1)
    probed = cids[order[:, :nprobe]]  # nq × nprobe
    all_probed = sorted({int(c) for row in probed for c in row})

    pruned = layout.filter(F.col("centroid_id").isin(all_probed))
    if pre_filter is not None:
        if adaptive_fetch:
            probed_rows = pruned.count()  # footer-only (partition prune)
        pruned = pruned.filter(pre_filter)
        if adaptive_fetch and probed_rows > 0:
            import math

            surviving = pruned.count()  # pushed filter, slim meta cols
            # proportional scaling keeps the caller's over-fetch RATIO
            # constant; the 4·k absolute floor keeps an error margin
            # that does NOT shrink with the pool (quantization noise
            # near the top-k boundary is independent of selectivity)
            fetch_k = max(
                k,
                min(
                    fetch_k,
                    max(4 * k, math.ceil(fetch_k * surviving / probed_rows)),
                ),
            )

    q_payload = json.dumps([[float(x) for x in row] for row in Q])
    qraw_payload = json.dumps([[float(x) for x in row] for row in Qraw])
    qid_payload = json.dumps([int(x) for x in qids])
    probe_payload = json.dumps([[int(c) for c in row] for row in probed])
    books_payload = json.dumps(codebooks)
    cent_payload = json.dumps(
        {int(c): [float(x) for x in v] for c, v in centroids}
    )
    lead_asc = metric == "euclidean"

    def fused_kernel(batches):
        """Single-pass probe: ADC over the batch's probed buckets →
        per-(query, bucket) top-``fetch_k`` ADC cut → per-query ADC
        top-``fetch_k`` MERGE across all of the task's batches (codes
        are cheap to compare; carrying every bucket's full cut to the
        rerank would re-score ~``fetch_k × buckets`` rows per query —
        at fetch 2000 × 100 probed buckets that is half the corpus
        again) → ONE exact rerank per task of each query's surviving
        ``fetch_k`` candidates against the raw vectors CO-LOCATED in
        the layout. The rescore reproduces
        ``functions.vector.similarity_expr`` bit-for-bit: float64
        everywhere, per-dimension SEQUENTIAL left-fold adds (a Python
        loop of vectorized adds over dims — not numpy pairwise
        summation), same zero-denominator NULL for cosine. The
        candidate set is the union of per-(query, task) ADC
        top-``fetch_k`` cuts — a SUPERSET of the global ADC
        top-``fetch_k`` (equal to it when one task reads the whole
        probe, e.g. a ``coalesce(1)`` layout read; the whole probed
        set whenever ``fetch_k`` covers the probed rows, which is how
        the full-value oracles are constructed). Every cut breaks ADC
        ties by ``vec_id``, so the candidate set is deterministic given
        the task's bucket assignment."""
        B = [np.array(b, dtype=np.float64) for b in json.loads(books_payload)]
        Qm = np.array(json.loads(q_payload), dtype=np.float64)
        Qr = np.array(json.loads(qraw_payload), dtype=np.float64)
        qid = np.array(json.loads(qid_payload), dtype=np.int64)
        probe = json.loads(probe_payload)
        cvec = {
            int(c): np.array(v, dtype=np.float64)
            for c, v in json.loads(cent_payload).items()
        }
        nq = Qm.shape[0]
        d_raw = Qr.shape[1]

        def seq_dot(qv, W):
            """<q, w> per row of W with the SQL fold's add order."""
            acc = np.zeros(W.shape[0], dtype=np.float64)
            for j in range(W.shape[1]):
                acc = acc + qv[j] * W[:, j]
            return acc

        def seq_sq(W):
            acc = np.zeros(W.shape[0], dtype=np.float64)
            for j in range(W.shape[1]):
                acc = acc + W[:, j] * W[:, j]
            return acc

        def seq_l2(qv):
            acc = 0.0
            for x in qv:
                acc = acc + x * x
            return float(np.sqrt(acc))

        q_norms = [seq_l2(Qr[i]) for i in range(nq)]

        # Invert the probe map once per task: bucket → the (sorted)
        # query indices probing it; each probed bucket gets ONE
        # stacked LUT tensor (nq_b × m × k) so every query scoring a
        # bucket is a single fancy gather, not a Python loop. For
        # residual layouts the ADC target is q - c_bucket
        # (|q - (c + r)|^2 = |(q - c) - r|^2) so the tensor is built
        # per bucket — LAZILY, on the bucket's first row in THIS task
        # (a task holds a handful of bucket directories; building all
        # probed buckets' LUTs in every task is buckets/task-count ×
        # wasted work). Raw layouts share each query's own LUT across
        # buckets (stack is a view-index into one nq × m × k array).
        bq_lists: dict[int, list[int]] = {}
        for qi in range(nq):
            for cid in probe[qi]:
                bq_lists.setdefault(int(cid), []).append(qi)
        bucket_queries = {
            c: np.array(v, dtype=np.int64) for c, v in bq_lists.items()
        }
        raw_luts = None if residual else _adc_luts(Qm, B, sub)
        lut_cache: dict[int, "np.ndarray"] = {}

        def get_lut(cid):
            hit = lut_cache.get(cid)
            if hit is None:
                qis = bucket_queries[cid]
                hit = (
                    _adc_luts(Qm[qis] - cvec[cid][None, :], B, sub)
                    if residual
                    else raw_luts[qis]
                )
                lut_cache[cid] = hit
            return hit

        # per-query candidate accumulators over the WHOLE task:
        # parallel lists of (ids, adc, vectors) arrays, compacted to
        # the ADC top-``fetch_k`` whenever they grow past 4×fetch_k —
        # bounded memory (≤ 4·fetch_k·d floats per query), one exact
        # rerank at generator end instead of one per (query, bucket)
        acc_ids: list[list] = [[] for _ in range(nq)]
        acc_adc: list[list] = [[] for _ in range(nq)]
        acc_vec: list[list] = [[] for _ in range(nq)]
        acc_n = [0] * nq

        def _compact(qi, keep):
            """Cut query ``qi``'s accumulator to its ADC top-``keep``
            by (adc asc, vec_id asc)."""
            ids_c = np.concatenate(acc_ids[qi])
            adc_c = np.concatenate(acc_adc[qi])
            vec_c = np.concatenate(acc_vec[qi])
            if len(ids_c) > keep:
                order_c = np.lexsort((ids_c, adc_c))[:keep]
                ids_c, adc_c, vec_c = (
                    ids_c[order_c],
                    adc_c[order_c],
                    vec_c[order_c],
                )
            acc_ids[qi] = [ids_c]
            acc_adc[qi] = [adc_c]
            acc_vec[qi] = [vec_c]
            acc_n[qi] = len(ids_c)
            return ids_c, adc_c, vec_c

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = (
                batch.column(id_col)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64, copy=False)
            )
            codes = _list_matrix(batch, "codes", m).astype(
                np.int64, copy=False
            )
            # zero-copy view in the STORED dtype; only the ≤ fetch_k
            # candidate rows per query are copied out below — widening
            # the whole batch would copy ~n×d×8 bytes for rows the
            # rerank never touches
            V = _list_matrix(batch, vec_col, d_raw)
            bucket = (
                batch.column("centroid_id")
                .to_numpy(zero_copy_only=False)
                .astype(np.int64, copy=False)
            )
            # the layout is partitioned by centroid_id so a batch is
            # normally ONE bucket; group once regardless
            for cid in np.unique(bucket):
                qis = bucket_queries.get(int(cid))
                if qis is None:
                    continue
                sel = np.nonzero(bucket == cid)[0]
                sel = sel[np.argsort(ids[sel], kind="stable")]
                cs = codes[sel]
                lut = get_lut(int(cid))
                dist = lut[:, 0, cs[:, 0]]
                for j in range(1, m):
                    dist = dist + lut[:, j, cs[:, j]]
                n_sel = len(sel)
                t = min(fetch_k, n_sel)
                # per-query ADC cut by (dist asc, vec_id asc) — ids
                # are pre-sorted so the stable argsort's tie order is
                # the window's tie order
                top = np.argsort(dist, axis=1, kind="stable")[:, :t]
                for bi, qi in enumerate(qis):
                    rows = sel[top[bi]]
                    acc_ids[qi].append(ids[rows])
                    acc_adc[qi].append(dist[bi][top[bi]])
                    # copy out of the Arrow buffer (stored dtype) —
                    # the batch's memory is released after iteration
                    acc_vec[qi].append(V[rows].copy())
                    acc_n[qi] += t
                    if acc_n[qi] > 4 * fetch_k:
                        _compact(qi, fetch_k)

        out_q: list["np.ndarray"] = []
        out_v: list["np.ndarray"] = []
        out_s: list["np.ndarray"] = []
        out_nul: list["np.ndarray"] = []
        for qi in range(nq):
            if not acc_n[qi]:
                continue
            ids_f, _, vec_f = _compact(qi, fetch_k)
            W = vec_f.astype(np.float64)  # exact widening
            t = len(ids_f)
            if metric == "euclidean":
                diff = Qr[qi][None, :] - W
                s = np.sqrt(seq_sq(diff))
                nul = np.zeros(t, dtype=bool)
            elif metric == "dotproduct":
                s = seq_dot(Qr[qi], W)
                nul = np.zeros(t, dtype=bool)
            else:  # cosine
                denom = q_norms[qi] * np.sqrt(seq_sq(W))
                nul = denom == 0.0
                s = np.divide(
                    seq_dot(Qr[qi], W),
                    np.where(nul, 1.0, denom),
                )
            # exact scores are FINAL, so only the per-task top-k can
            # reach the global top-k — emit k rows per (query, task),
            # not fetch_k (the post-kernel shuffle shrinks fetch_k/k
            # ×). Order mirrors the downstream window exactly: euclid
            # (score asc, vec_id asc); cosine/dot (score desc NULLS
            # LAST, vec_id asc) — nulls mapped past every real score.
            if t > k:
                key = s if lead_asc else np.where(nul, np.inf, -s)
                keep = np.lexsort((ids_f, key))[:k]
                ids_f, s, nul = ids_f[keep], s[keep], nul[keep]
                t = k
            out_q.append(np.full(t, qid[qi], dtype=np.int64))
            out_v.append(ids_f)
            out_s.append(s)
            out_nul.append(nul)
        if out_q:
            nul_all = np.concatenate(out_nul)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), type=pa.int64()),
                    pa.array(np.concatenate(out_v), type=pa.int64()),
                    pa.array(
                        np.concatenate(out_s),
                        type=pa.float64(),
                        mask=nul_all if nul_all.any() else None,
                    ),
                ],
                names=["query_id", "vec_id", "score"],
            )

    scored = pruned.select(
        id_col, "codes", "centroid_id", vec_col
    ).mapInArrow(fused_kernel, "query_id long, vec_id long, score double")
    lead = F.col("score").asc() if lead_asc else F.col("score").desc()
    w = Window.partitionBy("query_id").orderBy(lead, F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def retrain_ivfpq_index(
    spark,
    path: str,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 2,
) -> dict:
    """Full quantizer retrain + rebuild of an existing IVFPQ layout
    from the FULL-PRECISION vectors ``vectors``, in their raw space:
    the primary vector table, or a read of this layout itself (it
    stores the raw vectors).

    Shape parameters (m, k, centroid count, residual flag) are read
    from the live sidecar — a retrain refreshes the quantizers for the
    drifted corpus, it does not change the index design. Coarse
    centroids are re-seeded deterministically and Lloyd-refined;
    codebooks re-train on the standard bounded sample;
    ``write_ivfpq_index`` then writes the rebuilt layout, with
    ``upserted_since_build`` reset (staleness → 0), into the sibling
    dir ``<path>._retrain``. Only when that write and its sidecar are
    complete are the buckets and the sidecar swapped into ``path``
    under the layout's marker fence (``layout.swap_partition_dirs``),
    so the live layout stays whole and readable until then — a crash
    mid-rebuild leaves it as it was, and the retrain can simply be
    re-run.

    Returns ``{"rows": int, "staleness_before": float}``.
    """
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        lloyd_refine,
        seed_centroids,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.layout import (
        check_not_torn,
        swap_partition_dirs,
    )

    check_not_torn(path)
    meta = load_ivfpq_meta(path)
    before = ivfpq_staleness(path)
    n_cent = len(meta["centroids"])
    m, k = int(meta["m"]), int(meta["k"])
    residual = bool(meta.get("residual", False))
    normalize = bool(meta.get("normalize", False))
    mips = bool(meta.get("mips", False))

    # train quantizers in the layout's own space (unit sphere for a
    # normalized/cosine layout; the MIPS-augmented space — with a
    # FRESH M for the drifted corpus — for a dotproduct layout)
    src = vectors
    if normalize:
        src = _unit_normalized(vectors, vec_col)
    if mips:
        sub = len(meta["codebooks"][0][0])
        src = mips_augmented(
            vectors, vec_col, mips_max_norm(vectors, vec_col), m * sub
        )
    rotation = None
    if meta.get("rotation"):
        # an OPQ layout re-learns its rotation for the drifted corpus,
        # exactly like the coarse centroids and codebooks (all three
        # are quantizer parameters trained on the same frame)
        rotation = train_opq_rotation(
            src, m=m, id_col=id_col, vec_col=vec_col
        )
        src = rotate_vectors(src, rotation, vec_col)
    cents = seed_centroids(src, n_cent, id_col, vec_col)
    if lloyd_iters > 0:
        cents = lloyd_refine(src, cents, iters=lloyd_iters, vec_col=vec_col)
    if residual:
        books = train_pq_codebooks_residual(
            src, cents, m=m, k=k, id_col=id_col, vec_col=vec_col
        )
    else:
        books = train_pq_codebooks(
            src, m=m, k=k, id_col=id_col, vec_col=vec_col
        )
    tmp = path.rstrip("/") + "._retrain"
    write_ivfpq_index(
        vectors, tmp, cents, books, id_col, vec_col,
        residual=residual, normalize=normalize, mips=mips,
        meta_cols=meta.get("meta_cols") or None,
        rotation=rotation,
    )
    buckets = {
        e for d in (path, tmp) for e in os.listdir(d)
        if e.startswith("centroid_id=")
    }
    swap_partition_dirs(path, tmp, [*sorted(buckets), IVFPQ_META])
    return {
        "rows": int(load_ivfpq_meta(path)["rows_at_build"]),
        "staleness_before": before,
    }


def upsert_ivfpq_index(
    spark,
    path: str,
    records: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental IVFPQ maintenance — the PQ tier's analogue of
    ``ann.upsert_ivf_index``: new records are coarse-assigned and
    PQ-ENCODED with the layout's own persisted quantizers (both read
    back from the sidecar — a caller can't accidentally encode with a
    different quantizer), intra-batch duplicates resolve to one
    survivor (md5-payload total order, as everywhere else), and only
    the touched ``centroid_id`` partition directories are re-merged
    and crash-consistently swapped (torn swaps are detected before
    any write). Last write wins against existing rows by id.

    Returns ``{"touched": [...], "n_upserted": int}``.
    """
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        assign_centroids_gemm,
        bump_sidecar,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.layout import (
        check_not_torn,
        pick_survivors,
        upsert_keys,
    )

    check_not_torn(path)
    meta = load_ivfpq_meta(path)
    centroids = [(int(c), [float(x) for x in v]) for c, v in meta["centroids"]]
    codebooks = meta["codebooks"]
    residual = bool(meta.get("residual", False))
    layout_vec_col = meta.get("vec_col")
    if not layout_vec_col:
        raise ValueError(
            f"IVFPQ layout {path!r} stores no raw vectors (a codes-only "
            "layout from an older build); rebuild it with "
            "write_ivfpq_index or retrain_ivfpq_index before upserting"
        )
    rotation = meta.get("rotation")
    transformed = (
        bool(meta.get("normalize", False))
        or bool(meta.get("mips", False))
        or rotation is not None
    )
    if transformed:
        # the layout stores RAW vectors next to the transformed-space
        # codes; stash them before entering the layout's space
        records = records.withColumn("__raw", F.col(vec_col))
    if bool(meta.get("normalize", False)):
        # a normalized layout stores unit vectors; upserts must enter
        # the same space or their codes would be scale-garbage
        records = _unit_normalized(records, vec_col)
    if bool(meta.get("mips", False)):
        # same space rule for the MIPS layout: augment with the
        # PERSISTED build-time M (recomputing on the batch would put
        # new codes in a different space). Records whose norm
        # outgrew M clamp the sqrt term — counted drift, resolved by
        # the staleness-triggered retrain.
        records = mips_augmented(
            records,
            vec_col,
            float(meta["mips_max_norm"]),
            int(meta["m"]) * len(codebooks[0][0]),
        )
    if rotation is not None:
        # enter the layout's rotated frame with the PERSISTED R —
        # re-learning on the batch would put new codes in a different
        # space (same rule as the quantizers)
        records = rotate_vectors(records, rotation, vec_col)

    # __raw is derived from the same record as the transformed vector,
    # so ignoring it keeps the duplicate-survivor choice a function of
    # the record alone, whatever the layout's transform
    assigned = pick_survivors(
        assign_centroids_gemm(records, centroids, "euclidean", vec_col),
        id_col,
        ignore=("__raw",),
    )
    meta_cols = meta.get("meta_cols") or []
    for c in meta_cols:
        # the layout carries metadata for filtered probes; an upsert
        # without it would write NULL-metadata rows that silently
        # vanish from every filtered search
        if c not in assigned.columns:
            raise ValueError(
                f"layout carries meta_cols {meta_cols}; "
                f"upsert records are missing {c!r}"
            )
    enc_src, enc_col = assigned, vec_col
    if residual:
        # encode exactly as the build did (flag persisted in sidecar)
        enc_src, enc_col = _with_residual(assigned, centroids, vec_col)
    # layout columns ride through the encode kernel (as in
    # write_ivfpq_index), and the encoded batch is materialized once:
    # the merge reads it for its keys, its partitions and its rows
    raw = "__raw" if transformed else vec_col
    enc = pq_encode(
        enc_src, codebooks, id_col, enc_col,
        carry_cols=["centroid_id", raw, *meta_cols],
    )
    fresh = enc.select(
        id_col, "centroid_id", F.col(raw).alias(layout_vec_col),
        *meta_cols, "codes",
    ).localCheckpoint(eager=True)
    n_new = fresh.count()
    if n_new == 0:
        return {"touched": [], "n_upserted": 0}
    touched = upsert_keys(
        spark.read.parquet(path), path, "centroid_id", fresh, id_col
    )
    return {
        "touched": touched,
        "n_upserted": n_new,
        "staleness": bump_sidecar(
            path, IVFPQ_META, meta, "upserted_since_build", n_new
        ),
    }
