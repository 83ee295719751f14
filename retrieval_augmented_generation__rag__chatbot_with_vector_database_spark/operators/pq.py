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
- **Probing** (`ivfpq_topk_rerank`, one kernel: `adc_rerank_blocks`):
  queries are collected (bounded, loud error past the cap — same
  contract as the GEMM probe) and the probe plan (`ann.probe_plan`)
  picks the buckets each query reads; the kernel is a plain function
  bound over numpy arrays. Per Arrow batch of codes, each query's
  LUT[m][k] of partial squared distances is gathered and summed — no
  decompression — and each query's ADC top-``fetch_k`` is reranked
  at full precision against the raw vectors stored next to the codes,
  restoring exact ordering. Flat PQ (`pq_topk_rerank`) is the
  one-list case of the same probe.

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
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
    check_metric,
    smaller_is_better,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
    Probe,
    collect_query_matrix,
    list_matrix,
    probe_on_spark,
    probe_plan,
    sidecar_centroids,
)


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

    from pyspark.util import inheritable_thread_target

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        seed_centroids,
    )

    # the caller's local properties (job group, description) ride along,
    # so the threads' jobs count as the caller's
    inherit = inheritable_thread_target(index.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fb = pool.submit(
            inherit(train_pq_codebooks), index, m, k, id_col, vec_col, iters,
            max_train_rows,
        )
        fc = pool.submit(
            inherit(seed_centroids), index, n_centroids, id_col, vec_col
        )
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
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    R = np.array(rotation, dtype=np.float64)
    out = out_col or vec_col

    @pandas_udf("array<float>")
    def _rot(s):
        import pandas as pd

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
    import numpy as np
    import pyarrow as pa

    m = len(codebooks)
    sub = len(codebooks[0][0])
    B = [np.array(b, dtype=np.float64) for b in codebooks]
    out_schema = "sum_sq_err double, n long"

    def kernel(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            V = list_matrix(batch, vec_col, m * sub).astype(np.float64)
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
    import numpy as np
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
    B = [np.array(b, dtype=np.float64) for b in codebooks]
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
        for batch in batches:
            # float32 → float64 widening is exact, so the codes match a
            # decode through Python floats bit for bit
            V = list_matrix(batch, vec_col, m * sub).astype(np.float64)
            codes = np.empty((batch.num_rows, m), dtype=np.int32)
            for j in range(m):
                S = V[:, j * sub : (j + 1) * sub]
                # |s - c|^2 = |s|^2 - 2 s·c + |c|^2; |s|^2 constant per row
                d2 = -2.0 * (S @ B[j].T) + (B[j] ** 2).sum(axis=1)[None, :]
                codes[:, j] = d2.argmin(axis=1).astype(np.int32)
            # explicit Arrow types: inference would give list<int64>
            # and Spark's reader rejects the child-type mismatch
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(id_col).cast(pa.int64()),
                    pa.array(codes.tolist(), type=pa.list_(pa.int32())),
                    *[batch.column(c) for c in carry_cols],
                ],
                names=[id_col, "codes", *carry_cols],
            )

    return src.mapInArrow(kernel, out_schema)


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


def pq_topk_rerank(
    queries: DataFrame,
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    fetch_k: int = 25,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Flat PQ probe (squared-L2 ADC, exact euclidean rerank): the
    one-list case of :func:`ivfpq_topk_rerank`, one zero centroid that
    every row belongs to and every query probes. ``encoded`` carries
    the codes and the raw vectors (``pq_encode(..., carry_cols=
    [vec_col])``). Each task reranks its own ADC top-``fetch_k`` per
    query, a superset of the global ADC top-``fetch_k``."""
    return ivfpq_topk_rerank(
        queries,
        encoded.withColumn("centroid_id", F.lit(0)),
        {"centroids": [(0, [0.0] * _book_dim(codebooks))], "codebooks": codebooks},
        k=k,
        nprobe=1,
        fetch_k=fetch_k,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        id_col=id_col,
        vec_col=vec_col,
    )


# ---------------------------------------------------------------- IVF × PQ

IVFPQ_META = "_ivfpq_meta.json"

#: The layout-space rule. An IVFPQ layout stores RAW full-precision
#: vectors (the rerank metric is defined on them) next to codes that
#: live in the layout's SPACE, which its sidecar alone describes: the
#: (normalize, mips) flags below, the MIPS scale ``mips_max_norm``
#: and the OPQ ``rotation``. Rows enter that space in one place
#: (:func:`_in_layout_space`, applied by :func:`_layout_rows` for
#: build, upsert and retrain alike), always with the sidecar's own
#: M and R; queries enter it in :func:`ivfpq_topk_rerank`. The ADC is
#: squared-L2, which orders like cosine on unit vectors and like dot
#: product on MIPS-augmented ones, so each flag pair serves exactly one
#: metric:
LAYOUT_FLAGS = {
    "euclidean": (False, False),
    "cosine": (True, False),
    "dotproduct": (False, True),
}


def layout_metric(meta: dict) -> str:
    """The one metric an IVFPQ layout serves, from its sidecar's
    (normalize, mips) flags."""
    flags = (bool(meta.get("normalize")), bool(meta.get("mips")))
    for metric, want in LAYOUT_FLAGS.items():
        if flags == want:
            return metric
    raise ValueError(f"IVFPQ sidecar flags (normalize, mips)={flags} serve no metric")


def check_layout_metric(metric: str, meta: dict) -> None:
    """Raise unless the IVFPQ layout with sidecar ``meta`` serves
    ``metric``. A transformed layout serves EXACTLY its metric (each
    transform defines the space the codes live in; mixing metrics
    would rank by one geometry and score by another)."""
    check_metric(metric)
    if layout_metric(meta) != metric:
        raise ValueError(
            f"metric={metric!r} needs an IVFPQ layout built with "
            f"(normalize, mips)={LAYOUT_FLAGS[metric]}; this layout serves "
            f"{layout_metric(meta)!r} — a transformed layout serves exactly "
            "its own metric (normalize→cosine, mips→dotproduct, "
            "raw→euclidean); rebuild with the matching write_ivfpq_index "
            "flags or use an IVF/float layout"
        )


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
    return _mips_norm(index, vec_col, None)


def _mips_norm(index: DataFrame, vec_col: str, book_dim: int | None) -> float:
    """``M`` in ONE aggregate that also reads the max vector dim: a
    MIPS layout's codebooks must cover the augmented vector (input dim
    + 1), or the sqrt coordinate would be sliced off and ADC order
    would silently stop being dot-product order, so a ``book_dim``
    below that raises."""
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
    if book_dim is not None and book_dim < int(row["d"]) + 1:
        raise ValueError(
            f"MIPS codebook dim m*sub={book_dim} < input dim "
            f"{int(row['d'])} + 1: the augmented vector [x/M, sqrt(1-|x/M|²)] "
            "would be truncated and ADC order would silently stop "
            "being dot-product order — train codebooks on the "
            "augmented frame (dim >= input + 1, padded to the "
            "subspace grid)"
        )
    return float(m)


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


def _book_dim(codebooks: list[list[list[float]]]) -> int:
    """m × sub: the dimension of the layout's space."""
    return len(codebooks) * len(codebooks[0][0])


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
    centroids + codebooks) live in the sidecar with the layout's space
    (:data:`LAYOUT_FLAGS`): probing with a different quantizer is
    silent garbage, so it must be impossible. Centroids, codebooks and
    ``rotation`` must be trained on the frame in the layout's space.

    ``residual=False`` encodes RAW vectors (IVF-Flat-PQ);
    ``residual=True`` encodes ``v - centroid(v)`` with codebooks from
    :func:`train_pq_codebooks_residual` — residuals concentrate near
    zero, so the same code budget quantizes finer (the classic IVFPQ).

    ``normalize=True`` builds the unit-sphere layout that serves
    ``metric="cosine"`` (|a-b|² = 2-2·cos on unit vectors) — the
    reference's default metric (`app/api/routes.py:139,152`) on the
    engine's cheapest layout.

    ``mips=True`` builds the MIPS-augmented layout that serves
    ``metric="dotproduct"`` (:func:`mips_augmented`, target dim = the
    codebooks' m×sub, ``M`` computed here once and persisted; the
    codebook dim must cover input dim + 1, or this raises). Mutually
    exclusive with ``normalize``.

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
    into the layout, applied after the metric transform. R is
    orthonormal, so every L2 distance and inner product is preserved;
    only the code budget's variance allocation improves (SCALE.md:
    0.18× SSE under 1000× scale anisotropy; no gain on isotropic data —
    opt-in, not a default).
    """
    if normalize and mips:
        raise ValueError("normalize and mips are mutually exclusive")
    meta_cols = list(meta_cols or [])
    reserved = {id_col, vec_col, "centroid_id", "codes", "__raw"}
    for c in meta_cols:
        if c in reserved:
            raise ValueError(
                f"meta_cols entry {c!r} collides with a layout column"
            )
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
    book_dim = _book_dim(codebooks)
    if rotation is not None:
        rd = len(rotation)
        if rd != book_dim or any(len(r) != rd for r in rotation):
            raise ValueError(
                f"rotation must be a {book_dim}×{book_dim} matrix over "
                f"the layout's (transformed) frame; got {rd}×"
                f"{len(rotation[0]) if rotation else 0}"
            )
    _write_ivfpq(
        index,
        path,
        {
            "m": len(codebooks),
            "k": len(codebooks[0]),
            "centroids": centroids,
            "codebooks": codebooks,
            "residual": residual,
            "normalize": normalize,
            "mips": mips,
            "mips_max_norm": _mips_norm(index, vec_col, book_dim) if mips else None,
            "vec_col": vec_col,
            "meta_cols": meta_cols,
            "rotation": rotation,
        },
        id_col,
        vec_col,
    )


def _write_ivfpq(index: DataFrame, path: str, meta: dict, id_col: str,
                 vec_col: str) -> None:
    """Build (or rebuild) the layout ``meta`` describes from ``index``."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        write_centroid_layout,
    )

    write_centroid_layout(
        _layout_rows(index, meta, id_col, vec_col, one_per_id=False),
        path,
        IVFPQ_META,
        meta,
    )


def _in_layout_space(rows: DataFrame, meta: dict, vec_col: str) -> DataFrame:
    """``vec_col`` moved into the layout space ``meta`` describes (see
    :data:`LAYOUT_FLAGS`): unit-normalized, or MIPS-augmented with the
    sidecar's M to the codebooks' dimension, then rotated by the
    sidecar's R. The sidecar's own M and R, never ones recomputed on
    the rows: a batch would otherwise land in a different space."""
    if meta.get("normalize"):
        rows = _unit_normalized(rows, vec_col)
    if meta.get("mips"):
        rows = mips_augmented(
            rows, vec_col, float(meta["mips_max_norm"]),
            _book_dim(meta["codebooks"]),
        )
    if meta.get("rotation") is not None:
        rows = rotate_vectors(rows, meta["rotation"], vec_col)
    return rows


def _layout_rows(rows: DataFrame, meta: dict, id_col: str, vec_col: str, *,
                 one_per_id: bool) -> DataFrame:
    """The one row pipeline of an IVFPQ layout, shared by build,
    upsert and retrain: stash the raw vectors, enter the layout space
    (:func:`_in_layout_space`), assign to the nearest coarse centroid
    (euclidean — the ADC metric), keep one survivor per id when
    ``one_per_id`` (an upsert batch; ``__raw`` is derived from the same
    record as the transformed vector, so ignoring it keeps the choice a
    function of the record alone), take residuals when the layout is
    residual, PQ-encode with the sidecar's codebooks and project to the
    layout's columns. The carried columns ride THROUGH the encode
    kernel (zero-copy Arrow passthrough) instead of a self-join on id,
    which would recompute the assignment GEMM and shuffle the batch
    again. The raw vectors are stored as-is (no float cast): the fused
    rerank must see the exact values the exact paths score."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        assign_centroids_gemm,
        sidecar_centroids,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.layout import (
        pick_survivors,
    )

    meta_cols = meta.get("meta_cols") or []
    for c in meta_cols:
        # rows without a metadata column would land with NULL metadata
        # and silently vanish from every filtered probe
        if c not in rows.columns:
            raise ValueError(
                f"meta_cols entry {c!r} not in the index frame (the layout "
                f"carries meta_cols {meta_cols}; rows are missing {c!r})"
            )
    centroids = sidecar_centroids(meta)
    transformed = (
        meta.get("normalize") or meta.get("mips")
        or meta.get("rotation") is not None
    )
    raw = "__raw" if transformed else vec_col
    if transformed:
        rows = rows.withColumn("__raw", F.col(vec_col))
    assigned = assign_centroids_gemm(
        _in_layout_space(rows, meta, vec_col), centroids, "euclidean", vec_col
    )
    if one_per_id:
        assigned = pick_survivors(assigned, id_col, ignore=("__raw",))
    enc_src, enc_col = assigned, vec_col
    if meta.get("residual"):
        enc_src, enc_col = _with_residual(assigned, centroids, vec_col)
    enc = pq_encode(
        enc_src, meta["codebooks"], id_col, enc_col,
        carry_cols=["centroid_id", raw, *meta_cols],
    )
    return enc.select(
        id_col, "centroid_id", F.col(raw).alias(meta["vec_col"]),
        *meta_cols, "codes",
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
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        read_sidecar,
    )

    return read_sidecar(path, IVFPQ_META)


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
    meta: dict,
    k: int = 5,
    nprobe: int = 4,
    fetch_k: int = 50,
    pre_filter=None,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full ANN-at-scale composition in ONE job over the layout
    ``meta`` (its parsed sidecar) describes: coarse probe (each query's
    ``nprobe`` nearest centroids, chosen driver-side from the
    already-collected bounded query matrix) → static ``isin`` partition
    prune (only probed bucket DIRECTORIES are read — PartitionFilters,
    like the float IVF layout) → ADC over the pruned codes with a
    per-query bucket mask (a row scores only for queries probing its
    bucket) → per-query ``fetch_k`` candidates → exact rerank against
    the raw vectors that ``write_ivfpq_index`` stores next to the
    codes. The rerank touches ``fetch_k`` float rows per query and
    task; the only post-kernel op is the final per-query top-k window.
    ``fetch_k`` below ``k`` is raised to ``k``: the over-fetch can
    never cut the answer short.

    The metric is the one the layout serves (:func:`layout_metric`);
    queries enter the layout space through the sidecar (unit rows under
    cosine, zero-padded to the augmented dimension under MIPS —
    ``q' = [q, 0…]`` — then rotated by R) and are reranked in the raw
    space, so rows hash-equal the exact path on the candidate set. A
    zero-norm query under cosine raises, as on every route.

    ``layout`` must carry ``vec_col``; a layout written without it
    (an older codes-only build) raises and has to be rebuilt.

    ``pre_filter`` (a Column over layout columns — built-ins or
    ``meta_cols`` carried by ``write_ivfpq_index``) applies BEFORE the
    ADC kernel, inside the pruned bucket scan: Catalyst pushes the
    predicate to the parquet reader under the same PartitionFilters,
    so non-qualifying rows never enter the candidate pool and the
    top-k is the filtered corpus's own (single-stage filtering — the
    semantics of the reference's Pinecone filter argument; recall does
    not degrade with filter selectivity the way post-filtering a
    fixed-k result does).

    Under cosine a zero-norm row has no score, so it is never
    returned."""
    if vec_col not in layout.columns:
        raise ValueError(
            f"IVFPQ layout has no raw-vector column {vec_col!r} (a "
            "codes-only layout from an older build); rebuild it with "
            "write_ivfpq_index, which stores the vectors next to the codes "
            "(pq_encode carries them with carry_cols=[vec_col])"
        )
    probe = ivfpq_probe(
        queries, meta, k, nprobe, fetch_k, query_id_col, query_vec_col,
        id_col, vec_col,
    )
    return probe_on_spark(layout, probe, pre_filter)


def ivfpq_probe(queries: DataFrame, meta: dict, k: int, nprobe: int,
                fetch_k: int, query_id_col: str, query_vec_col: str,
                id_col: str, vec_col: str) -> Probe:
    """The IVFPQ probe's preparation (:func:`ivfpq_topk_rerank`): the
    query matrix, moved into the layout space the sidecar ``meta``
    describes, its :func:`ann.probe_plan` and the bound
    :func:`adc_rerank_blocks` kernel, as an ``ann.Probe``."""
    import numpy as np

    metric = layout_metric(meta)
    fetch_k = max(fetch_k, k)
    codebooks = meta["codebooks"]
    book_dim = _book_dim(codebooks)
    # Qraw is the raw query space the rerank metric is defined on; Q
    # is its scoring form (unit rows under cosine), moved below into
    # the rest of the layout space
    qids, Qraw, Q = collect_query_matrix(
        queries, query_id_col, query_vec_col, metric
    )
    if meta.get("mips"):
        if Q.shape[1] > book_dim:
            raise ValueError(
                f"query dim {Q.shape[1]} exceeds MIPS layout dim {book_dim}"
            )
        Q = np.hstack([Q, np.zeros((Q.shape[0], book_dim - Q.shape[1]))])
    if meta.get("rotation") is not None:
        R = np.array(meta["rotation"], dtype=np.float64)
        if Q.shape[1] != R.shape[0]:
            raise ValueError(
                f"query dim {Q.shape[1]} != layout rotation dim {R.shape[0]}"
            )
        Q = Q @ R
    if Q.shape[1] != book_dim:
        raise ValueError(
            f"query dim {Q.shape[1]} != codebook dim {book_dim} "
            f"(m={len(codebooks)}, sub={len(codebooks[0][0])})"
        )
    centroids = sidecar_centroids(meta)
    # the probe runs in the layout's (transformed) euclidean space
    probed, by_bucket = probe_plan(Q, centroids, nprobe, "euclidean")
    kernel = partial(
        adc_rerank_blocks,
        qids=qids,
        Q=Q,
        Qr=Qraw,
        books=[np.array(b, dtype=np.float64) for b in codebooks],
        cvec={
            c: np.array(v, dtype=np.float64)
            for c, v in centroids
            if c in by_bucket
        },
        by_bucket=by_bucket,
        residual=bool(meta.get("residual")),
        metric=metric,
        k=k,
        fetch_k=fetch_k,
        id_col=id_col,
        vec_col=vec_col,
    )
    return Probe(
        kernel=kernel,
        probed=probed,
        columns={c: c for c in (id_col, "codes", "centroid_id", vec_col)},
        metric=metric,
        k=k,
    )


def adc_rerank_blocks(batches, *, qids, Q, Qr, books, cvec, by_bucket,
                      residual: bool, metric: str, k: int, fetch_k: int,
                      id_col: str, vec_col: str):
    """The one IVFPQ kernel (see :func:`ivfpq_topk_rerank`): ADC over
    the batch's probed buckets → per-(query, bucket) top-``fetch_k`` ADC
    cut → per-query ADC top-``fetch_k`` MERGE across all of the task's
    batches (codes are cheap to compare; carrying every bucket's full
    cut to the rerank would re-score ~``fetch_k × buckets`` rows per
    query — at fetch 2000 × 100 probed buckets that is half the corpus
    again) → ONE exact rerank per task of each query's surviving
    ``fetch_k`` candidates against the raw vectors CO-LOCATED in the
    layout. ``Q`` is the query matrix in the layout's space, ``Qr`` in
    the raw space, ``by_bucket`` the :func:`ann.probe_plan` map and
    ``cvec`` the probed centroids (the residual target). The rescore
    reproduces ``functions.vector.similarity_expr`` bit-for-bit:
    float64 everywhere, per-dimension SEQUENTIAL left-fold adds (a
    Python loop of vectorized adds over dims — not numpy pairwise
    summation); under cosine a row with a zero denominator is dropped.
    The candidate set is the union of per-(query, task) ADC
    top-``fetch_k`` cuts — a SUPERSET of the global ADC top-``fetch_k``
    (equal to it when one task reads the whole probe, e.g. a
    ``coalesce(1)`` layout read; the whole probed set whenever
    ``fetch_k`` covers the probed rows, which is how the full-value
    oracles are constructed). Every cut breaks ADC ties by ``vec_id``,
    so the candidate set is deterministic given the task's bucket
    assignment. The driver executor (``operators.search``) calls the
    kernel once per probed bucket, so there a "task" is one bucket."""
    import numpy as np
    import pyarrow as pa

    m = len(books)
    sub = books[0].shape[1]
    nq = Q.shape[0]
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

    # Each probed bucket gets ONE stacked LUT tensor (nq_b × m × k) so
    # every query scoring a bucket is a single fancy gather, not a
    # Python loop. For residual layouts the ADC target is q - c_bucket
    # (|q - (c + r)|^2 = |(q - c) - r|^2) so the tensor is built per
    # bucket — LAZILY, on the bucket's first row in THIS task (a task
    # holds a handful of bucket directories; building all probed
    # buckets' LUTs in every task is buckets/task-count × wasted
    # work). Raw layouts share each query's own LUT across buckets
    # (stack is a view-index into one nq × m × k array).
    raw_luts = None if residual else _adc_luts(Q, books, sub)
    lut_cache: dict[int, "np.ndarray"] = {}

    def get_lut(cid):
        hit = lut_cache.get(cid)
        if hit is None:
            qis = by_bucket[cid]
            hit = (
                _adc_luts(Q[qis] - cvec[cid][None, :], books, sub)
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
        codes = list_matrix(batch, "codes", m).astype(
            np.int64, copy=False
        )
        # zero-copy view in the STORED dtype; only the ≤ fetch_k
        # candidate rows per query are copied out below — widening
        # the whole batch would copy ~n×d×8 bytes for rows the
        # rerank never touches
        V = list_matrix(batch, vec_col, d_raw)
        bucket = (
            batch.column("centroid_id")
            .to_numpy(zero_copy_only=False)
            .astype(np.int64, copy=False)
        )
        # the layout is partitioned by centroid_id so a batch is
        # normally ONE bucket; group once regardless
        for cid in np.unique(bucket):
            qis = by_bucket.get(int(cid))
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

    smaller = smaller_is_better(metric)
    out_q: list["np.ndarray"] = []
    out_v: list["np.ndarray"] = []
    out_s: list["np.ndarray"] = []
    for qi in range(nq):
        if not acc_n[qi]:
            continue
        ids_f, _, vec_f = _compact(qi, fetch_k)
        W = vec_f.astype(np.float64)  # exact widening
        if metric == "euclidean":
            diff = Qr[qi][None, :] - W
            s = np.sqrt(seq_sq(diff))
        elif metric == "dotproduct":
            s = seq_dot(Qr[qi], W)
        else:  # cosine
            denom = q_norms[qi] * np.sqrt(seq_sq(W))
            live = denom > 0.0
            ids_f, W, denom = ids_f[live], W[live], denom[live]
            s = seq_dot(Qr[qi], W) / denom
        t = len(ids_f)
        # exact scores are FINAL, so only the per-task top-k can reach
        # the global top-k — emit k rows per (query, task), not fetch_k
        # (the post-kernel shuffle shrinks fetch_k/k ×), in the
        # downstream window's (score, vec_id) order
        if t > k:
            keep = np.lexsort((ids_f, s if smaller else -s))[:k]
            ids_f, s = ids_f[keep], s[keep]
            t = k
        out_q.append(np.full(t, qids[qi], dtype=np.int64))
        out_v.append(ids_f)
        out_s.append(s)
    if out_q:
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.concatenate(out_q), type=pa.int64()),
                pa.array(np.concatenate(out_v), type=pa.int64()),
                pa.array(np.concatenate(out_s), type=pa.float64()),
            ],
            names=["query_id", "vec_id", "score"],
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

    The design (m, k, centroid count, residual flag, space flags,
    ``meta_cols``) is read from the live sidecar — a retrain refreshes
    the quantizers for the drifted corpus, it does not change the index
    design. Every quantizer parameter is re-learned on the drifted
    corpus in the layout space: a fresh MIPS scale M (computed once),
    a fresh OPQ rotation when the layout has one, coarse centroids
    re-seeded deterministically and Lloyd-refined, codebooks on the
    standard bounded sample. The rebuilt layout, with staleness reset,
    is written into the sibling dir ``<path>._retrain``. Only when that
    write and its sidecar are complete are the buckets and the sidecar
    swapped into ``path`` under the layout's marker fence
    (``layout.swap_partition_dirs``), so the live layout stays whole and
    readable until then — a crash mid-rebuild leaves it as it was, and
    the retrain can simply be re-run.

    Returns ``{"rows": int, "staleness_before": float}``.
    """
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        lloyd_refine,
        seed_centroids,
        sidecar_staleness,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.layout import (
        check_not_torn,
        swap_partition_dirs,
    )

    check_not_torn(path)
    meta = load_ivfpq_meta(path)
    m, k = int(meta["m"]), int(meta["k"])
    space = {
        **meta,
        "mips_max_norm": (
            _mips_norm(vectors, vec_col, _book_dim(meta["codebooks"]))
            if meta.get("mips")
            else None
        ),
        "rotation": None,
        "vec_col": vec_col,
        "meta_cols": meta.get("meta_cols") or [],
    }
    src = _in_layout_space(vectors, space, vec_col)
    if meta.get("rotation"):
        space["rotation"] = train_opq_rotation(
            src, m=m, id_col=id_col, vec_col=vec_col
        )
        src = _in_layout_space(vectors, space, vec_col)
    cents = seed_centroids(src, len(meta["centroids"]), id_col, vec_col)
    if lloyd_iters > 0:
        cents = lloyd_refine(src, cents, iters=lloyd_iters, vec_col=vec_col)
    if meta.get("residual"):
        books = train_pq_codebooks_residual(
            src, cents, m=m, k=k, id_col=id_col, vec_col=vec_col
        )
    else:
        books = train_pq_codebooks(
            src, m=m, k=k, id_col=id_col, vec_col=vec_col
        )
    tmp = path.rstrip("/") + "._retrain"
    _write_ivfpq(
        vectors, tmp, {**space, "centroids": cents, "codebooks": books},
        id_col, vec_col,
    )
    buckets = {
        e for d in (path, tmp) for e in os.listdir(d)
        if e.startswith("centroid_id=")
    }
    swap_partition_dirs(path, tmp, [*sorted(buckets), IVFPQ_META])
    return {
        "rows": int(load_ivfpq_meta(path)["rows_at_build"]),
        "staleness_before": sidecar_staleness(meta),
    }


def upsert_ivfpq_index(
    spark,
    path: str,
    records: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental IVFPQ maintenance — the PQ tier's analogue of
    ``ann.upsert_ivf_index``: the batch goes through the layout's own
    row pipeline (:func:`_layout_rows`, with the sidecar's quantizers
    and space, so a caller can't encode with a different quantizer),
    intra-batch duplicates resolve to one survivor (md5-payload total
    order, as everywhere else), and ``ann.upsert_centroid_rows`` merges
    it into the touched ``centroid_id`` partitions only. Last write
    wins against existing rows by id.

    Returns ``{"touched": [...], "n_upserted": int, "staleness": float}``.
    """
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        upsert_centroid_rows,
    )

    def rows_of(meta: dict) -> DataFrame:
        if not meta.get("vec_col"):
            raise ValueError(
                f"IVFPQ layout {path!r} stores no raw vectors (a codes-only "
                "layout from an older build); rebuild it with "
                "write_ivfpq_index or retrain_ivfpq_index before upserting"
            )
        return _layout_rows(records, meta, id_col, vec_col, one_per_id=True)

    return upsert_centroid_rows(spark, path, IVFPQ_META, rows_of, id_col)
