"""IVF approximate-nearest-neighbor queries (operators.ann) — the
scale path for the reference's similarity search (SURVEY.md §4 item
2). Everything is deterministic (seed centroids = lowest-id vectors,
ties to lower centroid id) so the full pipeline — assignment, probe
selection, pruned top-k, and recall vs the exact scan — has a DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
    ann,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
    topk_search,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries import (
    load,
    register,
)

N_CENTROIDS = 16
N_PROBE = 4
N_QUERIES = 8
K = 5

def _ivf_cte(metric_fn: str = "list_cosine_similarity", direction: str = "DESC",
             index_and: str = "") -> str:
    """The IVF oracle pipeline (assign → probe → pruned score → rank)
    for any of the three metrics; ``direction`` is the better-is
    ordering (DESC for cosine/dot, ASC for euclidean distance);
    ``index_and`` is an extra AND clause on the candidate side
    (metadata-filtered ANN) — assignment and probe sets are
    filter-independent, exactly like the Spark operator."""
    return f"""
cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
  FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {metric_fn}(e.embedding::DOUBLE[], c.cvec) {direction},
                                       c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
probe AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {metric_fn}(q.qvec, c.cvec) {direction},
                                       c.cid ASC) AS rn
    FROM q CROSS JOIN cent c) WHERE rn <= {N_PROBE}
),
ivf_scored AS (
  SELECT p.query_id, a.vec_id,
         {metric_fn}(q.qvec, e.embedding::DOUBLE[]) AS s
  FROM probe p
  JOIN assign a ON a.cid = p.cid
  JOIN q ON q.query_id = p.query_id
  JOIN embeddings e ON e.vec_id = a.vec_id {index_and}
),
ivf_ranked AS (
  SELECT query_id, vec_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s {direction}, vec_id ASC) AS rank
  FROM ivf_scored
)
"""


_IVF_CTE = _ivf_cte()


def _queries_and_centroids(spark: SparkSession, sf_dir: str):
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cents = ann.seed_centroids(emb, N_CENTROIDS)
    return emb, queries, cents


@register(
    "ann_ivf_topk",
    f"""
WITH {_IVF_CTE}
SELECT query_id, vec_id, round(s, 6) AS score, rank::INT AS rank
FROM ivf_ranked WHERE rank <= {K}
""",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned top-k (nprobe={N_PROBE} of {N_CENTROIDS} buckets):
    exact scoring on ~nprobe/k of the index per query, over an index
    assigned in the same plan (no layout written)."""
    emb, queries, cents = _queries_and_centroids(spark, sf_dir)
    out = ann.ivf_topk_gemm(
        queries, ann.assign_centroids_gemm(emb, cents, "cosine"), cents,
        k=K, nprobe=N_PROBE, metric="cosine",
    )
    return out.select("query_id", "vec_id", F.round("score", 6).alias("score"), "rank")


def _ivf_gemm_over_layout(spark: SparkSession, sf_dir: str, metric: str,
                          pre_filter=None) -> DataFrame:
    """Shared body for the production-path GEMM queries: materialize
    the ``write_ivf_index`` partitioned layout, read it back, probe
    with ``ivf_topk_gemm`` (partition-pruned, bucket-wise GEMM)."""
    import tempfile

    emb, queries, cents = _queries_and_centroids(spark, sf_dir)
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ivf"
        ann.write_ivf_index(emb, path, cents, metric=metric)
        layout = spark.read.parquet(path)
        out = ann.ivf_topk_gemm(
            queries, layout, cents, k=K, nprobe=N_PROBE, metric=metric,
            pre_filter=pre_filter,
        ).select("query_id", "vec_id", F.round("score", 6).alias("score"), "rank")
        # materialize before the tempdir disappears (|Q| x k rows)
        return spark.createDataFrame(out.collect(), out.schema)


@register(
    "ann_ivf_topk_gemm",
    f"""
WITH {_ivf_cte()}
SELECT query_id, vec_id, round(s, 6) AS score, rank::INT AS rank
FROM ivf_ranked WHERE rank <= {K}
""",
)
def ann_ivf_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN serving path end-to-end (same oracle as
    ann_ivf_topk): centroid-partitioned parquet layout + statically
    pruned scan + bucket-wise GEMM probe (SCALE.md's 28.9x path)."""
    return _ivf_gemm_over_layout(spark, sf_dir, "cosine")


@register(
    "ann_ivf_topk_gemm_int8",
    f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
  FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC,
                                       c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
probe AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY list_cosine_similarity(q.qvec, c.cvec) DESC,
                                       c.cid ASC) AS rn
    FROM q CROSS JOIN cent c) WHERE rn <= {N_PROBE}
),
deq AS (
  SELECT vec_id,
         CASE WHEN s > 0 THEN list_transform(v, x -> round(x / s) * s)
              ELSE list_transform(v, x -> 0.0) END AS dv
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS s
        FROM embeddings)
),
ivf_scored AS (
  SELECT p.query_id, a.vec_id, list_cosine_similarity(q.qvec, d.dv) AS s
  FROM probe p
  JOIN assign a ON a.cid = p.cid
  JOIN q ON q.query_id = p.query_id
  JOIN deq d ON d.vec_id = a.vec_id
),
ivf_ranked AS (
  SELECT query_id, vec_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM ivf_scored
)
SELECT query_id, vec_id, round(s, 6) AS score, rank::INT AS rank
FROM ivf_ranked WHERE rank <= {K}
""",
)
def ann_ivf_topk_gemm_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEMM IVF probe over the int8-COMPRESSED layout (~4x fewer scan
    bytes): assignment/probe on full-precision centroids, scoring on
    in-kernel dequantized vectors. The oracle reproduces the
    quantize→dequantize arithmetic exactly, so this is fully
    hash-checked, not just recall-checked."""
    import tempfile

    emb, queries, cents = _queries_and_centroids(spark, sf_dir)
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ivf8"
        ann.write_ivf_index(emb, path, cents, metric="cosine", compression="int8")
        layout = spark.read.parquet(path)
        out = ann.ivf_topk_gemm(
            queries, layout, cents, k=K, nprobe=N_PROBE, metric="cosine"
        ).select("query_id", "vec_id", F.round("score", 6).alias("score"), "rank")
        return spark.createDataFrame(out.collect(), out.schema)


@register(
    "ann_ivf_topk_rerank",
    f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
  FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC,
                                       c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
probe AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY list_cosine_similarity(q.qvec, c.cvec) DESC,
                                       c.cid ASC) AS rn
    FROM q CROSS JOIN cent c) WHERE rn <= {N_PROBE}
),
deq AS (
  SELECT vec_id,
         CASE WHEN s > 0 THEN list_transform(v, x -> round(x / s) * s)
              ELSE list_transform(v, x -> 0.0) END AS dv
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS s
        FROM embeddings)
),
q_scored AS (
  SELECT p.query_id, a.vec_id, list_cosine_similarity(q.qvec, d.dv) AS s
  FROM probe p
  JOIN assign a ON a.cid = p.cid
  JOIN q ON q.query_id = p.query_id
  JOIN deq d ON d.vec_id = a.vec_id
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
    FROM q_scored) WHERE rank <= {4 * K}
),
rescored AS (
  SELECT c.query_id, c.vec_id,
         list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]) AS s
  FROM cand c
  JOIN q ON q.query_id = c.query_id
  JOIN embeddings e ON e.vec_id = c.vec_id
),
ranked AS (
  SELECT query_id, vec_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM rescored
)
SELECT query_id, vec_id, round(s, 6) AS score, rank::INT AS rank
FROM ranked WHERE rank <= {K}
""",
)
def ann_ivf_topk_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage int8 probe: quantized candidate generation
    (expand=4x) + full-precision rerank — candidate selection AND the
    exact rescoring both mirrored in the oracle."""
    import tempfile

    emb, queries, cents = _queries_and_centroids(spark, sf_dir)
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ivf8"
        ann.write_ivf_index(emb, path, cents, metric="cosine", compression="int8")
        layout = spark.read.parquet(path)
        out = ann.ivf_topk_rerank(
            queries, layout, emb, cents, k=K, nprobe=N_PROBE, expand=4
        ).select("query_id", "vec_id", F.round("score", 6).alias("score"), "rank")
        return spark.createDataFrame(out.collect(), out.schema)


@register(
    "ann_ivf_upsert_probe",
    f"""
WITH {_IVF_CTE}
SELECT query_id, vec_id, round(s, 6) AS score, rank::INT AS rank
FROM ivf_ranked WHERE rank <= {K}
""",
)
def ann_ivf_upsert_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance end-to-end (VERDICT r2 next #2):
    build the layout from a 4/5 subset, ``upsert_ivf_index`` the
    remaining 1/5 (only touched centroid partitions rewritten), then
    probe. The oracle is the SAME full-corpus IVF pipeline as
    ``ann_ivf_topk`` — an incrementally maintained layout must be
    indistinguishable from a from-scratch build."""
    import tempfile

    emb, queries, cents = _queries_and_centroids(spark, sf_dir)
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ivf"
        ann.write_ivf_index(emb.filter(F.col("vec_id") % 5 != 0), path, cents)
        ann.upsert_ivf_index(spark, path, emb.filter(F.col("vec_id") % 5 == 0))
        layout = ann.read_ivf_index(spark, path)
        out = ann.ivf_topk_gemm(
            queries, layout, cents, k=K, nprobe=N_PROBE, metric="cosine"
        ).select("query_id", "vec_id", F.round("score", 6).alias("score"), "rank")
        return spark.createDataFrame(out.collect(), out.schema)


@register(
    "ann_ivf_topk_gemm_euclidean",
    f"""
WITH {_ivf_cte("list_distance", "ASC")}
SELECT query_id, vec_id, round(s, 6) AS score, rank::INT AS rank
FROM ivf_ranked WHERE rank <= {K}
""",
)
def ann_ivf_topk_gemm_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEMM IVF probe under euclidean distance — the reference accepts
    all three metrics at index creation (pinecone_service.py:33-39)."""
    return _ivf_gemm_over_layout(spark, sf_dir, "euclidean")


@register(
    "ann_ivf_topk_gemm_dotproduct",
    f"""
WITH {_ivf_cte("list_inner_product", "DESC")}
SELECT query_id, vec_id, round(s, 6) AS score, rank::INT AS rank
FROM ivf_ranked WHERE rank <= {K}
""",
)
def ann_ivf_topk_gemm_dotproduct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEMM IVF probe under dot-product similarity."""
    return _ivf_gemm_over_layout(spark, sf_dir, "dotproduct")


@register(
    "ann_ivf_recall",
    f"""
WITH {_IVF_CTE},
exact_scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]) AS s
  FROM q CROSS JOIN embeddings e
),
exact_ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM exact_scored
)
SELECT x.query_id,
       round(count(i.vec_id) / {K}.0, 6) AS recall_at_k
FROM exact_ranked x
LEFT JOIN (SELECT query_id, vec_id FROM ivf_ranked WHERE rank <= {K}) i
       ON i.query_id = x.query_id AND i.vec_id = x.vec_id
WHERE x.rank <= {K}
GROUP BY x.query_id
""",
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{K} of the IVF probe vs the exact brute-force scan,
    per query — the tuning dial for nprobe."""
    emb, queries, cents = _queries_and_centroids(spark, sf_dir)
    ivf = ann.ivf_topk_gemm(
        queries, ann.assign_centroids_gemm(emb, cents, "cosine"), cents,
        k=K, nprobe=N_PROBE, metric="cosine",
    )
    exact = topk_search(queries, emb, k=K, metric="cosine")
    return (
        exact.select("query_id", "vec_id")
        .alias("x")
        .join(
            ivf.select(
                F.col("query_id").alias("i_query_id"),
                F.col("vec_id").alias("i_vec_id"),
            ),
            (F.col("query_id") == F.col("i_query_id"))
            & (F.col("vec_id") == F.col("i_vec_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.round(F.count("i_vec_id") / F.lit(float(K)), 6).alias("recall_at_k"))
    )


@register(
    "ann_ivf_partition_sizes",
    f"""
WITH {_IVF_CTE}
SELECT cid AS centroid_id, count(*) AS n_vectors
FROM assign GROUP BY cid
""",
)
def ann_ivf_partition_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assignment histogram — the bucket-size skew check an IVF build
    runs before choosing k (empty/overfull buckets hurt recall and
    probe cost)."""
    emb, _, cents = _queries_and_centroids(spark, sf_dir)
    assigned = ann.assign_centroids_gemm(emb, cents, metric="cosine")
    return assigned.groupBy("centroid_id").agg(F.count("*").alias("n_vectors"))


@register(
    "ann_pq_rerank_recall",
    f"""
SELECT vec_id AS query_id, TRUE AS recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
""",
)
def ann_pq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization tier (operators/pq.py): train m=16/k=64
    codebooks (16 bytes/vector, 16x compression), ADC over-fetch 100
    candidates per query from the codes alone, full-precision rerank,
    and assert recall@{K} vs exact euclidean top-{K} >= 0.8 per query
    (measured 1.0 at sf0.001/sf0.01; 0.8 is the contract floor). Codes
    are k-means-derived so the oracle pins the CONTRACT (TRUE per
    query), not the data-dependent values — same pattern as the HLL
    rollup."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        pq,
    )

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    books = pq.train_pq_codebooks(emb, m=16, k=64)
    enc = pq.pq_encode(emb, books, carry_cols=["embedding"])
    exact = topk_search(q, emb, k=K, metric="euclidean").select(
        "query_id", "vec_id"
    )
    rer = pq.pq_topk_rerank(
        q, enc, books, k=K, fetch_k=100
    ).select("query_id", F.col("vec_id").alias("r_vec_id"))
    hits = exact.join(
        rer,
        (exact["query_id"] == rer["query_id"])
        & (exact["vec_id"] == rer["r_vec_id"]),
        "left",
    ).groupBy(exact["query_id"].alias("query_id")).agg(
        F.count("r_vec_id").alias("n_hits")
    )
    return hits.select(
        "query_id", (F.col("n_hits") >= 0.8 * K).alias("recall_ok")
    )


@register(
    "ann_ivfpq_rerank_recall",
    f"""
SELECT vec_id AS query_id, TRUE AS recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
""",
)
def ann_ivfpq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ANN-at-scale composition (operators/pq.py IVF×PQ):
    coarse-probe nprobe=8 of 16 centroid-partitioned buckets of
    16-byte PQ codes (PartitionFilters prune unprobed directories),
    ADC over-fetch 100, full-precision rerank, recall@{K} vs exact
    euclidean >= 0.8 per query pinned TRUE by the oracle (boolean
    contract — codes are k-means-derived)."""
    import tempfile

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        pq,
    )

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    books, cents = pq.train_books_and_centroids(emb, m=16, k=64, n_centroids=16)
    exact = topk_search(q, emb, k=K, metric="euclidean").select(
        "query_id", "vec_id"
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ivfpq"
        pq.write_ivfpq_index(emb, path, cents, books)
        rer = pq.ivfpq_topk_rerank(
            q, spark.read.parquet(path), pq.load_ivfpq_meta(path), k=K,
            nprobe=8, fetch_k=100,
        ).select("query_id", F.col("vec_id").alias("r_vec_id"))
        hits = exact.join(
            rer,
            (exact["query_id"] == rer["query_id"])
            & (exact["vec_id"] == rer["r_vec_id"]),
            "left",
        ).groupBy(exact["query_id"].alias("query_id")).agg(
            F.count("r_vec_id").alias("n_hits")
        )
        out = hits.select(
            "query_id", (F.col("n_hits") >= 0.8 * K).alias("recall_ok")
        )
        # materialize before the tempdir disappears (N_QUERIES rows)
        return spark.createDataFrame(out.collect(), out.schema)


_IVFPQ_COSINE_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id, list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]) AS s
  FROM q CROSS JOIN embeddings e
), ranked AS (
  SELECT query_id, vec_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(s, 6) AS score, rank::INT AS rank
FROM ranked WHERE rank <= {K}
"""


@register("ann_ivfpq_cosine", _IVFPQ_COSINE_ORACLE)
def ann_ivfpq_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COSINE over the IVFPQ tier (r6 verdict gap: the engine's
    cheapest layout now serves the reference's flagship metric,
    `app/api/routes.py:139,152`): the layout is built
    ``normalize=True`` — vectors unit-normalized before coarse
    assignment and PQ encoding, quantizers trained in the same
    unit-sphere space — so ADC's squared-L2 candidate order equals
    cosine order (|a-b|² = 2-2·cos on unit vectors), and the
    full-precision rerank scores exact cosine on the RAW vectors
    (scale-invariant). Routed through the front-door dispatcher
    (``search()`` reads the ``normalize`` flag from the sidecar; a raw
    layout + cosine raises).

    FULL-VALUE oracle, not a recall contract: with every bucket
    probed and a 100-candidate over-fetch the rerank set provably
    contains the true top-{K} on these fixtures, so the output
    hash-equals the exact cosine top-k (`_TOPK_ORACLE` shape). The
    PRUNED (nprobe < buckets) behavior is covered by the recall
    contract of ``ann_ivfpq_rerank_recall`` and the dispatcher
    pytest."""
    import tempfile

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        pq,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.search import (
        search,
    )

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    emb_n = pq._unit_normalized(emb, "embedding")
    books, cents = pq.train_books_and_centroids(
        emb_n, m=16, k=64, n_centroids=N_CENTROIDS
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ivfpq_cos"
        pq.write_ivfpq_index(emb, path, cents, books, normalize=True)
        out = search(
            q,
            emb,
            k=K,
            metric="cosine",
            layout_path=path,
            nprobe=N_CENTROIDS,
            fetch_k=100,
        ).select(
            "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
        )
        # materialize before the tempdir disappears (N_QUERIES x K rows)
        return spark.createDataFrame(out.collect(), out.schema)


_IVFPQ_DOT_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id, list_inner_product(q.qvec, e.embedding::DOUBLE[]) AS s
  FROM q CROSS JOIN embeddings e
), ranked AS (
  SELECT query_id, vec_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(s, 6) AS score, rank::INT AS rank
FROM ranked WHERE rank <= {K}
"""


@register("ann_ivfpq_dotproduct", _IVFPQ_DOT_ORACLE)
def ann_ivfpq_dotproduct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOT PRODUCT over the IVFPQ tier via the classic MIPS→L2
    reduction (Bachrach et al. 2014): the layout is built
    ``mips=True`` — every vector becomes ``[x/M, sqrt(1-|x/M|²), 0…]``
    (M = max index norm, persisted in the sidecar; zero padding aligns
    the PQ subspace grid) — so for zero-padded queries the augmented
    euclidean candidate order equals dot-product order, and the
    full-precision rerank scores the exact dot product on the RAW
    vectors, descending. Routed through the dispatcher (``search()``
    reads the ``mips`` flag; a transformed layout serves exactly its
    own metric — raw/normalized layouts + dotproduct raise).

    FULL-VALUE oracle like ``ann_ivfpq_cosine``: all buckets probed +
    100-candidate over-fetch makes the rerank set provably contain
    the true top-{K} on these fixtures, so the output hash-equals the
    exact dot-product top-k."""
    import tempfile

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        pq,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.search import (
        search,
    )

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    aug = pq.mips_augmented(
        emb, "embedding", pq.mips_max_norm(emb, "embedding"), 68
    )
    cents = ann.seed_centroids(aug, N_CENTROIDS)
    # residual codebooks — the shipped default for MIPS layouts
    # (write_ivfpq_index resolves residual=None → True under mips=True;
    # raw codes can't carry the sqrt coordinate's signal: recall@10
    # 0.037 raw vs 0.54 residual on the 500k hard case, SCALE.md)
    books = pq.train_pq_codebooks_residual(aug, cents, m=17, k=64)
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ivfpq_mips"
        pq.write_ivfpq_index(emb, path, cents, books, mips=True)
        out = search(
            q,
            emb,
            k=K,
            metric="dotproduct",
            layout_path=path,
            nprobe=N_CENTROIDS,
            fetch_k=100,
        ).select(
            "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
        )
        # materialize before the tempdir disappears (N_QUERIES x K rows)
        return spark.createDataFrame(out.collect(), out.schema)


@register(
    "ann_ivf_topk_filtered",
    f"""
WITH {_ivf_cte(index_and="AND e.label IN (0, 1, 2, 3, 4)")}
SELECT query_id, vec_id, round(s, 6) AS score, rank::INT AS rank
FROM ivf_ranked WHERE rank <= {K}
""",
)
def ann_ivf_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED ANN (Pinecone's filter dict at the scale
    tier): the label predicate lands in the same statically-pruned
    layout scan as the centroid prune — PushedFilters beside
    PartitionFilters, filtered rows never reach the GEMM kernel.
    Assignment and probe-set selection are filter-independent (the
    quantizer doesn't move when a filter narrows candidates)."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.filter_dsl import (
        filter_dict_to_column,
    )

    return _ivf_gemm_over_layout(
        spark, sf_dir, "cosine",
        pre_filter=filter_dict_to_column({"label": {"$in": [0, 1, 2, 3, 4]}}),
    )


@register(
    "ann_opq_rerank_recall",
    f"""
SELECT vec_id AS query_id, TRUE AS recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
""",
)
def ann_opq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ tier (operators/pq.py::train_opq_rotation, Ge et al. CVPR
    2013 parametric variant): learn the PCA + eigenvalue-allocation
    rotation R, quantize the ROTATED corpus (m=16/k=64), ADC
    over-fetch 100 in rotated space, full-precision rerank, and
    assert recall@{K} vs the exact euclidean top-{K} on the ORIGINAL
    vectors >= 0.8 per query. R is orthonormal, so exact euclidean
    order is identical in both frames — the recall target needs no
    rotated twin. Codes are k-means-derived, so the oracle pins the
    CONTRACT (TRUE per query), the `ann_pq_rerank_recall` pattern."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        pq,
    )

    emb = load(spark, sf_dir, "embeddings")
    R = pq.train_opq_rotation(emb, m=16)
    emb_rot = pq.rotate_vectors(emb, R)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    q_rot = pq.rotate_vectors(q, R, vec_col="qvec")
    books = pq.train_pq_codebooks(emb_rot, m=16, k=64)
    enc = pq.pq_encode(emb_rot, books, carry_cols=["embedding"])
    exact = topk_search(q, emb, k=K, metric="euclidean").select(
        "query_id", "vec_id"
    )
    rer = pq.pq_topk_rerank(
        q_rot, enc, books, k=K, fetch_k=100
    ).select("query_id", F.col("vec_id").alias("r_vec_id"))
    hits = exact.join(
        rer,
        (exact["query_id"] == rer["query_id"])
        & (exact["vec_id"] == rer["r_vec_id"]),
        "left",
    ).groupBy(exact["query_id"].alias("query_id")).agg(
        F.count("r_vec_id").alias("n_hits")
    )
    return hits.select(
        "query_id", (F.col("n_hits") >= 0.8 * K).alias("recall_ok")
    )


@register(
    "ann_opq_quantization_gain",
    "SELECT 8 AS m, 16 AS k, TRUE AS gain_ok",
)
def ann_opq_quantization_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The claim OPQ exists to make, measured end to end on the
    engine's own kernels: under SCALE ANISOTROPY (per-dimension
    variance spread — the shape real learned embeddings have after
    whitening-free training), rotating with the learned eigenvalue
    allocation more than HALVES total squared quantization error vs
    plain PQ at the same m=8/k=16 code budget (measured ratio 0.18 at
    both fixture scales; 0.5 is the contract floor). The anisotropic
    frame is a deterministic per-dimension rescale of the fixture
    (dim j x 10^(j/21), ~1000x spread) so every engine sees the same
    data; SSE comes from `pq_reconstruction_sse` (one mapInArrow pass
    emitting 2-number partials — corpus-size-independent driver
    state). Both quantizers are k-means-derived, so the oracle pins
    the CONTRACT row, not the data-dependent SSE values."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        pq,
    )

    emb = load(spark, sf_dir, "embeddings")
    aniso = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, i) -> "
            "cast(x * pow(10.0, i / 21.0) as float))"
        ).alias("embedding"),
    )
    books_pq = pq.train_pq_codebooks(aniso, m=8, k=16)
    sse_pq = pq.pq_reconstruction_sse(aniso, books_pq).collect()[0]
    R = pq.train_opq_rotation(aniso, m=8)
    rot = pq.rotate_vectors(aniso, R)
    books_opq = pq.train_pq_codebooks(rot, m=8, k=16)
    sse_opq = pq.pq_reconstruction_sse(rot, books_opq).collect()[0]
    return spark.createDataFrame(
        [
            (
                8,
                16,
                bool(
                    sse_opq["sum_sq_err"] <= 0.5 * sse_pq["sum_sq_err"]
                    and sse_opq["n"] == sse_pq["n"]
                ),
            )
        ],
        "m int, k int, gain_ok boolean",
    )


_IVFPQ_FILTERED_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]) AS s
  FROM q CROSS JOIN embeddings e
  WHERE e.label IN (1, 3, 5, 7)
), ranked AS (
  SELECT query_id, vec_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(s, 6) AS score, rank::INT AS rank
FROM ranked WHERE rank <= {K}
"""


@register("ann_ivfpq_filtered", _IVFPQ_FILTERED_ORACLE)
def ann_ivfpq_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-FILTERED cosine over the IVFPQ tier — the reference's
    query shape (Pinecone filter dict next to the vector,
    `app/services/pinecone_service.py:148-182` / the filter-DSL of
    P2) on the engine's cheapest layout. The layout is built with
    ``meta_cols=["label"]`` so the label rides in every bucket file
    next to the codes; the dispatcher's ``pre_filter`` (compiled from
    the Pinecone-style dict by ``filter_dict_to_column``) evaluates
    INSIDE the pruned bucket scan — Catalyst pushes it to the parquet
    reader under the same PartitionFilters — so non-qualifying rows
    never enter the ADC pool and the top-{K} is the filtered corpus's
    own (single-stage filtering: recall is independent of filter
    selectivity, unlike post-filtering a fixed-k result).

    FULL-VALUE oracle (`ann_ivfpq_cosine` pattern): all buckets probed
    + 100-candidate over-fetch provably contains the filtered exact
    top-{K} at fixture scale, so the output hash-equals the exact
    cosine top-k over ``label IN (1,3,5,7)``."""
    import tempfile

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.filter_dsl import (
        filter_dict_to_column,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        pq,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.search import (
        search,
    )

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    emb_n = pq._unit_normalized(emb, "embedding")
    books, cents = pq.train_books_and_centroids(
        emb_n, m=16, k=64, n_centroids=N_CENTROIDS
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ivfpq_filt"
        pq.write_ivfpq_index(
            emb, path, cents, books, normalize=True, meta_cols=["label"]
        )
        out = search(
            q,
            emb,
            k=K,
            metric="cosine",
            layout_path=path,
            nprobe=N_CENTROIDS,
            fetch_k=100,
            pre_filter=filter_dict_to_column({"label": {"$in": [1, 3, 5, 7]}}),
        ).select(
            "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
        )
        # materialize before the tempdir disappears (N_QUERIES x K rows)
        return spark.createDataFrame(out.collect(), out.schema)


_IVFPQ_DELETE_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]) AS s
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id % 9 <> 0
), ranked AS (
  SELECT query_id, vec_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(s, 6) AS score, rank::INT AS rank
FROM ranked WHERE rank <= {K}
"""


@register("ann_ivfpq_delete", _IVFPQ_DELETE_ORACLE)
def ann_ivfpq_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown end-to-end on the QUANTIZED serving layout
    (`pq.delete_ivfpq_ids`): a normalized IVFPQ layout is built, every
    9th vec_id is deleted — only the centroid partitions holding those
    ids are re-merged under the marker-fenced swap; codes AND the
    co-located raw rerank vectors go together, so a deleted id cannot
    resurface at ANY stage of the probe — and the dispatched cosine
    probe over the post-delete layout must hash-equal the exact cosine
    top-{K} over the surviving corpus (full probe + over-fetch, the
    `ann_ivfpq_cosine` exactness construction). Deletions also bump
    ``deleted_since_build`` so the staleness-triggered retrain fires
    on churn (`tests/test_takedown.py` pins counters and
    untouched-partition byte identity)."""
    import tempfile

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        pq,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.search import (
        search,
    )

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    emb_n = pq._unit_normalized(emb, "embedding")
    books, cents = pq.train_books_and_centroids(
        emb_n, m=16, k=64, n_centroids=N_CENTROIDS
    )
    doomed = emb.filter(F.col("vec_id") % 9 == 0).select("vec_id")
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ivfpq_del"
        pq.write_ivfpq_index(emb, path, cents, books, normalize=True)
        pq.delete_ivfpq_ids(spark, path, doomed)
        out = search(
            q,
            None,
            k=K,
            metric="cosine",
            layout_path=path,
            nprobe=N_CENTROIDS,
            fetch_k=100,
        ).select(
            "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
        )
        # materialize before the tempdir disappears (N_QUERIES x K rows)
        return spark.createDataFrame(out.collect(), out.schema)


_IVFPQ_OPQ_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_distance(q.qvec, e.embedding::DOUBLE[]) AS s
  FROM q CROSS JOIN embeddings e
), ranked AS (
  SELECT query_id, vec_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s ASC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(s, 6) AS score, rank::INT AS rank
FROM ranked WHERE rank <= {K}
"""


@register("ann_ivfpq_opq", _IVFPQ_OPQ_ORACLE)
def ann_ivfpq_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ as a FIRST-CLASS layout option, served end to end: the
    learned rotation (`train_opq_rotation`, Ge et al. CVPR 2013) is
    baked into the IVFPQ layout — corpus rotated after the metric
    transform, centroids/codebooks trained in the rotated frame, R
    PERSISTED in the sidecar — and the dispatcher probe rotates
    queries with the layout's own R (serving never needs R
    out-of-band, the same impossibility rule as the quantizers).
    R is orthonormal, so ADC order and the co-located raw-vector
    rerank are semantically unchanged; only the code budget's variance
    allocation improves (SCALE.md: 0.18x SSE under scale anisotropy).

    FULL-VALUE oracle (`ann_ivfpq_cosine` construction): all buckets
    probed + 100-candidate over-fetch provably contains the exact
    euclidean top-{K}, so the dispatched output hash-equals the exact
    scan — on the ORIGINAL vectors; the rotated frame is invisible to
    the caller."""
    import tempfile

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        pq,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.search import (
        search,
    )

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    R = pq.train_opq_rotation(emb, m=16)
    rot = pq.rotate_vectors(emb, R)
    books, cents = pq.train_books_and_centroids(
        rot, m=16, k=64, n_centroids=N_CENTROIDS
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ivfpq_opq"
        pq.write_ivfpq_index(emb, path, cents, books, rotation=R)
        out = search(
            q,
            None,
            k=K,
            metric="euclidean",
            layout_path=path,
            nprobe=N_CENTROIDS,
            fetch_k=100,
        ).select(
            "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
        )
        # materialize before the tempdir disappears (N_QUERIES x K rows)
        return spark.createDataFrame(out.collect(), out.schema)
