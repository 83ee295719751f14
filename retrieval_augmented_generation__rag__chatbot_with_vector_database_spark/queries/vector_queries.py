"""Vector similarity queries (SURVEY.md §2c J1-J3, §2d A2/A6).

The query workload uses rows of the ``embeddings`` fixture itself as
query vectors (vec_id < 8) so the DuckDB oracle can reproduce them
exactly — self-match must rank #1 with cosine ≈ 1.0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
    cosine_similarity,
    l2_norm,
    dim_check,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
    topk_search,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries import (
    load,
    register,
)

N_QUERIES = 8
K = 5


def _query_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


def _topk(spark: SparkSession, sf_dir: str, metric: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    out = topk_search(_query_side(spark, sf_dir), emb, k=K, metric=metric)
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
    )


_TOPK_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < {nq}
), scored AS (
  SELECT q.query_id, e.vec_id, {metric_fn}(q.qvec, e.embedding::DOUBLE[]) AS s
  FROM q CROSS JOIN embeddings e
), ranked AS (
  SELECT query_id, vec_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s {dir}, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(s, 6) AS score, rank::INT AS rank
FROM ranked WHERE rank <= {k}
"""


@register(
    "topk_cosine",
    _TOPK_ORACLE.format(nq=N_QUERIES, k=K, metric_fn="list_cosine_similarity", dir="DESC"),
)
def topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J3/W1: brute-force batch top-k, cosine (the flagship path)."""
    return _topk(spark, sf_dir, "cosine")


@register(
    "topk_cosine_gemm",
    _TOPK_ORACLE.format(nq=N_QUERIES, k=K, metric_fn="list_cosine_similarity", dir="DESC"),
)
def topk_cosine_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 high-throughput variant: blocked-GEMM exact top-k — same
    results as topk_cosine (same oracle), ~100x less per-score CPU."""
    emb = load(spark, sf_dir, "embeddings")
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        topk_search_gemm,
    )

    out = topk_search_gemm(_query_side(spark, sf_dir), emb, k=K, metric="cosine")
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
    )


@register(
    "topk_cosine_dispatched",
    _TOPK_ORACLE.format(nq=N_QUERIES, k=K, metric_fn="list_cosine_similarity", dir="DESC"),
)
def topk_cosine_dispatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same search routed through the front-door dispatcher
    (operators.search.search — the reference's route-then-query shape,
    `app/api/routes.py:78-116`): no persisted layout, so route() picks
    the exact GEMM scan; its 6-decimal scores match this oracle, and the
    hash must equal ``topk_cosine``'s. The routing contract itself is
    pinned in tests/test_search_dispatch.py."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.search import (
        search,
    )

    emb = load(spark, sf_dir, "embeddings")
    out = search(
        _query_side(spark, sf_dir),
        emb,
        k=K,
        metric="cosine",
    )
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
    )


@register(
    "topk_dotproduct",
    _TOPK_ORACLE.format(nq=N_QUERIES, k=K, metric_fn="list_inner_product", dir="DESC"),
)
def topk_dotproduct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topk(spark, sf_dir, "dotproduct")


@register(
    "topk_euclidean",
    _TOPK_ORACLE.format(nq=N_QUERIES, k=K, metric_fn="list_distance", dir="ASC"),
)
def topk_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topk(spark, sf_dir, "euclidean")


@register(
    "topk_filtered",
    """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < 8
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]) AS s
  FROM q CROSS JOIN (SELECT * FROM embeddings WHERE label IN (0, 1, 2)) e
), ranked AS (
  SELECT query_id, vec_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(s, 6) AS score, rank::INT AS rank
FROM ranked WHERE rank <= 5
""",
)
def topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: metadata filter pushed below the similarity scan
    (reference filter DSL ``$in`` → ``isin``; Catalyst pushes it into
    the Parquet read — check PushedFilters in the plan)."""
    emb = load(spark, sf_dir, "embeddings")
    out = topk_search(
        _query_side(spark, sf_dir),
        emb,
        k=K,
        metric="cosine",
        pre_filter=F.col("label").isin(0, 1, 2),
    )
    return out.select("query_id", "vec_id", F.round("score", 6).alias("score"), "rank")


@register(
    "topk_filtered_dsl",
    """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < 8
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]) AS s
  FROM q CROSS JOIN (
    SELECT * FROM embeddings
    WHERE label >= 1 AND label <= 8 AND label NOT IN (3, 4)
  ) e
), ranked AS (
  SELECT query_id, vec_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(s, 6) AS score, rank::INT AS rank
FROM ranked WHERE rank <= 5
""",
)
def topk_filtered_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 via the reference's ``filter_dict`` surface: the Pinecone
    dict-DSL (``pinecone_service.py:152,171-176``) translated to a
    Catalyst predicate (``functions.filter_dsl``) — multiple operators
    on one field AND across fields, pushed to the Parquet scan."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.filter_dsl import (
        filter_dict_to_column,
    )

    emb = load(spark, sf_dir, "embeddings")
    fd = {"label": {"$gte": 1, "$lte": 8, "$nin": [3, 4]}}
    out = topk_search(
        _query_side(spark, sf_dir),
        emb,
        k=K,
        metric="cosine",
        pre_filter=filter_dict_to_column(fd),
    )
    return out.select("query_id", "vec_id", F.round("score", 6).alias("score"), "rank")


@register(
    "self_match_rank1",
    """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < 8
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]) AS s
  FROM q CROSS JOIN embeddings e
), ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id AS matched_id, (query_id = vec_id) AS is_self
FROM ranked WHERE rank = 1
""",
)
def self_match_rank1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sanity contract: querying with an index vector returns itself at
    rank 1 (cosine = 1.0)."""
    emb = load(spark, sf_dir, "embeddings")
    out = topk_search(_query_side(spark, sf_dir), emb, k=1, metric="cosine")
    return out.filter(F.col("rank") == 1).select(
        "query_id",
        F.col("vec_id").alias("matched_id"),
        (F.col("query_id") == F.col("vec_id")).alias("is_self"),
    )


@register(
    "index_stats",
    """
SELECT count(*) AS total_vector_count,
       min(len(embedding))::INT AS dimension,
       0.0::DOUBLE AS index_fullness
FROM embeddings
""",
)
def index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: ``describe_index_stats`` analog
    (app/services/pinecone_service.py:193-204)."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.agg(
        F.count("*").alias("total_vector_count"),
        F.min(F.size("embedding")).cast("int").alias("dimension"),
        F.lit(0.0).alias("index_fullness"),
    )


@register(
    "dim_check",
    """
SELECT count(*) AS n_total,
       sum(CASE WHEN len(embedding) = 64 THEN 1 ELSE 0 END)::BIGINT AS n_valid
FROM embeddings
""",
)
def dim_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension invariant (scripts/ingest_documents.py:176-195)."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.agg(
        F.count("*").alias("n_total"),
        F.sum(dim_check("embedding", 64).cast("bigint")).alias("n_valid"),
    )


@register(
    "vector_norm_stats",
    """
WITH n AS (
  SELECT label, sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
)
SELECT label, count(*) AS n_vectors,
       round(avg(nrm), 6) AS avg_norm,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm
FROM n GROUP BY label
""",
)
def vector_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster L2-norm profile — the stats pass an index build runs
    to pick quantization / detect degenerate vectors."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", l2_norm("embedding").alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


@register(
    "pairwise_centroid_sim",
    """
WITH idx AS (SELECT range AS i FROM range(1, 65)),
e AS (
  SELECT label, i, embedding[i]::DOUBLE AS x FROM embeddings, idx
),
c AS (SELECT label, i, avg(x) AS cx FROM e GROUP BY label, i),
cent AS (SELECT label, list(cx ORDER BY i) AS centroid FROM c GROUP BY label)
SELECT a.label AS label_a, b.label AS label_b,
       round(list_cosine_similarity(a.centroid, b.centroid), 6) AS sim
FROM cent a JOIN cent b ON a.label < b.label
""",
)
def pairwise_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector (element-wise avg across rows — the IVF
    centroid computation) + pairwise cosine between centroids."""
    emb = load(spark, sf_dir, "embeddings")
    # one aggregate expression at ANY dimension (no per-dim avg(v[i])
    # fan-out): posexplode + partial hash-agg ships k*dim partial
    # sums per task, then the ordered centroid is reassembled from
    # (pos, avg) structs
    cents = (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
        )
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("cx"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("pc"))
        .select("label", F.transform("pc", lambda s: s["cx"]).alias("centroid"))
    )
    a = cents.alias("a")
    b = cents.alias("b")
    return (
        a.join(b, F.col("a.label") < F.col("b.label"))
        .select(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
            F.round(
                cosine_similarity(F.col("a.centroid"), F.col("b.centroid")), 6
            ).alias("sim"),
        )
    )


@register(
    "vector_quantization_error",
    """
WITH s AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale
  FROM embeddings
),
d AS (
  SELECT vec_id, label, v,
         CASE WHEN scale > 0
              THEN list_transform(v, x -> round(x / scale) * scale)
              ELSE list_transform(v, x -> 0.0) END AS deq
  FROM s
),
e AS (
  SELECT label,
         list_cosine_similarity(v, deq) AS cs,
         list_max(list_transform(range(1, len(v) + 1), i -> abs(v[i] - deq[i]))) AS maxerr
  FROM d
)
SELECT label, count(*) AS n_vectors,
       round(avg(cs), 6) AS avg_cosine,
       round(max(maxerr), 6) AS max_abs_err
FROM e GROUP BY label
""",
)
def vector_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization round-trip quality per cluster —
    the check an index build runs before switching the ANN layout to
    compressed vectors (4x memory; functions.vector.quantize_int8).
    Everything stays in whole-stage codegen; the oracle mirrors the
    quantize→dequantize→compare pipeline exactly."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
        dequantize_int8,
        quantization_scale,
        quantize_int8,
    )

    emb = load(spark, sf_dir, "embeddings")
    s = emb.select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("scale", quantization_scale("v"))
    d = s.withColumn("deq", dequantize_int8(quantize_int8("v", F.col("scale")), F.col("scale")))
    e = d.select(
        "label",
        cosine_similarity("v", "deq").alias("cs"),
        F.array_max(
            F.zip_with(F.col("v"), F.col("deq"), lambda a, b: F.abs(a - b))
        ).alias("maxerr"),
    )
    return e.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.avg("cs"), 6).alias("avg_cosine"),
        F.round(F.max("maxerr"), 6).alias("max_abs_err"),
    )


_MMR_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < 8
), sc AS (
  SELECT q.query_id, e.vec_id, e.embedding::DOUBLE[] AS emb,
         list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]) AS s
  FROM q CROSS JOIN embeddings e
), cand AS (
  SELECT * FROM sc
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) <= 10
), s1 AS (
  SELECT query_id, vec_id, emb, 0.7 * s AS mmr FROM cand
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) = 1
), m2 AS (
  SELECT c.query_id, c.vec_id, c.emb,
         0.7 * c.s - (1 - 0.7) * list_cosine_similarity(c.emb, s1.emb) AS mmr
  FROM cand c JOIN s1 USING (query_id) WHERE c.vec_id <> s1.vec_id
), s2 AS (
  SELECT query_id, vec_id, emb, mmr FROM m2
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, vec_id ASC) = 1
), m3 AS (
  SELECT c.query_id, c.vec_id,
         0.7 * c.s - (1 - 0.7) * greatest(
           list_cosine_similarity(c.emb, s1.emb),
           list_cosine_similarity(c.emb, s2.emb)) AS mmr
  FROM cand c JOIN s1 USING (query_id) JOIN s2 USING (query_id)
  WHERE c.vec_id <> s1.vec_id AND c.vec_id <> s2.vec_id
), s3 AS (
  SELECT query_id, vec_id, mmr FROM m3
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, vec_id ASC) = 1
)
SELECT query_id, vec_id, 1 AS mmr_rank, round(mmr, 6) AS mmr FROM s1
UNION ALL SELECT query_id, vec_id, 2, round(mmr, 6) FROM s2
UNION ALL SELECT query_id, vec_id, 3, round(mmr, 6) FROM s3
"""


@register("topk_mmr", _MMR_ORACLE)
def topk_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity rerank (operators.topk.mmr_rerank): top-10 cosine
    candidates per query, then 3 greedy MMR picks at lam=0.7 — the
    ``search_type="mmr"`` mode vector stores layer over the
    reference's plain-similarity retriever. The oracle UNROLLS the
    three greedy iterations in SQL (pick = argmax of lam*rel -
    (1-lam)*max-cosine-to-picked, ties by id), so selection AND
    scores are value-checked, not just contract-checked."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        mmr_rerank,
    )

    emb = load(spark, sf_dir, "embeddings")
    cands = topk_search(
        _query_side(spark, sf_dir),
        emb,
        k=10,
        metric="cosine",
        payload_cols=("embedding",),
    )
    out = mmr_rerank(cands, k=3, lam=0.7)
    return out.select(
        "query_id", "vec_id", "mmr_rank", F.round("mmr", 6).alias("mmr")
    )


_RERANK_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id, list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]) AS s
  FROM q CROSS JOIN embeddings e
), stage1 AS (
  SELECT query_id, vec_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM scored
), cand AS (
  SELECT query_id, vec_id, round(s, 6) AS score, rank FROM stage1 WHERE rank <= 20
), ce AS (
  SELECT *,
         round((('0x' || substr(md5(query_id::VARCHAR || ':' || vec_id::VARCHAR), 1, 8))::UBIGINT)
               / 4294967296.0, 6) AS ce_score
  FROM cand
), r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ce_score DESC, vec_id ASC) AS ce_rank
  FROM ce
)
SELECT query_id, vec_id, score, rank::INT AS rank, ce_score, ce_rank::INT AS ce_rank
FROM r WHERE ce_rank <= {K}
"""


@register("topk_rerank_crossencoder", _RERANK_ORACLE)
def topk_rerank_crossencoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval with a cross-encoder SEAM
    (operators/rerank.py): cosine top-20 nominates, a pluggable
    pairwise scorer re-orders, top-5 survive. The registered query
    runs the deterministic md5 fake scorer so the oracle verifies the
    full plumbing (batching, re-rank, ties, slice) digit for digit;
    deployment swaps in a real cross-encoder model with no plan
    change — the same seam discipline as the embed/LLM boundaries."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.rerank import (
        crossencoder_rerank,
        hash_crossencoder,
    )

    emb = load(spark, sf_dir, "embeddings")
    cand = topk_search(_query_side(spark, sf_dir), emb, k=20, metric="cosine")
    cand = cand.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
    )
    return crossencoder_rerank(cand, hash_crossencoder(), k=K)


JL_DIM = 8
_JL_SEED = 7919


@register(
    "embeddings_jl_projection",
    f"""
WITH p AS (
  SELECT vec_id, j,
         list_aggregate(
           list_transform(range(1, len(embedding) + 1),
             i -> embedding[i]::DOUBLE *
                  (CASE WHEN substr(md5('{_JL_SEED}:' || CAST(i - 1 AS VARCHAR)
                                        || ':' || CAST(j AS VARCHAR)), 1, 1)
                             IN ('0','1','2','3','4','5','6','7')
                        THEN 1.0 ELSE -1.0 END)),
           'sum') * (1.0 / sqrt({JL_DIM}.0)) AS proj
  FROM embeddings, unnest(range(0, {JL_DIM})) AS t(j)
)
SELECT vec_id, j::INT AS j, round(proj, 6) AS proj FROM p
""",
)
def embeddings_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss projection of every embedding to
    {JL_DIM} dims with a deterministic Rademacher matrix
    (functions.vector.random_projection) — the cheap distance-
    preserving pre-filter of the embedding stack (score candidates in
    8-d before the 64-d kernel). The matrix is a pure integer function
    of (i, j): nothing trained, nothing persisted, and the DuckDB
    oracle regenerates it digit for digit — full-VALUE verification of
    a dimensionality reduction, not just a distortion bound."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
        random_projection,
    )

    emb = load(spark, sf_dir, "embeddings")
    proj = random_projection("embedding", JL_DIM, seed=_JL_SEED, in_dim=64)
    return (
        emb.select("vec_id", F.posexplode(proj))
        .select(
            "vec_id",
            F.col("pos").cast("int").alias("j"),
            F.round("col", 6).alias("proj"),
        )
    )


CLUSTER_CAP = 20
N_MIX_CENTROIDS = 16


@register(
    "corpus_cluster_mixture",
    f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
  FROM embeddings WHERE vec_id < {N_MIX_CENTROIDS}
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC,
                                       c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1
),
k AS (
  SELECT cid, vec_id,
         row_number() OVER (PARTITION BY cid
                            ORDER BY ((vec_id * 2654435761) % 4294967296 + 0.5)
                                     / 4294967296.0 ASC,
                                     vec_id ASC) AS rank
  FROM assign
)
SELECT cid AS centroid_id, count(*) AS n_total,
       sum(CASE WHEN rank <= {CLUSTER_CAP} THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       sum(CASE WHEN rank <= {CLUSTER_CAP} THEN vec_id ELSE 0 END)::BIGINT AS kept_id_sum
FROM k GROUP BY cid
""",
)
def corpus_cluster_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced corpus mixing: assign every embedding to its
    nearest coarse centroid (the same deterministic quantizer the IVF
    stack uses), then cap each semantic cluster at {CLUSTER_CAP} docs
    via the deterministic key-uniform downsample — the
    topic-rebalancing stage of a training-data pipeline (over-
    represented clusters shrink, the tail survives intact). The
    kept_id_sum column pins the EXACT membership of the sample, not
    just its size.

    Scale shape: assignment is a narrow map stage (centroids are a
    driver literal, no shuffle); the cap is one (cluster)-keyed
    window with WindowGroupLimit pre-filtering map-side; totals ride
    the same shuffle. Re-run/backfill stable because the keep decision
    is a pure function of vec_id."""
    from pyspark.sql import Window

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.sampling import (
        key_uniform,
    )

    emb = load(spark, sf_dir, "embeddings")
    cents = ann.seed_centroids(emb, N_MIX_CENTROIDS)
    assigned = ann.assign_centroids_gemm(emb, cents, metric="cosine")
    w = Window.partitionBy("centroid_id").orderBy(
        key_uniform("vec_id").asc(), F.col("vec_id").asc()
    )
    ranked = assigned.withColumn("rank", F.row_number().over(w))
    return ranked.groupBy("centroid_id").agg(
        F.count("*").alias("n_total"),
        F.sum((F.col("rank") <= CLUSTER_CAP).cast("int")).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("rank") <= CLUSTER_CAP, F.col("vec_id")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("kept_id_sum"),
    )
