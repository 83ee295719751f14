"""Hybrid retrieval queries (operators/hybrid.py): lexical TF-IDF
top-k, and its Reciprocal Rank Fusion with vector top-k — the
two-signal retrieval a production RAG stack grows into. The 8 query
docs double as their own query vectors (documents.doc_id ==
embeddings.vec_id in the fixtures), so both signals are exercised over
the same corpus and the oracle can reproduce everything in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.hybrid import (
    lexical_topk,
    rrf_fuse,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
    topk_search,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries import (
    REGISTRY,
    load,
    register,
)

N_QUERIES = 8
LEX_K = 10

# df cap used by the REGISTERED fixture queries (mirrored in every
# oracle CTE). The operator default (0.5) is the right call on a
# Zipfian real-world corpus, but the synthetic fixture text draws from
# a ~31-term vocabulary whose median df is ~78% of the corpus — a 0.5
# cap erases the entire lexical signal there. 0.8 keeps the cap ACTIVE
# (the densest terms are dropped, and both engines must agree on the
# resulting scores) while the queries stay non-degenerate.
FIX_CAP = 0.8
VEC_K = 10
FUSE_K = 5

_LEX_CTES = rf"""
nd AS (SELECT count(*) AS n FROM documents),
dterm AS (
  SELECT doc_id AS id, unnest(list_distinct(
           list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                       t -> t <> ''))) AS term
  FROM documents
),
qdoc AS (SELECT doc_id AS query_id, text FROM documents WHERE doc_id < {N_QUERIES}),
qterm AS (
  SELECT query_id, unnest(list_distinct(
           list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                       t -> t <> ''))) AS term
  FROM qdoc
),
idf AS (
  SELECT term, round(ln((n + 1.0) / (count(DISTINCT id) + 1.0)), 6)::DECIMAL(18,6) AS idf
  FROM dterm, nd GROUP BY term, n
  HAVING count(DISTINCT id) <= {FIX_CAP} * n
),
lex AS (
  SELECT q.query_id, d.id AS doc_id, sum(i.idf) AS lex_score
  FROM qterm q JOIN dterm d ON q.term = d.term JOIN idf i ON q.term = i.term
  GROUP BY q.query_id, d.id
),
lexr AS (
  SELECT query_id, doc_id, lex_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY lex_score DESC, doc_id ASC) AS lex_rank
  FROM lex
)
"""


@register(
    "hybrid_lexical_topk",
    f"""
WITH {_LEX_CTES}
SELECT query_id, doc_id, lex_score::VARCHAR::DOUBLE AS lex_score,
       lex_rank::INT AS lex_rank
FROM lexr WHERE lex_rank <= {LEX_K}
""",
)
def hybrid_lexical_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index lexical retrieval: top-{LEX_K} docs per query by
    summed smoothed IDF over shared distinct terms (DECIMAL sums —
    exact, order-free). The term join is the classic inverted-index
    shuffle; df/idf build once and are reusable across query batches."""
    docs = load(spark, sf_dir, "documents")
    q = docs.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    out = lexical_topk(q, docs, k=LEX_K, df_cap=FIX_CAP)
    return out.select(
        "query_id",
        "doc_id",
        F.col("lex_score").cast("double").alias("lex_score"),
        "lex_rank",
    )


@register(
    "hybrid_rrf_topk",
    f"""
WITH {_LEX_CTES},
lex10 AS (SELECT query_id, doc_id, lex_rank FROM lexr WHERE lex_rank <= {LEX_K}),
qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
       FROM embeddings WHERE vec_id < {N_QUERIES}),
vec AS (
  SELECT qv.query_id, e.vec_id AS doc_id,
         list_cosine_similarity(qv.qvec, e.embedding::DOUBLE[]) AS sim
  FROM qv, embeddings e
),
vecr AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, doc_id ASC) AS vec_rank
  FROM vec
),
vec10 AS (SELECT query_id, doc_id, vec_rank FROM vecr WHERE vec_rank <= {VEC_K}),
fused AS (
  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         coalesce(l.doc_id, v.doc_id) AS doc_id,
         l.lex_rank, v.vec_rank,
         coalesce(1.0 / (60 + l.lex_rank), 0) + coalesce(1.0 / (60 + v.vec_rank), 0) AS fused
  FROM lex10 l FULL OUTER JOIN vec10 v
    ON l.query_id = v.query_id AND l.doc_id = v.doc_id
),
ranked AS (
  SELECT query_id, doc_id, lex_rank::INT AS lex_rank, vec_rank::INT AS vec_rank,
         round(fused, 6) AS fused,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY fused DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, doc_id, lex_rank, vec_rank, fused, rank::INT AS rank
FROM ranked WHERE rank <= {FUSE_K}
""",
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval flagship: lexical top-{LEX_K} ∪ cosine
    top-{VEC_K} fused by Reciprocal Rank Fusion (k0=60), per-query
    top-{FUSE_K}. Fusion arithmetic is over integer ranks only, so the
    fused double is bit-identical in both engines; missing-list docs
    contribute 0 (full-outer semantics)."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    q = docs.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    lex = lexical_topk(q, docs, k=LEX_K, df_cap=FIX_CAP)
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    vec = topk_search(qv, emb, k=VEC_K, metric="cosine").select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("vec_rank"),
    )
    out = rrf_fuse(lex, vec, k=FUSE_K, k0=60)
    return out.select(
        "query_id",
        "doc_id",
        "lex_rank",
        "vec_rank",
        F.round("fused", 6).alias("fused"),
        "rank",
    )


@register(
    "hybrid_bm25_topk",
    rf"""
WITH nd AS (SELECT count(*) AS n FROM documents),
tok AS (
  SELECT doc_id AS id, unnest(
           list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                       t -> t <> '')) AS term
  FROM documents
),
tf AS (SELECT id, term, count(*) AS tf FROM tok GROUP BY id, term),
dl AS (SELECT id, count(*) AS dl FROM tok GROUP BY id),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln(1 + (nd.n - df + 0.5) / (df + 0.5)) AS idf
        FROM dfc, nd WHERE df <= {FIX_CAP} * nd.n),
qterm AS (
  SELECT doc_id AS query_id, unnest(list_distinct(
           list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                       t -> t <> ''))) AS term
  FROM documents WHERE doc_id < {N_QUERIES}
),
contrib AS (
  SELECT q.query_id, tf.id AS doc_id,
         round(idf.idf * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / ad.avgdl)),
               6)::DECIMAL(18,6) AS c
  FROM qterm q
  JOIN tf ON q.term = tf.term
  JOIN idf ON q.term = idf.term
  JOIN dl ON dl.id = tf.id, ad
),
scores AS (
  SELECT query_id, doc_id, sum(c) AS s FROM contrib GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, s,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s DESC, doc_id ASC) AS bm25_rank
  FROM scores
)
SELECT query_id, doc_id, s::VARCHAR::DOUBLE AS bm25_score,
       bm25_rank::INT AS bm25_rank
FROM ranked WHERE bm25_rank <= {LEX_K}
""",
)
def hybrid_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (k1=1.2, b=0.75): real term frequencies +
    document-length normalization over the same inverted-index shuffle
    as the TF-IDF path. Per-(doc, term) contributions are rounded to
    6 dp and summed in DECIMAL, so Spark and DuckDB agree exactly
    despite float idf/length math inside each contribution."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.hybrid import (
        bm25_topk,
    )

    docs = load(spark, sf_dir, "documents")
    q = docs.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    out = bm25_topk(q, docs, k=LEX_K, df_cap=FIX_CAP)
    return out.select(
        "query_id",
        "doc_id",
        F.col("bm25_score").cast("double").alias("bm25_score"),
        "bm25_rank",
    )


def _with_lexical_index(spark: SparkSession, sf_dir: str, probe):
    """Build the persistent inverted-index layout in a tempdir from the
    documents table, run ``probe(index)``, and materialize the (small,
    top-k-bounded) result before the tempdir disappears. At serving
    time the layout is prebuilt and incrementally maintained
    (streaming/lexical_ingest.py); building it here keeps the query
    self-contained and the accounting honest (same convention as
    ann_ivf_topk_gemm)."""
    import tempfile

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.bench_hooks import (
        stage,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.lexical_index import (
        LexicalIndex,
    )

    docs = load(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory() as tmp:
        with stage("build"):
            idx = LexicalIndex(spark, f"{tmp}/lex").create(docs)
        out = probe(idx)
        return spark.createDataFrame(out.collect(), out.schema)


@register(
    "hybrid_bm25_topk_indexed",
    REGISTRY["hybrid_bm25_topk"].oracle,
)
def hybrid_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 from the PERSISTED inverted-index layout
    (sources/lexical_index.py): postings carry (tf, dl), the scan is
    pruned to the query terms' buckets, df comes from the termdf
    sidecar. Hash-equal to ``hybrid_bm25_topk`` (same oracle SQL):
    probe-from-layout ≡ rebuild-from-raw, the persistent-index contract
    of the reference (`app/services/pinecone_service.py:33-68`)."""
    docs = load(spark, sf_dir, "documents")
    q = docs.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    out = _with_lexical_index(
        spark, sf_dir, lambda idx: idx.bm25_topk(q, k=LEX_K, df_cap=FIX_CAP)
    )
    return out.select(
        "query_id",
        "doc_id",
        F.col("bm25_score").cast("double").alias("bm25_score"),
        "bm25_rank",
    )


@register(
    "hybrid_rrf_topk_indexed",
    REGISTRY["hybrid_rrf_topk"].oracle,
)
def hybrid_rrf_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship hybrid query served from the PERSISTED lexical
    layout instead of a per-call corpus re-tokenization — hash-equal to
    ``hybrid_rrf_topk`` (same oracle SQL). The lexical side prunes its
    postings scan to the query terms' buckets; the vector side and RRF
    fusion are unchanged."""
    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")
    q = docs.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    lex = _with_lexical_index(
        spark, sf_dir, lambda idx: idx.lexical_topk(q, k=LEX_K, df_cap=FIX_CAP)
    )
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    vec = topk_search(qv, emb, k=VEC_K, metric="cosine").select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("vec_rank"),
    )
    out = rrf_fuse(lex, vec, k=FUSE_K, k0=60)
    return out.select(
        "query_id",
        "doc_id",
        "lex_rank",
        "vec_rank",
        F.round("fused", 6).alias("fused"),
        "rank",
    )


@register(
    "hybrid_rrf_topk_ivf",
    f"""
SELECT doc_id AS query_id, TRUE AS fusion_ok
FROM documents WHERE doc_id < {N_QUERIES}
""",
)
def hybrid_rrf_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid fusion with the vector side on the PRODUCTION ANN path:
    lexical top-{LEX_K} ∪ IVF-GEMM top-{VEC_K} (centroid-partitioned
    layout, statically pruned scan — `operators/ann.py`), RRF-fused.
    IVF is approximate, so the oracle pins the CONTRACT, not the
    data-dependent values (the ann_pq_rerank_recall pattern): per
    query, the IVF-fused top-{FUSE_K} must overlap the exact-fused
    top-{FUSE_K} (`hybrid_rrf_topk`, fully hash-checked) in >= 3 of
    {FUSE_K} docs. Measured overlap at sf0.001/sf0.01: 5/5 — the floor
    is the contract, not the observation."""
    import tempfile

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries.ann_queries import (
        N_PROBE,
        _queries_and_centroids,
    )

    docs = load(spark, sf_dir, "documents")
    q = docs.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    lex = lexical_topk(q, docs, k=LEX_K, df_cap=FIX_CAP)

    emb, qv, cents = _queries_and_centroids(spark, sf_dir)
    exact_vec = topk_search(qv, emb, k=VEC_K, metric="cosine").select(
        "query_id", F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("vec_rank"),
    )
    with tempfile.TemporaryDirectory() as tmp:
        ann.write_ivf_index(emb, f"{tmp}/ivf", cents, metric="cosine")
        layout = spark.read.parquet(f"{tmp}/ivf")
        ivf = ann.ivf_topk_gemm(
            qv, layout, cents, k=VEC_K, nprobe=N_PROBE, metric="cosine"
        ).select(
            "query_id", F.col("vec_id").alias("doc_id"),
            F.col("rank").alias("vec_rank"),
        )
        ivf_vec = spark.createDataFrame(ivf.collect(), ivf.schema)
    exact_fused = rrf_fuse(lex, exact_vec, k=FUSE_K, k0=60).select(
        "query_id", "doc_id"
    )
    ivf_fused = rrf_fuse(lex, ivf_vec, k=FUSE_K, k0=60).select(
        "query_id", F.col("doc_id").alias("i_doc_id")
    )
    hits = exact_fused.join(
        ivf_fused,
        (exact_fused["query_id"] == ivf_fused["query_id"])
        & (exact_fused["doc_id"] == ivf_fused["i_doc_id"]),
        "left",
    ).groupBy(exact_fused["query_id"].alias("query_id")).agg(
        F.count("i_doc_id").alias("n_hits")
    )
    return hits.select("query_id", (F.col("n_hits") >= 3).alias("fusion_ok"))


from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries.rag_queries import (  # noqa: E402
    _HIST_VALUES,
    _REWRITE_EMBED_CTES,
)

_HYBRID_E2E_ORACLE = rf"""
WITH {_HIST_VALUES},
{_REWRITE_EMBED_CTES},
vecs AS (
  SELECT q.session_id AS query_id, e.vec_id AS doc_id,
         list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]) AS sim
  FROM qv q CROSS JOIN embeddings e
),
vecr AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, doc_id ASC) AS vec_rank
  FROM vecs
),
vec10 AS (SELECT query_id, doc_id, vec_rank FROM vecr WHERE vec_rank <= {VEC_K}),
nd AS (SELECT count(*) AS n FROM documents),
dterm AS (
  SELECT doc_id AS id, unnest(list_distinct(
           list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                       t -> t <> ''))) AS term
  FROM documents
),
qterm AS (
  SELECT session_id AS query_id, unnest(list_distinct(
           list_filter(regexp_split_to_array(lower(trim(rewritten)), '\s+'),
                       t -> t <> ''))) AS term
  FROM rw
),
idf AS (
  SELECT term, round(ln((n + 1.0) / (count(DISTINCT id) + 1.0)), 6)::DECIMAL(18,6) AS idf
  FROM dterm, nd GROUP BY term, n
  HAVING count(DISTINCT id) <= {FIX_CAP} * n
),
lex AS (
  SELECT q.query_id, d.id AS doc_id, sum(i.idf) AS lex_score
  FROM qterm q JOIN dterm d ON q.term = d.term JOIN idf i ON q.term = i.term
  GROUP BY q.query_id, d.id
),
lexr AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY lex_score DESC, doc_id ASC) AS lex_rank
  FROM lex
),
lex10 AS (SELECT query_id, doc_id, lex_rank FROM lexr WHERE lex_rank <= {LEX_K}),
fus AS (
  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         coalesce(l.doc_id, v.doc_id) AS doc_id,
         l.lex_rank, v.vec_rank,
         coalesce(1.0 / (60 + l.lex_rank), 0) + coalesce(1.0 / (60 + v.vec_rank), 0) AS fused
  FROM lex10 l FULL OUTER JOIN vec10 v
    ON l.query_id = v.query_id AND l.doc_id = v.doc_id
),
ranked AS (
  SELECT query_id, doc_id, lex_rank::INT AS lex_rank, vec_rank::INT AS vec_rank,
         round(fused, 6) AS fused,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY fused DESC, doc_id ASC) AS rank
  FROM fus
)
SELECT r.query_id, q.question, q.rewritten, r.rank::INT AS rank, r.doc_id,
       coalesce(d.source, 'unknown') AS source,
       r.lex_rank, r.vec_rank, r.fused
FROM ranked r
JOIN rw q ON q.session_id = r.query_id
LEFT JOIN documents d ON d.doc_id = r.doc_id
WHERE r.rank <= 3
"""


@register("rag_hybrid_e2e", _HYBRID_E2E_ORACLE)
def rag_hybrid_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat entry point over HYBRID retrieval: history rewrite → the
    REWRITTEN string drives BOTH signals (hash-embed → cosine top-10,
    tokenized terms → TF-IDF top-10) → Reciprocal Rank Fusion → top-3
    docs with sources. Every stage — rewrite text, embedding, lexical
    scores, fusion arithmetic — is hash-checked end to end against the
    SQL oracle."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.text import (
        rewrite_with_history,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
        hash_embed,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries.rag_queries import (
        chat_sessions,
    )

    sess = chat_sessions(spark)
    q = sess.select(
        F.col("session_id").alias("query_id"),
        "question",
        rewrite_with_history("question", "history").alias("rewritten"),
    ).withColumn("qvec", hash_embed("rewritten", dim=64, seed=42))

    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")
    vec = topk_search(
        q.select("query_id", "qvec"), emb, k=VEC_K, metric="cosine"
    ).select(
        "query_id", F.col("vec_id").alias("doc_id"), F.col("rank").alias("vec_rank")
    )
    lex = lexical_topk(
        q.select("query_id", F.col("rewritten").alias("text")),
        docs,
        k=LEX_K,
        df_cap=FIX_CAP,
    )
    fused = rrf_fuse(lex, vec, k=3, k0=60)
    out = (
        fused.join(
            docs.select("doc_id", "source"), "doc_id", "left"
        )
        .join(q.select("query_id", "question", "rewritten"), "query_id")
        .select(
            "query_id",
            "question",
            "rewritten",
            "rank",
            "doc_id",
            F.coalesce("source", F.lit("unknown")).alias("source"),
            "lex_rank",
            "vec_rank",
            F.round("fused", 6).alias("fused"),
        )
    )
    return out


FB_DOCS = 5
FB_TERMS = 3

_PRF_CTES = f"""
{_LEX_CTES},
fb AS (SELECT query_id, doc_id FROM lexr WHERE lex_rank <= {FB_DOCS}),
cand AS (
  SELECT f.query_id, d.term, sum(i.idf) AS weight
  FROM fb f JOIN dterm d ON d.id = f.doc_id JOIN idf i ON i.term = d.term
  WHERE NOT EXISTS (SELECT 1 FROM qterm q
                    WHERE q.query_id = f.query_id AND q.term = d.term)
  GROUP BY f.query_id, d.term
),
expt AS (
  SELECT query_id, term, weight,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY weight DESC, term ASC) AS rn
  FROM cand
)
"""


@register(
    "hybrid_prf_terms",
    f"""
WITH {_PRF_CTES}
SELECT query_id, term, weight::VARCHAR::DOUBLE AS weight, rn::INT AS rn
FROM expt WHERE rn <= {FB_TERMS}
""",
)
def hybrid_prf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback expansion terms (operators/hybrid.py
    ::prf_expansion_terms, the RM3 idea in deterministic TF-IDF form):
    each query's top-{FB_DOCS} lexical hits nominate the {FB_TERMS}
    highest-Σidf NEW terms. Full-value oracle over the same CTEs as
    the lexical queries."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.hybrid import (
        prf_expansion_terms,
    )

    docs = load(spark, sf_dir, "documents")
    q = docs.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    out = prf_expansion_terms(
        q, docs, fb_docs=FB_DOCS, fb_terms=FB_TERMS, df_cap=FIX_CAP
    )
    return out.select(
        "query_id", "term",
        F.col("weight").cast("double").alias("weight"),
        F.col("rn").cast("int").alias("rn"),
    )


@register(
    "hybrid_prf_topk",
    f"""
WITH {_PRF_CTES},
exp3 AS (SELECT query_id, term FROM expt WHERE rn <= {FB_TERMS}),
q2 AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id, term FROM qterm
    UNION ALL
    SELECT query_id, term FROM exp3
  )
),
lex2 AS (
  SELECT q.query_id, d.id AS doc_id, sum(i.idf) AS lex_score
  FROM q2 q JOIN dterm d ON q.term = d.term JOIN idf i ON q.term = i.term
  GROUP BY q.query_id, d.id
),
lex2r AS (
  SELECT query_id, doc_id, lex_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY lex_score DESC, doc_id ASC) AS lex_rank
  FROM lex2
)
SELECT query_id, doc_id, lex_score::VARCHAR::DOUBLE AS lex_score,
       lex_rank::INT AS lex_rank
FROM lex2r WHERE lex_rank <= {LEX_K}
""",
)
def hybrid_prf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval over the PRF-EXPANDED query (original terms ∪
    top-{FB_TERMS} feedback terms) — the classic two-pass recall lift
    for vocabulary-mismatch queries (operators/hybrid.py::
    lexical_topk_prf). Same inverted-index plan run twice; the oracle
    re-derives the whole two-pass pipeline in SQL."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.hybrid import (
        lexical_topk_prf,
    )

    docs = load(spark, sf_dir, "documents")
    q = docs.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    out = lexical_topk_prf(
        q, docs, k=LEX_K, fb_docs=FB_DOCS, fb_terms=FB_TERMS, df_cap=FIX_CAP
    )
    return out.select(
        "query_id", "doc_id",
        F.col("lex_score").cast("double").alias("lex_score"),
        "lex_rank",
    )
