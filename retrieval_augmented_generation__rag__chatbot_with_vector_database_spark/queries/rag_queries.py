"""RAG assembly queries (operators.rag): projection, context
formatting, sources dedup, truncation, history rewrite, empty guard,
and the LLM-stubbed end-to-end pipeline — all oracle-checkable string
outputs (the LLM boundary uses the deterministic echo stub).

The match corpus joins top-k hits on ``embeddings`` with ``documents``
by id (vec_id ↔ doc_id in the fixtures) for text/source metadata.
Newlines in oracle SQL are built with chr(10) — DuckDB string
literals don't interpret backslash escapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
    rag,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
    topk_search,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries import (
    load,
    register,
)

# top-3 cosine matches for 8 queries, with doc text/source attached
_MATCH_CTE = """
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < 8
),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]) AS s
  FROM q CROSS JOIN embeddings e
),
ranked AS (
  SELECT query_id, vec_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM scored
),
matches AS (
  SELECT r.query_id, r.vec_id, r.score, r.rank,
         coalesce(d.text, '') AS text,
         coalesce(d.source, 'unknown') AS source
  FROM ranked r LEFT JOIN documents d ON r.vec_id = d.doc_id
  WHERE r.rank <= 3
)
"""


def _matches(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    hits = topk_search(queries, emb, k=k, metric="cosine")
    hits = hits.withColumn("score", F.round("score", 6))
    return rag.project_matches(
        hits.join(docs, hits.vec_id == docs.doc_id, "left").select(
            "query_id", "vec_id", "score", "rank", "text", "source"
        )
    )


@register(
    "rag_match_projection",
    f"""
WITH {_MATCH_CTE}
SELECT query_id, vec_id AS id, score, rank::INT AS rank,
       substr(text, 1, 80) AS text, source
FROM matches
""",
)
def rag_match_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: match → (id, score, text, source) with missing-key defaults."""
    return _matches(spark, sf_dir).select(
        "query_id", "id", "score", "rank", F.substring("text", 1, 80).alias("text"), "source"
    )


@register(
    "rag_context",
    f"""
WITH {_MATCH_CTE},
lines AS (
  SELECT query_id, rank, source,
         printf('[Document %d] (Source: %s, Relevance: %.3f)', rank, source, score)
           || chr(10) || substr(text, 1, 80) || chr(10) AS line
  FROM matches
)
SELECT query_id,
       string_agg(line, chr(10) ORDER BY rank) AS context,
       string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
       count(*) AS n_matches
FROM lines GROUP BY query_id
""",
)
def rag_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 + A1: rank-ordered context blocks + deduped sorted sources.
    Text truncated to 80 chars to keep the hashed payload small."""
    m = _matches(spark, sf_dir).withColumn("text", F.substring("text", 1, 80))
    return rag.build_context(m)


@register(
    "rag_truncate_docs",
    f"""
WITH {_MATCH_CTE}
SELECT query_id, vec_id AS id, rank::INT AS rank,
       substr(text, 1, 200) || '...' AS text
FROM matches
""",
)
def rag_truncate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/F4: unconditional truncate+ellipsis on response docs."""
    return rag.truncate_docs(_matches(spark, sf_dir)).select(
        "query_id", "id", "rank", "text"
    )


@register(
    "rag_history_rewrite",
    """
WITH hist(session_id, question, history) AS (VALUES
  (0, 'What is NRR?', []::STRUCT(question VARCHAR, answer VARCHAR)[]),
  (1, 'And gross margin?',
      [{'question': 'What was Q1 revenue?', 'answer': 'Revenue was $450M.'}]),
  (2, 'How did it trend?',
      [{'question': 'q1', 'answer': 'a1'}, {'question': 'q2', 'answer': 'a2'},
       {'question': 'q3', 'answer': 'a3'}]),
  (3, 'Summarize the year.',
      [{'question': 'q1', 'answer': 'a1'}, {'question': 'q2', 'answer': 'a2'},
       {'question': 'q3', 'answer': 'a3'}, {'question': 'q4', 'answer': 'a4'},
       {'question': 'q5', 'answer': 'a5'}])
)
SELECT session_id,
       CASE WHEN len(history) = 0 THEN question
            ELSE 'Previous conversation:' || chr(10) ||
                 array_to_string(
                   list_transform(history[greatest(len(history)-2, 1):len(history)],
                                  h -> 'Q: ' || h.question || chr(10) || 'A: ' || h.answer),
                   chr(10)) ||
                 chr(10) || chr(10) || 'Current question: ' || question
       END AS rewritten
FROM hist
""",
)
def rag_history_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/W2: last-3 history slice + Q:/A: rewrite; empty history
    passes through (app/rag/chain.py:144-151). Inline literal
    sessions with history lengths 0/1/3/5 (FIXTURES.md §5)."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.text import (
        rewrite_with_history,
    )

    hist_t = "array<struct<question:string,answer:string>>"
    rows = [
        (0, "What is NRR?", []),
        (1, "And gross margin?", [("What was Q1 revenue?", "Revenue was $450M.")]),
        (2, "How did it trend?", [("q1", "a1"), ("q2", "a2"), ("q3", "a3")]),
        (
            3,
            "Summarize the year.",
            [("q1", "a1"), ("q2", "a2"), ("q3", "a3"), ("q4", "a4"), ("q5", "a5")],
        ),
    ]
    df = spark.createDataFrame(
        rows, f"session_id int, question string, history {hist_t}"
    )
    return df.select(
        "session_id", rewrite_with_history("question", "history").alias("rewritten")
    )


def _prompt_prefix_sql() -> str:
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.text import (
        SYSTEM_PROMPT_PREFIX,
    )

    return SYSTEM_PROMPT_PREFIX.replace("'", "''")


@register(
    "rag_prompt_template",
    f"""
WITH {_MATCH_CTE},
lines AS (
  SELECT query_id, rank, source,
         printf('[Document %d] (Source: %s, Relevance: %.3f)', rank, source, score)
           || chr(10) || substr(text, 1, 80) || chr(10) AS line
  FROM matches
),
ctx AS (
  SELECT query_id, string_agg(line, chr(10) ORDER BY rank) AS context
  FROM lines GROUP BY query_id
),
qs AS (SELECT vec_id AS query_id, 'q' || vec_id::VARCHAR AS question
       FROM embeddings WHERE vec_id < 8)
SELECT qs.query_id,
       '{_prompt_prefix_sql()}' || coalesce(ctx.context, '') AS sys_prompt,
       qs.question AS human_prompt
FROM qs LEFT JOIN ctx ON qs.query_id = ctx.query_id
""",
)
def rag_prompt_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: the ChatPromptTemplate string assembly
    (app/rag/chain.py:47-60) as data — system message with the
    retrieved context interpolated, human message carrying the
    question. The LLM invocation stays ⊘; the prompt itself is
    deterministic and oracle-checked byte-for-byte."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.text import (
        format_prompt,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.concat(F.lit("q"), F.col("vec_id")).alias("question"),
    )
    m = _matches(spark, sf_dir).withColumn("text", F.substring("text", 1, 80))
    ctx = rag.build_context(m).select("query_id", "context")
    p = format_prompt(F.coalesce("context", F.lit("")), "question")
    return (
        queries.join(ctx, "query_id", "left")
        .select(
            "query_id",
            p["system"].alias("sys_prompt"),
            p["human"].alias("human_prompt"),
        )
    )


@register(
    "rag_empty_guard",
    f"""
WITH qf AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec,
         'q' || vec_id::VARCHAR AS question,
         CASE WHEN vec_id % 4 = 3 THEN 99 ELSE 0 END AS filter_label
  FROM embeddings WHERE vec_id < 8
),
scored AS (
  SELECT qf.query_id, e.vec_id,
         list_cosine_similarity(qf.qvec, e.embedding::DOUBLE[]) AS s
  FROM qf JOIN embeddings e ON e.label = qf.filter_label
),
ranked AS (
  SELECT query_id, vec_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM scored
),
ctx AS (
  SELECT query_id, count(*) AS n_matches FROM ranked WHERE rank <= 5 GROUP BY query_id
)
SELECT qf.query_id, qf.question,
       coalesce(ctx.n_matches, 0) AS n_matches,
       CASE WHEN coalesce(ctx.n_matches, 0) = 0
            THEN 'I couldn''t find any relevant information to answer your question.'
            ELSE 'ok' END AS answer
FROM qf LEFT JOIN ctx ON qf.query_id = ctx.query_id
""",
)
def rag_empty_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 + P2: per-query metadata filter (label must equal the
    query's filter_label; label 99 matches nothing) → queries with
    zero matches get the canned no-results answer
    (app/rag/chain.py:87-94)."""
    emb = load(spark, sf_dir, "embeddings")
    qf = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.concat(F.lit("q"), F.col("vec_id")).alias("question"),
        F.when(F.col("vec_id") % 4 == 3, 99).otherwise(0).alias("filter_label"),
    )
    hits = topk_search(
        qf,
        emb,
        k=5,
        metric="cosine",
        per_query_filter=F.col("label") == F.col("filter_label"),
        query_extra_cols=("filter_label",),
    )
    ctx = hits.groupBy("query_id").agg(F.count("*").alias("n_matches"))
    return (
        qf.select("query_id", "question")
        .join(ctx, "query_id", "left")
        .select(
            "query_id",
            "question",
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            F.when(F.coalesce("n_matches", F.lit(0)) == 0, F.lit(rag.EMPTY_ANSWER))
            .otherwise(F.lit("ok"))
            .alias("answer"),
        )
    )


_HIST_VALUES = """
hist(session_id, question, history) AS (VALUES
  (0, 'What is NRR?', []::STRUCT(question VARCHAR, answer VARCHAR)[]),
  (1, 'And gross margin?',
      [{'question': 'What was Q1 revenue?', 'answer': 'Revenue was $450M.'}]),
  (2, 'How did it trend?',
      [{'question': 'q1', 'answer': 'a1'}, {'question': 'q2', 'answer': 'a2'},
       {'question': 'q3', 'answer': 'a3'}]),
  (3, 'Summarize the year.',
      [{'question': 'q1', 'answer': 'a1'}, {'question': 'q2', 'answer': 'a2'},
       {'question': 'q3', 'answer': 'a3'}, {'question': 'q4', 'answer': 'a4'},
       {'question': 'q5', 'answer': 'a5'}])
)
"""


HIST_T = "array<struct<question:string,answer:string>>"


def chat_sessions(spark: SparkSession) -> DataFrame:
    """The four chat-session fixtures (history lengths 0/1/3/5) —
    mirrored row for row by the oracle's ``_HIST_VALUES``."""
    rows = [
        (0, "What is NRR?", []),
        (1, "And gross margin?", [("What was Q1 revenue?", "Revenue was $450M.")]),
        (2, "How did it trend?", [("q1", "a1"), ("q2", "a2"), ("q3", "a3")]),
        (
            3,
            "Summarize the year.",
            [("q1", "a1"), ("q2", "a2"), ("q3", "a3"), ("q4", "a4"), ("q5", "a5")],
        ),
    ]
    return spark.createDataFrame(
        rows, f"session_id int, question string, history {HIST_T}"
    )



# history rewrite -> hash-embed CTEs (shared with the hybrid e2e query)
_REWRITE_EMBED_CTES = """rw AS (
  SELECT session_id, question,
         CASE WHEN len(history) = 0 THEN question
              ELSE 'Previous conversation:' || chr(10) ||
                   array_to_string(
                     list_transform(history[greatest(len(history)-2, 1):len(history)],
                                    h -> 'Q: ' || h.question || chr(10) || 'A: ' || h.answer),
                     chr(10)) ||
                   chr(10) || chr(10) || 'Current question: ' || question
         END AS rewritten
  FROM hist
),
rawv AS (
  SELECT session_id, question, rewritten,
         list_transform(range(0, 64), j ->
           ('0x' || substr(md5('42:' || (j // 4)::VARCHAR || ':' || rewritten),
                           (j % 4) * 8 + 1, 8))::UBIGINT
           / 4294967295.0 - 0.5) AS v
  FROM rw
),
qv AS (
  SELECT session_id, question, rewritten,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS qvec
  FROM rawv
)"""



# shared by rag_chat_e2e (exact scan) and rag_chat_ann_e2e (IVFPQ
# layout): the layout changes the physical plan, not one byte of the
# answer, so both hash against the same SQL
_CHAT_E2E_ORACLE = f"""
WITH {_HIST_VALUES},
{_REWRITE_EMBED_CTES},
scored AS (
  SELECT q.session_id AS query_id, e.vec_id,
         list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]) AS s
  FROM qv q CROSS JOIN embeddings e
),
ranked AS (
  SELECT query_id, vec_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM scored
),
matches AS (
  SELECT r.query_id, r.vec_id, r.score, r.rank,
         coalesce(d.text, '') AS text,
         coalesce(d.source, 'unknown') AS source
  FROM ranked r LEFT JOIN documents d ON r.vec_id = d.doc_id
  WHERE r.rank <= 3
),
lines AS (
  SELECT query_id, rank, source,
         printf('[Document %d] (Source: %s, Relevance: %.3f)', rank, source, score)
           || chr(10) || substr(text, 1, 80) || chr(10) AS line
  FROM matches
),
ctx AS (
  SELECT query_id,
         string_agg(line, chr(10) ORDER BY rank) AS context,
         string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
         count(*) AS n_matches
  FROM lines GROUP BY query_id
)
SELECT q.session_id AS query_id, q.question, q.rewritten,
       coalesce(c.sources, '') AS sources,
       coalesce(c.n_matches, 0) AS n_matches,
       CASE WHEN coalesce(c.n_matches, 0) = 0
            THEN 'I couldn''t find any relevant information to answer your question.'
            ELSE substr(coalesce(c.context, ''), 1, 160) END AS answer
FROM qv q LEFT JOIN ctx c ON q.session_id = c.query_id
"""


@register("rag_chat_e2e", _CHAT_E2E_ORACLE)
def rag_chat_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry point 2 fused (SURVEY.md §3; app/rag/chain.py:126-154):
    history rewrite → embed the REWRITTEN string → top-3 retrieval →
    context → echo answer, one DataFrame plan end to end. The
    embedding step is ``functions.vector.hash_embed`` — bit-identical
    with the Python HashEmbedder and the oracle's SQL mirror — so the
    whole chain (including retrieval driven by conversation context)
    is hash-checked. Sessions cover history lengths 0/1/3/5."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.text import (
        rewrite_with_history,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
        hash_embed,
    )

    sess = chat_sessions(spark)
    q = sess.select(
        F.col("session_id").alias("query_id"),
        "question",
        rewrite_with_history("question", "history").alias("rewritten"),
    ).withColumn("qvec", hash_embed("rewritten", dim=64, seed=42))

    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    hits = topk_search(
        q.select("query_id", "qvec"), emb, k=3, metric="cosine"
    ).withColumn("score", F.round("score", 6))
    m = rag.project_matches(
        hits.join(docs, hits.vec_id == docs.doc_id, "left").select(
            "query_id", "vec_id", "score", "rank", "text", "source"
        )
    ).withColumn("text", F.substring("text", 1, 80))
    ctx = rag.build_context(m)
    out = rag.assemble_answers(q.select("query_id", "question"), ctx)
    return out.join(q.select("query_id", "rewritten"), "query_id").select(
        "query_id", "question", "rewritten", "sources", "n_matches", "answer"
    )


@register(
    "rag_e2e_echo",
    f"""
WITH {_MATCH_CTE},
lines AS (
  SELECT query_id, rank, source,
         printf('[Document %d] (Source: %s, Relevance: %.3f)', rank, source, score)
           || chr(10) || substr(text, 1, 80) || chr(10) AS line
  FROM matches
),
ctx AS (
  SELECT query_id,
         string_agg(line, chr(10) ORDER BY rank) AS context,
         string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
         count(*) AS n_matches
  FROM lines GROUP BY query_id
),
qs AS (SELECT vec_id AS query_id, 'q' || vec_id::VARCHAR AS question
       FROM embeddings WHERE vec_id < 8)
SELECT qs.query_id, qs.question,
       coalesce(ctx.sources, '') AS sources,
       coalesce(ctx.n_matches, 0) AS n_matches,
       CASE WHEN coalesce(ctx.n_matches, 0) = 0
            THEN 'I couldn''t find any relevant information to answer your question.'
            ELSE substr(coalesce(ctx.context, ''), 1, 160) END AS answer
FROM qs LEFT JOIN ctx ON qs.query_id = ctx.query_id
""",
)
def rag_e2e_echo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end (entry point 1, SURVEY.md §3) with the
    deterministic echo LLM stub: retrieve top-3 → context → answer.
    Fully oracle-checked except the real LLM call (⊘)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.concat(F.lit("q"), F.col("vec_id")).alias("question"),
    )
    m = _matches(spark, sf_dir).withColumn("text", F.substring("text", 1, 80))
    ctx = rag.build_context(m)
    return rag.assemble_answers(queries, ctx).select(
        "query_id", "question", "sources", "n_matches", "answer"
    )


@register(
    "rag_ann_e2e",
    f"""
WITH {_MATCH_CTE},
lines AS (
  SELECT query_id, rank, source,
         printf('[Document %d] (Source: %s, Relevance: %.3f)', rank, source, score)
           || chr(10) || substr(text, 1, 80) || chr(10) AS line
  FROM matches
),
ctx AS (
  SELECT query_id,
         string_agg(line, chr(10) ORDER BY rank) AS context,
         string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
         count(*) AS n_matches
  FROM lines GROUP BY query_id
),
qs AS (SELECT vec_id AS query_id, 'q' || vec_id::VARCHAR AS question
       FROM embeddings WHERE vec_id < 8)
SELECT qs.query_id, qs.question,
       coalesce(ctx.sources, '') AS sources,
       coalesce(ctx.n_matches, 0) AS n_matches,
       CASE WHEN coalesce(ctx.n_matches, 0) = 0
            THEN 'I couldn''t find any relevant information to answer your question.'
            ELSE substr(coalesce(ctx.context, ''), 1, 160) END AS answer
FROM qs LEFT JOIN ctx ON qs.query_id = ctx.query_id
""",
)
def rag_ann_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship RAG chain on the 100 TB SERVING SHAPE: build a
    self-contained normalized IVFPQ layout (codes + raw floats
    co-partitioned by centroid, ``write_ivfpq_index`` default) →
    dispatched probe (``search()`` with ``index=None`` — the fused
    in-kernel rerank reads only bucket directories, no side
    full-precision table) → context assembly → echo answer. Same
    oracle as ``rag_e2e_echo``: with every bucket probed and full
    over-fetch the fixture-scale top-3 is provably exact, so this
    hash-MATCHES the exact-scan flagship — the layout changes the
    physical plan, not one byte of the answer."""
    import tempfile

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        pq,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.search import (
        search,
    )

    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.bench_hooks import (
        stage,
    )

    with stage("build"):
        emb_n = pq._unit_normalized(emb, "embedding")
        books, cents = pq.train_books_and_centroids(
            emb_n, m=16, k=64, n_centroids=16
        )
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ivfpq_rag"
        with stage("build"):
            pq.write_ivfpq_index(emb, path, cents, books, normalize=True)
        hits = search(
            queries,
            None,  # self-contained layout: no side index frame
            k=3,
            metric="cosine",
            layout_path=path,
            nprobe=16,
            fetch_k=100,
        ).withColumn("score", F.round("score", 6))
        # materialize before the tempdir disappears (8 x 3 rows)
        hits = spark.createDataFrame(hits.collect(), hits.schema)
    m = rag.project_matches(
        hits.join(docs, hits.vec_id == docs.doc_id, "left").select(
            "query_id", "vec_id", "score", "rank", "text", "source"
        )
    ).withColumn("text", F.substring("text", 1, 80))
    ctx = rag.build_context(m)
    q_named = queries.select(
        "query_id", F.concat(F.lit("q"), F.col("query_id")).alias("question")
    )
    return rag.assemble_answers(q_named, ctx).select(
        "query_id", "question", "sources", "n_matches", "answer"
    )


@register("rag_chat_ann_e2e", _CHAT_E2E_ORACLE)
def rag_chat_ann_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chat chain on the SERVING layout (VERDICT r9 item #6):
    history rewrite (`app/rag/chain.py:126-154`) → hash-embed the
    REWRITTEN string → retrieval through the size-aware dispatcher
    over a self-contained IVFPQ layout (coarse probe → partition-
    pruned ADC → fused full-precision rerank) → context → echo
    answer. Composes ``rag_chat_e2e``'s conversation semantics with
    ``rag_ann_e2e``'s physical serving path; with every bucket probed
    and full over-fetch the fixture-scale top-3 is provably exact, so
    the output hash-MATCHES ``rag_chat_e2e``'s oracle byte for byte —
    the layout changes the physical plan, not the answer."""
    import tempfile

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.text import (
        rewrite_with_history,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
        hash_embed,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        pq,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.search import (
        search,
    )

    sess = chat_sessions(spark)
    q = sess.select(
        F.col("session_id").alias("query_id"),
        "question",
        rewrite_with_history("question", "history").alias("rewritten"),
    ).withColumn("qvec", hash_embed("rewritten", dim=64, seed=42))

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.bench_hooks import (
        stage,
    )

    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    with stage("build"):
        emb_n = pq._unit_normalized(emb, "embedding")
        books, cents = pq.train_books_and_centroids(
            emb_n, m=16, k=64, n_centroids=16
        )
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ivfpq_chat"
        with stage("build"):
            pq.write_ivfpq_index(emb, path, cents, books, normalize=True)
        hits = search(
            q.select("query_id", "qvec"),
            None,  # self-contained layout
            k=3,
            metric="cosine",
            layout_path=path,
            nprobe=16,
            fetch_k=100,
        ).withColumn("score", F.round("score", 6))
        # materialize before the tempdir disappears (4 x 3 rows)
        hits = spark.createDataFrame(hits.collect(), hits.schema)
    m = rag.project_matches(
        hits.join(docs, hits.vec_id == docs.doc_id, "left").select(
            "query_id", "vec_id", "score", "rank", "text", "source"
        )
    ).withColumn("text", F.substring("text", 1, 80))
    ctx = rag.build_context(m)
    out = rag.assemble_answers(q.select("query_id", "question"), ctx)
    return out.join(q.select("query_id", "rewritten"), "query_id").select(
        "query_id", "question", "rewritten", "sources", "n_matches", "answer"
    )


@register(
    "rag_context_budget",
    r"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < 8
),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]) AS s
  FROM q CROSS JOIN embeddings e
),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM scored
),
matches AS (
  SELECT r.query_id, r.vec_id, r.rank,
         substr(coalesce(d.text, ''), 1, 200) AS text
  FROM ranked r LEFT JOIN documents d ON r.vec_id = d.doc_id
  WHERE r.rank <= 8
),
toks AS (
  SELECT query_id, rank, vec_id AS id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM matches
),
cum AS (
  SELECT query_id, rank, id, n_tokens,
         sum(n_tokens) OVER (PARTITION BY query_id ORDER BY rank)::BIGINT AS cum_tokens
  FROM toks
)
SELECT query_id, rank::INT AS rank, id, n_tokens, cum_tokens
FROM cum WHERE cum_tokens <= 100 OR rank = 1
""",
)
def rag_context_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget context packing (operators.rag.pack_context_budget):
    retrieve top-8, truncate docs to 200 chars, then keep the longest
    rank-prefix fitting a 100-token budget (rank 1 always kept). The
    packing depth adapts per query — the context-window constraint the
    reference meets by blind truncation (app/rag/chain.py:113-120)."""
    m = _matches(spark, sf_dir, k=8).withColumn(
        "text", F.substring("text", 1, 200)
    )
    packed = rag.pack_context_budget(m, budget_tokens=100)
    return packed.select("query_id", "rank", "id", "n_tokens", "cum_tokens")
