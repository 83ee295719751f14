"""RAG assembly operators (SURVEY.md §2b P1/P3-P5, §2h F2-F5, §2d A1).

Reference pipeline (``app/rag/retriever.py`` + ``app/rag/chain.py``):
retrieve top-k → project matches (P1) → format context string (F2) →
LLM generate (U5, pluggable/⊘) → assemble answer with deduped sources
(A1) and truncated docs (P3). Everything except the LLM call is pure
SQL here, batched over many queries at once — the reference handles
one question per HTTP request; this runs a whole workload in one plan.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.text import (
    format_context_line,
    truncate_ellipsis,
)

EMPTY_ANSWER = (
    "I couldn't find any relevant information to answer your question."
)  # exact string: app/rag/chain.py:91


def project_matches(matches: DataFrame) -> DataFrame:
    """P1: reshape matches → (query_id, id, score, text, source) with
    the reference's missing-value defaults (app/rag/retriever.py:61-70).
    """
    return matches.select(
        "query_id",
        F.col("vec_id").alias("id"),
        "score",
        "rank",
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.coalesce(F.col("source"), F.lit("unknown")).alias("source"),
    )


def build_context(matches: DataFrame) -> DataFrame:
    """F2: per-query context string — rank-ordered [Document i] blocks
    joined by newline (app/rag/retriever.py:75-95). Deterministic
    order via sort_array over (rank, line) structs, not row order."""
    lines = matches.withColumn(
        "line", format_context_line("rank", "source", "score", "text")
    )
    return lines.groupBy("query_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("context"),
        F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
        F.count("*").alias("n_matches"),
    )


def assemble_answers(
    queries: DataFrame,
    contexts: DataFrame,
    generate: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """P5 + U5: left-join contexts onto queries; empty retrieval gets
    the canned no-results answer (app/rag/chain.py:87-94); the LLM
    boundary is a DataFrame→DataFrame callable (⊘ excluded from
    oracle), defaulting to a deterministic echo stub."""
    out = queries.join(contexts, "query_id", "left").select(
        "query_id",
        "question",
        F.coalesce(F.col("context"), F.lit("")).alias("context"),
        F.coalesce(F.col("sources"), F.lit("")).alias("sources"),
        F.coalesce(F.col("n_matches"), F.lit(0)).alias("n_matches"),
    )
    if generate is None:
        generate = echo_generator
    answered = generate(out)
    return answered.withColumn(
        "answer",
        F.when(F.col("n_matches") == 0, F.lit(EMPTY_ANSWER)).otherwise(F.col("answer")),
    )


def echo_generator(df: DataFrame) -> DataFrame:
    """Deterministic LLM stub: answer = first 160 chars of context.
    Keeps the e2e pipeline runnable and hashable without a model."""
    return df.withColumn("answer", F.substring(F.col("context"), 1, 160))


def pandas_llm_generator(
    infer: Callable[[list[str], list[str]], list[str]],
) -> Callable[[DataFrame], DataFrame]:
    """U5 real path: batch inference via mapInPandas — `infer`
    receives (contexts, questions) lists and returns answers. The
    prompt template (F5, app/rag/chain.py:47-60) is the caller's
    concern; temperature/max_tokens live in the injected client."""
    import pandas as pd

    def _gen(df: DataFrame) -> DataFrame:
        from pyspark.sql import types as T

        schema = T.StructType(
            list(df.schema.fields) + [T.StructField("answer", T.StringType())]
        )
        names = df.columns

        def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf.copy()
                pdf["answer"] = infer(list(pdf["context"]), list(pdf["question"]))
                yield pdf[names + ["answer"]]

        return df.mapInPandas(_run, schema=schema)

    return _gen


def pack_context_budget(
    matches: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    always_first: bool = True,
) -> DataFrame:
    """Token-budget context packing: keep the longest prefix of each
    query's rank-ordered matches whose cumulative whitespace-token
    count fits ``budget_tokens`` — the LLM-context-window constraint
    the reference handles by blind per-doc truncation
    (app/rag/chain.py:113-120); packing by budget keeps whole
    documents and adapts the depth per query instead.

    ``always_first`` keeps the rank-1 match even when it alone
    overflows the budget (a retrieval that returns nothing is worse
    than one over-long context — the LangChain "stuff" convention).
    Because token counts are non-negative the cumulative sum is
    monotone, so the kept set is always a rank-prefix.

    Scale shape: one window over per-query partitions that are k-sized
    by construction (the top-k candidate set), so the partition bound
    is the retrieval depth, never the corpus. Adds ``n_tokens`` (this
    match) and ``cum_tokens`` (prefix total including this match).
    """
    from pyspark.sql import Window

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.text import (
        token_count,
    )

    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive, got {budget_tokens}")
    w = (
        Window.partitionBy("query_id")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = matches.withColumn("n_tokens", token_count(text_col)).withColumn(
        "cum_tokens", F.sum("n_tokens").over(w).cast("long")
    )
    keep = F.col("cum_tokens") <= F.lit(budget_tokens)
    if always_first:
        keep = keep | (F.col("rank") == 1)
    return out.filter(keep)


def truncate_docs(matches: DataFrame, n: int = 200) -> DataFrame:
    """P3: response-doc truncation (app/rag/chain.py:113-120)."""
    return matches.withColumn("text", truncate_ellipsis("text", n))