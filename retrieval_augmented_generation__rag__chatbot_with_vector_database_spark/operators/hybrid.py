"""Hybrid retrieval: lexical TF-IDF top-k fused with vector top-k by
Reciprocal Rank Fusion — the standard retrieval upgrade over
pure-vector RAG (keyword-precise hits surface even when the embedding
misses them, and vice versa).

Spark shapes:
- **Lexical**: docs explode to distinct terms once (one shuffle to a
  (term)-keyed df/idf table, reusable across query batches); query
  terms join doc terms on the term key — an inverted-index join, never
  a scan of full texts per query. Scores sum IDF in DECIMAL (exact,
  order-independent — float sums would hash-drift vs the oracle).
- **Vector**: the existing brute-force/ANN top-k operators.
- **Fusion**: full-outer join of the two rank lists on (query, doc);
  ``RRF = Σ 1/(k0 + rank)`` needs only the integer ranks, so the
  fused score is bit-identical in any engine. Per-query top-k via
  row_number (WindowGroupLimit below the exchange).

At 100 TB: the term join is the classic inverted-index shuffle. Skew
on stopword-like terms is bounded by **df-capping, on by default**
(``df_cap=0.5``): terms with ``df > cap`` are dropped from the idf
table, and the query-terms×idf join runs BEFORE the postings join, so
a stopword key never reaches the big join at all — without the cap a
term present in every document joins the full corpus (the classic
hot-key explosion). BM25 would down-weight such terms to ~0 anyway,
so the ranking loss is negligible. The vector side rides the IVF
layout; fusion joins two k-row-per-query lists — negligible.

Reference parity: the reference retrieves by vector similarity only
(`app/services/pinecone_service.py` query path); hybrid is a
north-star extension every production RAG stack grows into.
"""

from __future__ import annotations

import numbers

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

IDF_DEC = "decimal(18,6)"

# default document-frequency cap: drop terms present in > 50% of the
# corpus (unit tests of scoring math on tiny corpora pass None). The
# rule itself is :func:`df_cap_bound`.
DF_CAP_DEFAULT = 0.5


def smoothed_idf() -> Column:
    """The one TF-IDF term weight, from the ``n`` (corpus size) and
    ``df`` columns: ``ln((N+1)/(df+1))`` rounded to 6 dp and cast to
    DECIMAL so downstream sums are exact and order-free."""
    return (
        F.round(F.ln((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6)
        .cast(IDF_DEC)
    )


def bm25_idf() -> Column:
    """BM25's smoothed IDF ``ln(1 + (N - df + 0.5)/(df + 0.5))`` from
    the ``n`` and ``df`` columns."""
    return F.ln(1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))


def bm25_weight(idf: Column, k1: float, b: float) -> Column:
    """The one BM25 per-(doc, term) contribution from the ``tf``,
    ``dl`` and ``avgdl`` columns: ``idf·tf·(k1+1) / (tf +
    k1·(1-b+b·dl/avgdl))``, rounded to 6 dp and cast to DECIMAL so the
    per-doc sum is exact across engines."""
    return F.round(
        idf
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        6,
    ).cast(IDF_DEC)


def df_cap_bound(
    df_cap: float | int | None, n: float | int | Column
) -> float | Column | None:
    """The one df-cap rule: the largest df a term may have and still be
    scored, for a corpus of ``n`` docs. ``0 < df_cap <= 1`` is a ratio
    of N, ``df_cap > 1`` an absolute count, ``None`` means no cap (the
    bound is None); any other value raises. ``n`` is a Python number
    (the index probe, against the sidecar's N) or a ``Column`` (the raw
    operators' plans); a ratio bound has the type of ``n``, an absolute
    bound is a float."""
    if df_cap is None:
        return None
    if (
        isinstance(df_cap, bool)
        or not isinstance(df_cap, numbers.Real)
        or not df_cap > 0
    ):
        raise ValueError(f"df_cap must be positive or None, got {df_cap}")
    cap = float(df_cap)
    return n * cap if cap <= 1 else cap


def _df_cap_filter(with_n: DataFrame, df_cap: float | int | None) -> DataFrame:
    """Apply the df cap to a frame carrying ``df`` and ``n`` columns."""
    bound = df_cap_bound(df_cap, F.col("n"))
    return with_n if bound is None else with_n.filter(F.col("df") <= bound)


def doc_terms(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """(id, term): DISTINCT lowercase whitespace tokens per doc
    (boolean term presence — the tf component is deliberately binary;
    swap in tf weighting for BM25 without changing the plan shape)."""
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(
                    F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
                )
            ).alias("term"),
        )
        .filter(F.col("term") != "")
    )


def idf_table(
    terms: DataFrame,
    n_docs_df: DataFrame,
    df_cap: float | int | None = None,
) -> DataFrame:
    """(term, idf): smoothed ``ln((N+1)/(df+1))`` rounded to 6 dp and
    cast to DECIMAL so downstream sums are exact and order-free.
    ``n_docs_df`` is a 1-row (n) frame — kept declarative (broadcast
    cross join) instead of a driver-side count. ``df_cap`` drops
    stopword-like terms with ``df > cap`` (ratio of N if <= 1)."""
    df_counts = terms.groupBy("term").agg(F.countDistinct("id").alias("df"))
    capped = _df_cap_filter(
        df_counts.crossJoin(F.broadcast(n_docs_df)), df_cap
    )
    return capped.select("term", smoothed_idf().alias("idf"))


def _lex_frames(
    queries: DataFrame,
    docs: DataFrame,
    query_id_col: str,
    query_text_col: str,
    id_col: str,
    text_col: str,
    df_cap: float | int | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three frames every lexical stage consumes: (dterms, idf,
    qterms), built ONCE per retrieval pass and threaded through the
    scoring stages (round 16 — the PRF form previously re-derived all
    three in each nested call). ``dterms`` is shared by reference and
    recomputed per consumer: materializing it measured slower at bench
    scale (round 16 A/B)."""
    dterms = doc_terms(docs, id_col, text_col)
    n_docs = docs.agg(F.count("*").alias("n"))
    idf = idf_table(dterms, n_docs, df_cap=df_cap)
    qterms = doc_terms(
        queries.select(
            F.col(query_id_col).alias(query_id_col), F.col(query_text_col)
        ),
        query_id_col,
        query_text_col,
    ).withColumnRenamed("id", "query_id")
    return dterms, idf, qterms


def _lexical_topk_from(
    qterms: DataFrame, dterms: DataFrame, idf: DataFrame, k: int
) -> DataFrame:
    """Score (query_id, term) rows against prebuilt dterms/idf frames —
    the shared scoring tail of the one-pass and PRF retrievals."""
    scores = (
        qterms.select("query_id", "term")
        .join(idf, "term")
        .join(dterms, "term")
        .groupBy("query_id", F.col("id").alias("doc_id"))
        .agg(F.sum("idf").alias("lex_score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("lex_score").desc(), F.col("doc_id").asc()
    )
    return (
        scores.withColumn("lex_rank", F.row_number().over(w))
        .filter(F.col("lex_rank") <= k)
    )


def lexical_topk(
    queries: DataFrame,
    docs: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: float | int | None = DF_CAP_DEFAULT,
) -> DataFrame:
    """(query_id, doc_id, lex_score, lex_rank): top-k docs per query by
    summed IDF of shared distinct terms; ties broken by doc id.

    ``df_cap`` (ON by default, 0.5 = half the corpus) drops
    stopword-like terms from the idf table; the query×idf join runs
    before the postings join so a capped hot term never joins the
    corpus at all. ``None`` disables (tiny-corpus unit tests)."""
    dterms, idf, qterms = _lex_frames(
        queries, docs, query_id_col, query_text_col, id_col, text_col, df_cap
    )
    return _lexical_topk_from(qterms, dterms, idf, k)


def doc_term_freqs(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(id, term, tf, dl): term frequency per doc plus the doc's token
    length — the BM25 statistics, one explode + one groupBy. ``dl``
    re-aggregates the tf table (Σ_term tf ≡ the token count — same
    integers; the ``lexical_index._doc_side`` convention), so the
    token explode runs ONCE per tf reference instead of once per
    statistic (round 16, guide §2.3)."""
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    tf = tok.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    return tf.join(dl, "id")


def bm25_topk(
    queries: DataFrame,
    docs: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: float | int | None = DF_CAP_DEFAULT,
) -> DataFrame:
    """(query_id, doc_id, bm25_score, bm25_rank): Okapi BM25 with the
    standard smoothed IDF ``ln(1 + (N - df + 0.5)/(df + 0.5))`` and
    length normalization ``tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))``.

    ``df_cap`` (ON by default) drops stopword-like terms — their BM25
    idf is ~0 at df ≈ N/2 anyway — before the postings join, bounding
    the hot-key explosion; ``None`` disables.

    Determinism across engines: each per-(doc, term) contribution is
    rounded to 6 dp and cast to DECIMAL before the sum, so the total
    is exact and order-free — the same convention as the TF-IDF path
    (a bare float sum would hash-drift between Spark and DuckDB).

    Same inverted-index shuffle shape as :func:`lexical_topk`; the tf/
    dl/idf statistics build once per corpus and are reusable across
    query batches."""
    tfs = doc_term_freqs(docs, id_col, text_col)
    stats = docs.agg(F.count("*").alias("n"))
    avg = tfs.select("id", "dl").distinct().agg(
        F.avg("dl").alias("avgdl")
    )
    df_counts = tfs.groupBy("term").agg(F.countDistinct("id").alias("df"))
    idf = _df_cap_filter(
        df_counts.crossJoin(F.broadcast(stats)), df_cap
    ).select("term", bm25_idf().alias("idf"))
    qterms = doc_terms(
        queries.select(F.col(query_id_col), F.col(query_text_col)),
        query_id_col,
        query_text_col,
    ).withColumnRenamed("id", "query_id")
    contrib = (
        qterms.join(idf, "term")
        .join(tfs, "term")
        .crossJoin(F.broadcast(avg))
        .select(
            "query_id",
            F.col("id").alias("doc_id"),
            bm25_weight(F.col("idf"), k1, b).alias("c"),
        )
    )
    scores = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("c").alias("bm25_score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25_score").desc(), F.col("doc_id").asc()
    )
    return (
        scores.withColumn("bm25_rank", F.row_number().over(w))
        .filter(F.col("bm25_rank") <= k)
    )


def rrf_fuse(
    lex: DataFrame,
    vec: DataFrame,
    k: int = 5,
    k0: int = 60,
) -> DataFrame:
    """Reciprocal Rank Fusion of a lexical and a vector rank list
    (columns: query_id, doc_id, lex_rank / vec_rank): ``fused =
    Σ 1/(k0 + rank)`` over the lists a doc appears in, per-query top-k
    by (fused desc, doc_id asc). Integer-rank arithmetic → the fused
    double is bit-identical across engines."""
    l = lex.select("query_id", "doc_id", "lex_rank")
    v = vec.select("query_id", "doc_id", "vec_rank")
    j = l.join(v, ["query_id", "doc_id"], "full_outer")
    fused = (
        F.coalesce(1.0 / (F.lit(k0) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(k0) + F.col("vec_rank")), F.lit(0.0))
    ).alias("fused")
    w = Window.partitionBy("query_id").orderBy(
        F.col("fused").desc(), F.col("doc_id").asc()
    )
    return (
        j.select("query_id", "doc_id", "lex_rank", "vec_rank", fused)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def prf_expansion_terms(
    queries: DataFrame,
    docs: DataFrame,
    fb_docs: int = 5,
    fb_terms: int = 3,
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: float | int | None = DF_CAP_DEFAULT,
) -> DataFrame:
    """Pseudo-relevance-feedback expansion terms (the RM3 idea in its
    deterministic TF-IDF form): run the lexical stage once, treat each
    query's top ``fb_docs`` as pseudo-relevant, and nominate the
    ``fb_terms`` highest-weight NEW terms from those docs — weight =
    Σ idf over the feedback docs containing the term (so a term
    earns weight by being both rare and recurrent in the feedback
    set). Terms already in the query are excluded (they expand
    nothing). Ties break (weight desc, term asc).

    Output: (query_id, term, weight, rn), rn <= fb_terms. Scale
    shape: stage 1 is the ordinary inverted-index pass; the expansion
    aggregation touches only fb_docs × |doc terms| rows per query —
    feedback-set-sized, not corpus-sized.
    """
    if fb_docs <= 0 or fb_terms <= 0:
        raise ValueError(
            f"fb_docs/fb_terms must be positive, got {fb_docs}/{fb_terms}"
        )
    dterms, idf, qterms = _lex_frames(
        queries, docs, query_id_col, query_text_col, id_col, text_col, df_cap
    )
    return _prf_terms_from(qterms, dterms, idf, fb_docs, fb_terms)


def _prf_terms_from(
    qterms: DataFrame,
    dterms: DataFrame,
    idf: DataFrame,
    fb_docs: int,
    fb_terms: int,
) -> DataFrame:
    """Expansion terms from prebuilt frames — shared by the standalone
    PRF-terms entry point and the two-pass PRF retrieval so the corpus
    explode and idf table build once (round 16, guide §1.2: the r15
    form re-derived all three frames in each nested call)."""
    fb = _lexical_topk_from(qterms, dterms, idf, fb_docs).select(
        "query_id", "doc_id"
    )
    cand = (
        fb.join(dterms, fb["doc_id"] == dterms["id"])
        .join(idf, "term")
        .join(qterms, ["query_id", "term"], "left_anti")
        .groupBy("query_id", "term")
        .agg(F.sum("idf").alias("weight"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("weight").desc(), F.col("term").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= fb_terms)
    )


def lexical_topk_prf(
    queries: DataFrame,
    docs: DataFrame,
    k: int = 10,
    fb_docs: int = 5,
    fb_terms: int = 3,
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: float | int | None = DF_CAP_DEFAULT,
) -> DataFrame:
    """Lexical retrieval with PRF expansion: score each doc by summed
    idf over its overlap with the EXPANDED term set (original query
    terms ∪ :func:`prf_expansion_terms`) — the classic two-pass
    recall lift for vocabulary-mismatch queries, fully deterministic
    and SQL-mirrorable. Same inverted-index shuffle shape as
    :func:`lexical_topk`, run twice (feedback pass + final pass) —
    the dterms/idf/qterms frames build ONCE and are shared by both
    passes (round 16; the r15 form re-derived them three times via
    the nested calls)."""
    if fb_docs <= 0 or fb_terms <= 0:
        raise ValueError(
            f"fb_docs/fb_terms must be positive, got {fb_docs}/{fb_terms}"
        )
    dterms, idf, qterms = _lex_frames(
        queries, docs, query_id_col, query_text_col, id_col, text_col, df_cap
    )
    exp = _prf_terms_from(qterms, dterms, idf, fb_docs, fb_terms).select(
        "query_id", "term"
    )
    q2 = qterms.select("query_id", "term").unionByName(exp).distinct()
    return _lexical_topk_from(q2, dterms, idf, k)
