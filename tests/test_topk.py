import numpy as np
import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
    clamp_top_k,
    topk_search,
    topk_search_gemm,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    df.cache().count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, mat


def _np_topk(ids, mat, q, k):
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))[:k]
    return [(int(ids[i]), sims[i]) for i in order]


def test_topk_matches_numpy(spark, emb, emb_np):
    ids, mat = emb_np
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = topk_search(queries, emb, k=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        q = mat[list(ids).index(qid)]
        exp = _np_topk(ids, mat, q, 4)
        assert [r["vec_id"] for r in rows] == [e[0] for e in exp]
        for r, e in zip(rows, exp):
            assert r["score"] == pytest.approx(e[1], abs=1e-9)


def test_self_match_rank1(emb):
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    top1 = topk_search(queries, emb, k=1).collect()
    assert len(top1) == 10
    for r in top1:
        assert r["vec_id"] == r["query_id"]
        assert r["score"] == pytest.approx(1.0, abs=1e-9)


def test_clamp():
    assert clamp_top_k(0) == 1
    assert clamp_top_k(5) == 5
    assert clamp_top_k(100) == 20


def test_pre_filter_restricts_matches(emb):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = topk_search(queries, emb, k=5, pre_filter=F.col("label") == 2)
    labels = (
        got.join(emb.select("vec_id", "label"), "vec_id")
        .select("label")
        .distinct()
        .collect()
    )
    assert {r["label"] for r in labels} == {2}


def test_per_query_filter(emb):
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        (F.col("vec_id") % 2).cast("int").alias("want_label"),
    )
    got = topk_search(
        queries,
        emb,
        k=3,
        per_query_filter=F.col("label") == F.col("want_label"),
        query_extra_cols=("want_label",),
    )
    joined = got.join(emb.select("vec_id", "label"), "vec_id").collect()
    for r in joined:
        assert r["label"] == r["query_id"] % 2


def test_euclidean_orders_ascending(emb):
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    rows = sorted(
        topk_search(queries, emb, k=5, metric="euclidean").collect(),
        key=lambda r: r["rank"],
    )
    assert rows[0]["vec_id"] == 0  # self at distance 0
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores)


def test_gemm_zero_norm_index_rows_never_win(spark):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        topk_search_gemm,
    )

    # 6 unit-ish vectors + one all-zero vector: under the old NaN
    # behavior the zero row's 0/0 score sorted ABOVE every real score
    rows = [(i, [1.0 + i, float(i % 3), 0.5]) for i in range(6)] + [(99, [0.0, 0.0, 0.0])]
    idx = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = spark.createDataFrame([(0, [1.0, 0.0, 0.5])], "query_id long, qvec array<float>")
    out = topk_search_gemm(q, idx, k=5, metric="cosine").collect()
    assert len(out) == 5
    assert all(r["vec_id"] != 99 for r in out)
    assert all(np.isfinite(r["score"]) for r in out)


def test_gemm_query_bound_raises(spark, emb, monkeypatch):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        topk_search_gemm,
    )

    monkeypatch.setattr(ann, "MAX_GEMM_QUERIES", 50)
    q = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    with pytest.raises(ValueError, match="exceeds 50"):
        topk_search_gemm(q, emb, k=5)


@pytest.mark.parametrize("metric", ["cosine", "euclidean", "dotproduct"])
def test_gemm_scan_matches_expression_reference(emb, metric):
    """Same (query_id, rank) → vec_id as the bit-exact expression scan,
    scores equal to 1e-9. Euclidean compares squared distances: the
    GEMM expands |b-q|² = |b|² - 2b·q + |q|², whose ~1e-16 cancellation
    error becomes ~1e-8 after the sqrt at a self match (distance 0)."""
    q = emb.filter(F.col("vec_id") % 50 == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    ref = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["score"])
        for r in topk_search(q, emb, k=6, metric=metric).collect()
    }
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["score"])
        for r in topk_search_gemm(q, emb, k=6, metric=metric).collect()
    }
    assert len(ref) == 60
    assert set(got) == set(ref)
    sq = (lambda x: x * x) if metric == "euclidean" else (lambda x: x)
    for key, (vid, score) in ref.items():
        assert got[key][0] == vid
        assert sq(got[key][1]) == pytest.approx(sq(score), abs=1e-9)


def _mmr_reference(ids, rel, vecs, k, lam):
    """Per-row Python greedy MMR (independent of the numpy kernel)."""
    import math

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    avail = dict(zip(ids, zip(rel, vecs)))
    picked, out = [], []
    for rank in range(1, min(k, len(ids)) + 1):
        best = None
        for i, (r, v) in sorted(avail.items()):
            pen = max((cos(v, pv) for pv in picked), default=0.0)
            m = lam * r - (1 - lam) * pen
            if best is None or m > best[1]:
                best = (i, m)
        i, m = best
        out.append((i, rank, m))
        picked.append(avail.pop(i)[1])
    return out


def test_mmr_matches_python_reference(spark):
    import random

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        mmr_rerank,
    )

    rng = random.Random(7)
    rows, expect = [], {}
    for q in range(5):
        n = rng.randint(4, 12)
        ids = list(range(100, 100 + n))
        vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in ids]
        rel = sorted((rng.uniform(0, 1) for _ in ids), reverse=True)
        rows += [(q, i, float(r), [float(x) for x in v]) for i, r, v in zip(ids, rel, vecs)]
        expect[q] = _mmr_reference(ids, rel, vecs, k=4, lam=0.6)
    df = spark.createDataFrame(
        rows, "query_id long, vec_id long, score double, embedding array<double>"
    )
    got = mmr_rerank(df, k=4, lam=0.6).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["mmr_rank"], r["mmr"])
        )
    for q, exp in expect.items():
        gq = sorted(by_q[q], key=lambda t: t[1])
        assert [(i, rk) for i, rk, _ in gq] == [(i, rk) for i, rk, _ in exp]
        for (_, _, a), (_, _, b) in zip(gq, exp):
            assert abs(a - b) < 1e-9


def test_mmr_lam1_is_relevance_order(spark):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        mmr_rerank,
    )

    df = spark.createDataFrame(
        [(0, i, 1.0 - i * 0.1, [1.0, 0.0]) for i in range(6)],
        "query_id long, vec_id long, score double, embedding array<double>",
    )
    got = sorted(
        mmr_rerank(df, k=3, lam=1.0).collect(), key=lambda r: r["mmr_rank"]
    )
    assert [r["vec_id"] for r in got] == [0, 1, 2]


def test_mmr_overflow_guard(spark):
    import pytest as pt

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        mmr_rerank,
    )

    df = spark.createDataFrame(
        [(0, i, 0.5, [1.0, 0.0]) for i in range(10)],
        "query_id long, vec_id long, score double, embedding array<double>",
    )
    with pt.raises(Exception, match="max_candidates"):
        mmr_rerank(df, k=2, lam=0.5, max_candidates=5).collect()


@pytest.mark.parametrize("metric", ["cosine", "euclidean"])
def test_numpy_window_equals_rank_top_k(spark, metric):
    """``rank_top_k_arrays`` is ``rank_top_k``'s window on the driver:
    the same rows and ranks, with score ties to the lowest vec_id, -0.0
    equal to 0.0 and NaN sorting as the largest value."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        rank_top_k,
        rank_top_k_arrays,
    )

    nan = float("nan")
    rows = [
        (0, 5, 0.5), (0, 3, 0.5), (0, 9, nan), (0, 1, -0.0), (0, 2, 0.0),
        (0, 7, nan), (0, 4, 2.0), (1, 8, 1.0), (1, 6, nan), (2, 11, 3.0),
    ]
    df = spark.createDataFrame(rows, "query_id long, vec_id long, score double")
    want = [
        (r["query_id"], r["rank"], r["vec_id"])
        for r in rank_top_k(df, 4, metric).orderBy("query_id", "rank").collect()
    ]
    q = np.array([r[0] for r in rows], dtype=np.int64)
    v = np.array([r[1] for r in rows], dtype=np.int64)
    s = np.array([r[2] for r in rows], dtype=np.float64)
    idx, rank = rank_top_k_arrays(q, v, s, 4, metric)
    assert list(zip(q[idx].tolist(), rank.tolist(), v[idx].tolist())) == want
