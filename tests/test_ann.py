"""IVF ANN operator tests (operators.ann)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
    similarity_expr,
    smaller_is_better,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import ann
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
    rank_top_k,
    topk_search,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def cents(emb):
    return ann.seed_centroids(emb, 16)


def _assigned(emb, cents, metric="cosine"):
    """The fixture with its ``centroid_id``, assigned in the plan."""
    return ann.assign_centroids_gemm(emb, cents, metric)


def _queries(emb, n=8):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


def test_seed_centroids_deterministic(emb, cents):
    again = ann.seed_centroids(emb, 16)
    assert [c for c, _ in cents] == [c for c, _ in again] == list(range(16))
    assert cents[3][1] == again[3][1]


def _np_matrix(emb):
    """(ids, vectors) of the fixture, in ascending id order."""
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    return ids, np.array([r["embedding"] for r in rows], dtype=np.float64)


def _np_best(A, B, metric, n):
    """Per row of ``A``: the column indices of its ``n`` best rows of
    ``B`` under ``metric`` and their scores, ties to the lowest index
    (a stable sort on the metric's key)."""
    if metric == "cosine":
        A = A / np.linalg.norm(A, axis=1, keepdims=True)
        B = B / np.linalg.norm(B, axis=1, keepdims=True)
    if metric == "euclidean":
        S = np.linalg.norm(A[:, None, :] - B[None, :, :], axis=2)
    else:
        S = A @ B.T
    best = np.argsort(S if metric == "euclidean" else -S, axis=1, kind="stable")[:, :n]
    return best, np.take_along_axis(S, best, axis=1)


def test_assignment_is_nearest(emb, cents):
    """Every row of the fixture lands in its nearest centroid, the
    lowest cid winning ties, in all three metrics (numpy reference).
    Copies of four centroids under higher cids, in a reversed list,
    tie with their originals and must change nothing."""
    ids, V = _np_matrix(emb)
    cids = np.array([c for c, _ in cents])
    C = np.array([v for _, v in cents], dtype=np.float64)
    copies = list(reversed(cents + [(1000 + c, v) for c, v in cents[:4]]))

    def assigned(centroids, metric):
        return {
            r["vec_id"]: r["centroid_id"]
            for r in ann.assign_centroids_gemm(emb, centroids, metric=metric)
            .select("vec_id", "centroid_id")
            .collect()
        }

    for metric in ("cosine", "euclidean", "dotproduct"):
        best, _ = _np_best(V, C, metric, 1)
        want = dict(zip(ids.tolist(), cids[best[:, 0]].tolist()))
        assert assigned(cents, metric) == want, metric
    assert assigned(copies, "dotproduct") == want


def test_ivf_self_match_rank1(emb, cents):
    """A query vector that IS in the index always lands in its own
    best bucket, so IVF must return it at rank 1 (cosine 1.0)."""
    out = ann.ivf_topk_gemm(
        _queries(emb), _assigned(emb, cents), cents, k=1, nprobe=2
    ).collect()
    assert len(out) == 8
    for r in out:
        assert r["query_id"] == r["vec_id"]
        assert abs(r["score"] - 1.0) < 1e-9


def test_ivf_recall_vs_exact(emb, cents):
    k = 5
    q = _queries(emb)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in topk_search(q, emb, k=k, metric="cosine").collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ann.ivf_topk_gemm(q, _assigned(emb, cents), cents, k=k, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"recall@{k} too low: {recall}"
    # probing everything == exact
    full = {
        (r["query_id"], r["vec_id"])
        for r in ann.ivf_topk_gemm(q, _assigned(emb, cents), cents, k=k, nprobe=16).collect()
    }
    assert full == exact


def test_lloyd_refine_improves_quantization(emb, cents):
    def mean_best_dist(centroids):
        a = ann.assign_centroids_gemm(emb, centroids, metric="euclidean")
        cmap = {cid: np.array(v) for cid, v in centroids}
        tot, n = 0.0, 0
        for r in a.collect():
            v = np.array(r["embedding"], dtype=np.float64)
            tot += float(np.linalg.norm(v - cmap[r["centroid_id"]]))
            n += 1
        return tot / n

    refined = ann.lloyd_refine(emb, cents, iters=2, metric="euclidean")
    assert [c for c, _ in refined] == [c for c, _ in cents]
    assert mean_best_dist(refined) <= mean_best_dist(cents) + 1e-9


def test_lloyd_refine_high_dim_fast(spark):
    # production dims (1024-3072) must not fan out per-dimension
    # aggregate expressions; the posexplode form finishes in seconds
    import time

    dim, n, k = 1024, 2000, 8
    rng = np.random.default_rng(7)
    pdf_rows = [
        (i, rng.standard_normal(dim).astype(np.float32).tolist()) for i in range(n)
    ]
    df = spark.createDataFrame(pdf_rows, "vec_id long, embedding array<float>")
    seeds = ann.seed_centroids(df, k)
    t0 = time.time()
    refined = ann.lloyd_refine(df, seeds, iters=1, metric="euclidean")
    assert time.time() - t0 < 60
    assert len(refined) == k and all(len(v) == dim for _, v in refined)
    # means actually moved off the seeds and are finite
    assert all(np.isfinite(v).all() for _, v in refined)
    assert any(
        not np.allclose(sv, rv) for (_, sv), (_, rv) in zip(seeds, refined)
    )


def test_write_ivf_index_prunes_partitions(spark, emb, cents, tmp_path):
    path = str(tmp_path / "ivf")
    ann.write_ivf_index(emb, path, cents, metric="cosine")
    back = spark.read.parquet(path)
    assert back.count() == emb.count()
    pruned = back.filter(F.col("centroid_id") == cents[0][0])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "centroid_id" in plan


def _expr_best_centroids(vec, centroids, metric, n):
    """Spark SQL expression reference: the ``n`` best centroid ids for
    ``vec``, scored by ``similarity_expr`` over a literal centroid
    array and sorted in the metric's order, ties to the lower cid."""
    carr = F.array(*[
        F.struct(F.lit(cid).cast("int").alias("cid"),
                 F.lit(v).cast("array<double>").alias("cvec"))
        for cid, v in centroids
    ])

    def keyed(c):
        s = similarity_expr(metric, vec, c["cvec"])
        key = s if smaller_is_better(metric) else -s
        return F.struct(key.alias("key"), c["cid"].alias("cid"))

    ranked = F.array_sort(F.transform(carr, keyed))
    return F.transform(F.slice(ranked, 1, n), lambda s: s["cid"])


def _expr_ivf_topk(queries, layout, centroids, k, nprobe, metric):
    """Spark SQL expression reference for the IVF probe: each query
    joins the rows of its ``nprobe`` best lists, scored row by row with
    ``similarity_expr`` and ranked by the shared top-k window."""
    qv = F.col("qvec").cast("array<double>")
    probes = queries.select(
        "query_id",
        qv.alias("__qvec"),
        F.explode(_expr_best_centroids(qv, centroids, metric, nprobe)).alias("centroid_id"),
    )
    scored = layout.join(probes, "centroid_id").select(
        "query_id",
        "vec_id",
        similarity_expr(metric, F.col("__qvec"), F.col("embedding")).alias("score"),
    )
    return rank_top_k(scored, k, metric)


def test_gemm_assignment_agrees_with_expression(emb, cents):
    v = F.col("embedding").cast("array<double>")
    a = {
        r["vec_id"]: r["centroid_id"]
        for r in emb.select(
            "vec_id", _expr_best_centroids(v, cents, "cosine", 1)[0].alias("centroid_id")
        ).collect()
    }
    b = {
        r["vec_id"]: r["centroid_id"]
        for r in ann.assign_centroids_gemm(emb, cents, metric="cosine")
        .select("vec_id", "centroid_id")
        .collect()
    }
    assert a == b


def test_ivf_gemm_probe_agrees_with_expression(spark, emb, cents, tmp_path):
    path = str(tmp_path / "ivf-gemm")
    ann.write_ivf_index(emb, path, cents, metric="cosine")
    layout = spark.read.parquet(path)
    q = _queries(emb)
    expr = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in _expr_ivf_topk(q, layout, cents, k=5, nprobe=4, metric="cosine").collect()
    }
    gemm = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ann.ivf_topk_gemm(q, layout, cents, k=5, nprobe=4).collect()
    }
    assert expr == gemm


@pytest.mark.parametrize("metric", ["cosine", "euclidean", "dotproduct"])
def test_ivf_gemm_all_metrics_agree_with_expression(spark, emb, cents, tmp_path, metric):
    path = str(tmp_path / f"ivf-{metric}")
    ann.write_ivf_index(emb, path, cents, metric=metric)
    layout = spark.read.parquet(path)
    q = _queries(emb)
    expr = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 6))
        for r in _expr_ivf_topk(q, layout, cents, k=5, nprobe=4, metric=metric).collect()
    }
    gemm = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 6))
        for r in ann.ivf_topk_gemm(
            q, layout, cents, k=5, nprobe=4, metric=metric
        ).collect()
    }
    assert expr == gemm


@pytest.mark.parametrize("metric", ["cosine", "euclidean", "dotproduct"])
def test_ivf_gemm_matches_numpy_reference(emb, cents, metric):
    """Probing every list is the exact scan: per query, the k best rows
    by (score, vec_id), against a numpy reference. Euclidean compares
    squared distances: the GEMM's expanded |b|² − 2b·q + |q|² leaves
    ~1e-8 after the sqrt at a self match."""
    k = 5
    ids, V = _np_matrix(emb)
    qids, Q = ids[:8], V[:8]
    best, scores = _np_best(Q, V, metric, k)
    want = {
        (int(qids[i]), r + 1): (int(ids[best[i, r]]), float(scores[i, r]))
        for i in range(len(qids))
        for r in range(k)
    }
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["score"])
        for r in ann.ivf_topk_gemm(
            _queries(emb), _assigned(emb, cents, metric), cents, k=k,
            nprobe=len(cents), metric=metric,
        ).collect()
    }
    assert got.keys() == want.keys()
    sq = (lambda x: x * x) if metric == "euclidean" else (lambda x: x)
    for key, (vid, score) in want.items():
        assert got[key][0] == vid, key
        assert abs(sq(got[key][1]) - sq(score)) <= 1e-9, key


def test_int8_layout_smaller_and_high_recall(spark, emb, cents, tmp_path):
    import os

    def disk_bytes(p):
        # data files only: the sidecar (_ivf_meta.json) now carries the
        # full centroid list, a constant-size cost shared by both
        # layouts that would wash out the embedding-byte ratio under test
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        )

    full, comp = str(tmp_path / "ivf-f"), str(tmp_path / "ivf-c")
    ann.write_ivf_index(emb, full, cents, metric="cosine")
    ann.write_ivf_index(emb, comp, cents, metric="cosine", compression="int8")
    # embedding bytes shrink ~4x; whole-file ratio is looser because of
    # the shared id/metadata columns and parquet framing
    assert disk_bytes(comp) < 0.55 * disk_bytes(full)

    q = _queries(emb)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in ann.ivf_topk_gemm(
            q, spark.read.parquet(full), cents, k=5, nprobe=4
        ).collect()
    }
    quant = {
        (r["query_id"], r["vec_id"])
        for r in ann.ivf_topk_gemm(
            q, spark.read.parquet(comp), cents, k=5, nprobe=4
        ).collect()
    }
    assert len(quant & exact) / len(exact) >= 0.9

    # full-precision rerank over quantized candidates: at least as
    # good as the raw quantized probe, and the kept scores are exact
    # (match the uncompressed probe's scores for shared pairs)
    rr = ann.ivf_topk_rerank(
        q, spark.read.parquet(comp), emb, cents, k=5, nprobe=4, expand=4
    ).collect()
    rset = {(r["query_id"], r["vec_id"]) for r in rr}
    assert len(rset & exact) / len(exact) >= len(quant & exact) / len(exact)
    full_scores = {
        (r["query_id"], r["vec_id"]): round(r["score"], 6)
        for r in ann.ivf_topk_gemm(
            q, spark.read.parquet(full), cents, k=20, nprobe=4
        ).collect()
    }
    for r in rr:
        key = (r["query_id"], r["vec_id"])
        if key in full_scores:
            assert abs(round(r["score"], 6) - full_scores[key]) <= 1e-6


def test_gemm_query_bound_raises(emb, cents, monkeypatch):
    monkeypatch.setattr(ann, "MAX_GEMM_QUERIES", 100)
    q = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    with pytest.raises(ValueError, match="exceeds 100"):
        ann.ivf_topk_gemm(q, emb, cents)


def test_gemm_zero_norm_query_raises(spark, emb, cents):
    q = spark.createDataFrame(
        [(0, [0.0] * 64)], "query_id long, qvec array<float>"
    )
    with pytest.raises(ValueError, match="zero-norm query"):
        ann.ivf_topk_gemm(q, emb, cents, metric="cosine")


def test_split_skewed_centroids_bounds_partitions(spark):
    """A deliberately skewed corpus (84% of vectors in one tight blob)
    must end with every IVF cell under the size bound after splitting,
    with recall intact (VERDICT r2 #3)."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim, n_blob, n_rest = 16, 420, 80
    center = rng.normal(size=dim)
    blob = center[None, :] + 0.05 * rng.normal(size=(n_blob, dim))
    rest = rng.normal(size=(n_rest, dim)) * 3.0
    vecs = np.vstack([blob, rest])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    cents = ann.seed_centroids(df, 8)
    bound = 100

    assigned0 = ann.assign_centroids_gemm(df, cents, "cosine")
    sizes0 = [
        r["n"]
        for r in assigned0.groupBy("centroid_id").agg(F.count("*").alias("n")).collect()
    ]
    assert max(sizes0) > bound  # the skew is real before splitting

    split = ann.split_skewed_centroids(df, cents, max_rows=bound)
    assert len(split) > len(cents)
    assert split == sorted(split)  # cid-ordered contract for GEMM argmax
    assert len({cid for cid, _ in split}) == len(split)  # ids unique
    assigned1 = ann.assign_centroids_gemm(df, split, "cosine")
    sizes1 = {
        r["centroid_id"]: r["n"]
        for r in assigned1.groupBy("centroid_id").agg(F.count("*").alias("n")).collect()
    }
    assert max(sizes1.values()) <= bound
    assert sum(sizes1.values()) == len(vecs)  # no row lost or duplicated

    # recall with the split centroids stays healthy (nprobe scaled with
    # the split factor)
    q = df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    k = 5
    ivf = ann.ivf_topk_gemm(
        q, ann.assign_centroids_gemm(df, split, "cosine"), split, k=k,
        nprobe=8, metric="cosine",
    )
    exact = topk_search(q, df, k=k, metric="cosine")
    got = {(r["query_id"], r["vec_id"]) for r in ivf.collect()}
    want = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    recall = len(got & want) / len(want)
    assert recall >= 0.8, f"recall collapsed after split: {recall}"


def test_split_skewed_centroids_warns_when_bound_unreachable(spark):
    """420 identical vectors can never be split below a 100-row bound
    (every sub-seed is the same point, all rows follow the lowest-cid
    tiebreak) — the call must WARN, not return silently (ADVICE r3 #3)."""
    df = spark.createDataFrame(
        [(i, [1.0] * 8) for i in range(420)] + [(1000, [-1.0] * 8)],
        "vec_id long, embedding array<float>",
    )
    cents = ann.seed_centroids(df, 2)
    with pytest.warns(RuntimeWarning, match="still exceeded"):
        split = ann.split_skewed_centroids(df, cents, max_rows=100, max_rounds=2)
    assert len({cid for cid, _ in split}) == len(split)
