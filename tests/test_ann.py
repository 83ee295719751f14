"""IVF ANN operator tests (operators.ann)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import ann
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
    topk_search,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def cents(emb):
    return ann.seed_centroids(emb, 16)


def _queries(emb, n=8):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


def test_seed_centroids_deterministic(emb, cents):
    again = ann.seed_centroids(emb, 16)
    assert [c for c, _ in cents] == [c for c, _ in again] == list(range(16))
    assert cents[3][1] == again[3][1]


def test_assignment_is_nearest(emb, cents):
    rows = ann.assign_centroids(emb, cents, metric="cosine").collect()
    cmat = np.array([v for _, v in cents])
    cnorm = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
    for r in rows[:50]:
        v = np.array(r["embedding"], dtype=np.float64)
        sims = cnorm @ (v / np.linalg.norm(v))
        best = int(np.argmax(sims))
        assert r["centroid_id"] == cents[best][0]


def test_ivf_self_match_rank1(emb, cents):
    """A query vector that IS in the index always lands in its own
    best bucket, so IVF must return it at rank 1 (cosine 1.0)."""
    out = ann.ivf_topk(_queries(emb), emb, cents, k=1, nprobe=2).collect()
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
        for r in ann.ivf_topk(q, emb, cents, k=k, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"recall@{k} too low: {recall}"
    # probing everything == exact
    full = {
        (r["query_id"], r["vec_id"])
        for r in ann.ivf_topk(q, emb, cents, k=k, nprobe=16).collect()
    }
    assert full == exact


def test_lloyd_refine_improves_quantization(emb, cents):
    def mean_best_dist(centroids):
        a = ann.assign_centroids(emb, centroids, metric="euclidean")
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
    # probing the written layout gives the same result as on-the-fly
    q = _queries(emb)
    on_disk = ann.ivf_topk(q, back, cents, k=5, nprobe=4, assigned=True)
    on_fly = ann.ivf_topk(q, emb, cents, k=5, nprobe=4)
    assert sorted(map(tuple, on_disk.collect())) == sorted(map(tuple, on_fly.collect()))


def test_gemm_assignment_agrees_with_expression(emb, cents):
    a = {
        r["vec_id"]: r["centroid_id"]
        for r in ann.assign_centroids(emb, cents, metric="cosine")
        .select("vec_id", "centroid_id")
        .collect()
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
        for r in ann.ivf_topk(q, layout, cents, k=5, nprobe=4, assigned=True).collect()
    }
    gemm = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ann.ivf_topk_gemm(q, layout, cents, k=5, nprobe=4).collect()
    }
    assert expr == gemm


@pytest.mark.parametrize("metric", ["cosine", "euclidean", "dotproduct"])
def test_ivf_gemm_all_metrics_agree_with_expression(spark, emb, cents, tmp_path, metric):
    path = str(tmp_path / f"ivf-{metric}")
    ann.write_ivf_index(emb, path, cents, metric=metric, fast=False)
    layout = spark.read.parquet(path)
    q = _queries(emb)
    expr = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 6))
        for r in ann.ivf_topk(
            q, layout, cents, k=5, nprobe=4, metric=metric, assigned=True
        ).collect()
    }
    gemm = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 6))
        for r in ann.ivf_topk_gemm(
            q, layout, cents, k=5, nprobe=4, metric=metric
        ).collect()
    }
    assert expr == gemm


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
    ann.write_ivf_index(emb, full, cents, metric="cosine", fast=False)
    ann.write_ivf_index(
        emb, comp, cents, metric="cosine", fast=False, compression="int8"
    )
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
    ivf = ann.ivf_topk(q, df, split, k=k, nprobe=8, metric="cosine")
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
