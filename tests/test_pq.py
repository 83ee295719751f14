"""operators/pq: product quantization — training determinism, encode
semantics, ADC probe correctness, rerank recall recovery, layout size."""

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import pq

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _queries(emb):
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


def test_codebooks_deterministic_across_partitionings(spark, emb):
    b1 = pq.train_pq_codebooks(emb.repartition(2), m=8, k=16)
    b2 = pq.train_pq_codebooks(emb.repartition(7), m=8, k=16)
    assert b1 == b2


def test_encode_identity_on_codebook_vectors(spark):
    """Vectors that ARE codebook entries must encode to their own code
    (distance 0 beats everything)."""
    books = [[[0.0, 0.0], [1.0, 1.0]], [[2.0, 2.0], [3.0, 3.0]]]
    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 3.0, 3.0]), (1, [1.0, 1.0, 2.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r["codes"] for r in pq.pq_encode(df, books).collect()}
    assert got[0] == [0, 1]
    assert got[1] == [1, 0]


def test_adc_matches_numpy_reference(spark, emb):
    """ADC distances must equal a transparent numpy computation of
    sum-of-subspace |q_j - codebook[codes_j]|^2 for every (q, vec)."""
    import numpy as np

    books = pq.train_pq_codebooks(emb, m=8, k=16)
    enc = {r["vec_id"]: r["codes"] for r in pq.pq_encode(emb, books).collect()}
    vecs = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 8).collect()
    }
    got = {
        (r["query_id"], r["vec_id"]): r["adc_dist"]
        for r in pq.pq_topk(_queries(emb), pq.pq_encode(emb, books), books, k=5).collect()
    }
    B = [np.array(b) for b in books]
    sub = B[0].shape[1]
    for (qid, vid), dist in got.items():
        q = np.array(vecs[qid])
        want = sum(
            ((q[j * sub : (j + 1) * sub] - B[j][enc[vid][j]]) ** 2).sum()
            for j in range(len(B))
        )
        assert dist == pytest.approx(want, rel=1e-9), (qid, vid)


def test_rerank_recovers_exact_topk_recall(spark, emb):
    """PQ/ADC over-fetch + full-precision rerank: recall@5 vs exact
    euclidean must be high; raw ADC recall is lower (that's the point
    of the rerank stage)."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        topk_search,
    )

    books = pq.train_pq_codebooks(emb, m=16, k=64)
    enc = pq.pq_encode(emb, books).localCheckpoint()
    q = _queries(emb)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in topk_search(q, emb, k=5, metric="euclidean").collect()
    }
    rer = {
        (r["query_id"], r["vec_id"])
        for r in pq.pq_topk_rerank(
            q, enc, emb, books, k=5, fetch_k=50, metric="euclidean"
        ).collect()
    }
    recall = len(rer & exact) / len(exact)
    assert recall >= 0.95, f"rerank recall {recall}"
    raw = {
        (r["query_id"], r["vec_id"])
        for r in pq.pq_topk(q, enc, books, k=5).collect()
    }
    raw_recall = len(raw & exact) / len(exact)
    assert raw_recall <= recall  # rerank never hurts


def test_pq_layout_is_much_smaller(spark, emb, tmp_path):
    import os

    def parquet_bytes(p):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        )

    books = pq.train_pq_codebooks(emb, m=8, k=16)
    full = str(tmp_path / "full")
    emb.select("vec_id", "embedding").write.parquet(full)
    coded = str(tmp_path / "pq")
    pq.write_pq_index(emb, coded, books)
    assert pq.load_pq_codebooks(coded) == books
    # 64 float32 (256 B) -> 8 codes; parquet framing eats some of it
    assert parquet_bytes(coded) < 0.35 * parquet_bytes(full)


def test_dim_mismatch_rejected(spark, emb):
    books = pq.train_pq_codebooks(emb, m=8, k=16)
    bad_q = spark.createDataFrame(
        [(0, [1.0] * 32)], "query_id long, qvec array<float>"
    )
    with pytest.raises(ValueError, match="codebook dim"):
        pq.pq_topk(bad_q, pq.pq_encode(emb, books), books)


def test_ivfpq_full_probe_equals_flat_pq(spark, emb, tmp_path):
    """nprobe = all centroids: the IVFPQ probe sees every code, so the
    rerank result must be EXACTLY the flat PQ rerank's."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
    )

    books = pq.train_pq_codebooks(emb, m=16, k=64)
    cents = ann.seed_centroids(emb, 16)
    path = str(tmp_path / "ivfpq")
    pq.write_ivfpq_index(emb, path, cents, books)
    layout = spark.read.parquet(path)
    q = _queries(emb)
    flat = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in pq.pq_topk_rerank(
            q, pq.pq_encode(emb, books), emb, books, k=5, fetch_k=50
        ).collect()
    }
    ivf = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in pq.ivfpq_topk_rerank(
            q, layout, cents, books, k=5, nprobe=16, fetch_k=50
        ).collect()
    }
    assert ivf == flat


def test_ivfpq_pruned_probe_recall_and_partition_filter(spark, emb, tmp_path):
    """nprobe < k_centroids: only probed bucket directories are read
    (PartitionFilters on centroid_id) and rerank recall stays high."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        topk_search,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.plans.inspect import (
        has_partition_filter,
    )

    books = pq.train_pq_codebooks(emb, m=16, k=64)
    cents = ann.seed_centroids(emb, 16)
    path = str(tmp_path / "ivfpq")
    pq.write_ivfpq_index(emb, path, cents, books)
    layout = spark.read.parquet(path)
    q = _queries(emb)
    out = pq.ivfpq_topk_rerank(
        q, layout, cents, books, k=5, nprobe=8, fetch_k=50
    )
    assert has_partition_filter(out, "centroid_id")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in topk_search(q, emb, k=5, metric="euclidean").collect()
    }
    got = {(r["query_id"], r["vec_id"]) for r in out.collect()}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, f"ivfpq recall {recall}"


def test_ivfpq_fetch_below_k_still_returns_k(spark, emb, tmp_path):
    """fetch_k < k is raised to k: every query gets exactly k rows, the
    same rows as the fetch_k=k call, however the layout read is split
    into tasks (the probe cuts candidates per task)."""
    from collections import Counter

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
    )

    books = pq.train_pq_codebooks(emb, m=8, k=16)
    cents = ann.seed_centroids(emb, 8)
    path = str(tmp_path / "ivfpq")
    pq.write_ivfpq_index(emb, path, cents, books)
    q = _queries(emb)
    n_q = q.count()

    def probe(layout, fetch_k):
        return sorted(
            (r["query_id"], r["rank"], r["vec_id"])
            for r in pq.ivfpq_topk_rerank(
                q, layout, cents, books, k=5, nprobe=8, fetch_k=fetch_k
            ).collect()
        )

    read = spark.read.parquet(path)
    for layout in (read, read.coalesce(1)):
        short = probe(layout, 1)
        per_query = Counter(qid for qid, _, _ in short)
        assert len(per_query) == n_q
        assert set(per_query.values()) == {5}
        assert short == probe(layout, 5)


def test_ivfpq_upsert_equals_rebuild(spark, emb, tmp_path):
    """Incremental IVFPQ upsert: probe of upserted layout == probe of a
    from-scratch rebuild over the same rows; untouched centroid
    partitions stay byte-identical; intra-batch duplicate ids resolve
    to one survivor."""
    import os

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
    )

    books = pq.train_pq_codebooks(emb, m=16, k=64)
    cents = ann.seed_centroids(emb, 16)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    rest = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "inc")
    pq.write_ivfpq_index(base, path, cents, books)

    def files_md5(p):
        import hashlib

        out = {}
        for dp, _, fs in os.walk(p):
            for f in fs:
                if f.endswith(".parquet"):
                    fp = os.path.join(dp, f)
                    out[os.path.relpath(fp, p)] = hashlib.md5(
                        open(fp, "rb").read()
                    ).hexdigest()
        return out

    before = files_md5(path)
    res = pq.upsert_ivfpq_index(spark, path, rest)
    assert res["n_upserted"] == rest.count()
    after = files_md5(path)
    untouched_dirs = {
        f"centroid_id={c}"
        for c, _ in cents
        if c not in set(res["touched"])
    }
    for rel, h in before.items():
        d = rel.split(os.sep)[0]
        if d in untouched_dirs:
            assert after.get(rel) == h, f"untouched partition {rel} changed"

    full = str(tmp_path / "full")
    pq.write_ivfpq_index(emb, full, cents, books)
    q = _queries(emb)
    probe_inc = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in pq.ivfpq_topk_rerank(
            q, spark.read.parquet(path), cents, books, k=5, nprobe=16
        ).collect()
    }
    probe_full = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in pq.ivfpq_topk_rerank(
            q, spark.read.parquet(full), cents, books, k=5, nprobe=16
        ).collect()
    }
    assert probe_inc == probe_full

    # intra-batch duplicate: one survivor row
    dup = spark.createDataFrame(
        [(9999, [1.0] * 64, ), (9999, [-1.0] * 64, )],
        "vec_id long, embedding array<float>",
    )
    res2 = pq.upsert_ivfpq_index(spark, path, dup)
    assert res2["n_upserted"] == 1
    rows = (
        spark.read.parquet(path).filter(F.col("vec_id") == 9999).collect()
    )
    assert len(rows) == 1


def test_residual_encoding_beats_raw_at_tight_code_budget(spark, tmp_path):
    """The classic IVFPQ claim: with a small code budget (m=8, k=16),
    residual codes (v - centroid) recall more of the exact top-k than
    raw codes at identical probe parameters — residuals concentrate
    near zero so the same budget quantizes finer."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        topk_search,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = ann.seed_centroids(emb, 16)
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in topk_search(q, emb, k=5, metric="euclidean").collect()
    }

    def recall(path, books, residual):
        # one task reads the whole probe, so the probe's per-task
        # fetch_k cut is the GLOBAL cut and recall is a pure function
        # of ADC order, which is the property under test (a multi-task
        # read over-fetches per task and would saturate both variants
        # at this corpus size)
        got = {
            (r["query_id"], r["vec_id"])
            for r in pq.ivfpq_topk_rerank(
                q, spark.read.parquet(path).coalesce(1), cents, books,
                k=5, nprobe=8, fetch_k=25, residual=residual,
            ).collect()
        }
        return len(got & exact) / len(exact)

    raw_books = pq.train_pq_codebooks(emb, m=8, k=16)
    res_books = pq.train_pq_codebooks_residual(emb, cents, m=8, k=16)
    p_raw, p_res = str(tmp_path / "raw"), str(tmp_path / "res")
    pq.write_ivfpq_index(emb, p_raw, cents, raw_books)
    pq.write_ivfpq_index(emb, p_res, cents, res_books, residual=True)
    assert pq.load_ivfpq_meta(p_res)["residual"] is True
    r_raw, r_res = recall(p_raw, raw_books, False), recall(p_res, res_books, True)
    assert r_res > r_raw, f"residual {r_res} <= raw {r_raw}"
    assert r_res >= 0.8


def test_residual_upsert_equals_rebuild(spark, emb, tmp_path):
    """Incremental upsert into a RESIDUAL layout re-encodes with the
    persisted residual convention (flag read from the sidecar) — probe
    of upserted layout == probe of a from-scratch rebuild."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
    )

    cents = ann.seed_centroids(emb, 16)
    books = pq.train_pq_codebooks_residual(emb, cents, m=16, k=64)
    base = emb.filter(F.col("vec_id") % 4 != 0)
    rest = emb.filter(F.col("vec_id") % 4 == 0)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    pq.write_ivfpq_index(base, inc, cents, books, residual=True)
    res = pq.upsert_ivfpq_index(spark, inc, rest)
    assert res["n_upserted"] == rest.count()
    pq.write_ivfpq_index(emb, full, cents, books, residual=True)
    q = _queries(emb)
    probe = lambda p: {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in pq.ivfpq_topk_rerank(
            q, spark.read.parquet(p), cents, books,
            k=5, nprobe=16, residual=True,
        ).collect()
    }
    assert probe(inc) == probe(full)


def test_opq_rotation_is_orthonormal_and_deterministic(spark, emb):
    import numpy as np

    R1 = np.array(pq.train_opq_rotation(emb.repartition(3), m=8))
    R2 = np.array(pq.train_opq_rotation(emb.repartition(11), m=8))
    assert np.allclose(R1, R2)  # partitioning-independent
    assert R1.shape == (64, 64)
    assert np.allclose(R1 @ R1.T, np.eye(64), atol=1e-9)


def test_opq_rotation_preserves_distances_and_products(spark, emb):
    """Orthonormal R: |xR - yR| = |x - y| and <xR, yR> = <x, y> — the
    invariant that lets every downstream metric path run unchanged in
    the rotated frame."""
    import numpy as np

    R = np.array(pq.train_opq_rotation(emb, m=8))
    rows = emb.filter(F.col("vec_id") < 20).collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    XR = X @ R
    assert np.allclose(
        np.linalg.norm(X[:, None] - X[None, :], axis=2),
        np.linalg.norm(XR[:, None] - XR[None, :], axis=2),
    )
    assert np.allclose(X @ X.T, XR @ XR.T)


def test_opq_allocation_balances_eigenvalue_products(spark, emb):
    """Under scale anisotropy the greedy allocation must spread the
    big-eigenvalue directions across subspaces: the max/min per-bucket
    log-eigenvalue-sum gap must be far below the unrotated grouping's
    gap (which concentrates whole scale tiers in single buckets)."""
    import numpy as np

    aniso = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, i) -> "
            "cast(x * pow(10.0, i / 21.0) as float))"
        ).alias("embedding"),
    )
    X = np.array(
        [r["embedding"] for r in aniso.collect()], dtype=np.float64
    )
    m, d = 8, X.shape[1]
    sub = d // m
    R = np.array(pq.train_opq_rotation(aniso, m=m))
    w_nat = X.var(axis=0)
    w_rot = (X @ R).var(axis=0)

    def spread(w):
        sums = [
            np.log(np.maximum(w[j * sub : (j + 1) * sub], 1e-12)).sum()
            for j in range(m)
        ]
        return max(sums) - min(sums)

    assert spread(w_rot) < 0.25 * spread(w_nat)


def test_rotate_vectors_matches_numpy_and_keeps_columns(spark, emb):
    import numpy as np

    R = pq.train_opq_rotation(emb, m=8)
    out = pq.rotate_vectors(emb.filter(F.col("vec_id") < 5), R)
    assert set(out.columns) == set(emb.columns)
    rows = {r["vec_id"]: np.array(r["embedding"]) for r in out.collect()}
    raw = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.filter(F.col("vec_id") < 5).collect()
    }
    for vid, v in raw.items():
        assert np.allclose(rows[vid], (v @ np.array(R)).astype(np.float32))


def test_pq_reconstruction_sse_matches_driver_numpy(spark, emb):
    import numpy as np

    books = pq.train_pq_codebooks(emb, m=8, k=16)
    got = pq.pq_reconstruction_sse(emb, books).collect()[0]
    X = np.array(
        [r["embedding"] for r in emb.collect()], dtype=np.float64
    )
    B = [np.array(b) for b in books]
    sub = B[0].shape[1]
    want = 0.0
    for j in range(len(B)):
        S = X[:, j * sub : (j + 1) * sub]
        d2 = (
            (S * S).sum(axis=1)[:, None]
            - 2.0 * (S @ B[j].T)
            + (B[j] ** 2).sum(axis=1)[None, :]
        )
        want += np.maximum(d2.min(axis=1), 0.0).sum()
    assert got["n"] == X.shape[0]
    assert abs(got["sum_sq_err"] - want) < 1e-6 * max(want, 1.0)


def test_opq_halves_sse_under_scale_anisotropy(spark, emb):
    """The gain contract behind `ann_opq_quantization_gain`, asserted
    at operator level: on the 1000x-spread anisotropic frame, OPQ's
    rotated quantizer must at least halve total squared error at the
    same m=8/k=16 budget (measured ~0.18x)."""
    aniso = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, i) -> "
            "cast(x * pow(10.0, i / 21.0) as float))"
        ).alias("embedding"),
    )
    books_pq = pq.train_pq_codebooks(aniso, m=8, k=16)
    sse_pq = pq.pq_reconstruction_sse(aniso, books_pq).collect()[0]["sum_sq_err"]
    R = pq.train_opq_rotation(aniso, m=8)
    rot = pq.rotate_vectors(aniso, R)
    books_opq = pq.train_pq_codebooks(rot, m=8, k=16)
    sse_opq = pq.pq_reconstruction_sse(rot, books_opq).collect()[0]["sum_sq_err"]
    assert sse_opq <= 0.5 * sse_pq


def test_ivfpq_filtered_matches_exact_filtered(spark, emb, tmp_path):
    """Metadata-filtered IVFPQ probe (meta_cols layout + pre_filter
    through the dispatcher) at full probe + ample over-fetch must
    equal the exact cosine top-k over the PRE-FILTERED corpus —
    single-stage filtering semantics, not post-filtering a fixed-k
    result."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.search import (
        search,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        topk_search,
    )

    flt = F.col("label").isin(1, 3, 5, 7)
    emb_n = pq._unit_normalized(emb, "embedding")
    books = pq.train_pq_codebooks(emb_n, m=8, k=16)
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
    )

    cents = ann.seed_centroids(emb_n, 8)
    path = str(tmp_path / "ivfpq_filt")
    pq.write_ivfpq_index(
        emb, path, cents, books, normalize=True, meta_cols=["label"]
    )
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 9))
        for r in search(
            _queries(emb), emb, k=5, metric="cosine",
            layout_path=path, nprobe=8, fetch_k=200, pre_filter=flt,
        ).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 9))
        for r in topk_search(
            _queries(emb), emb, k=5, metric="cosine", pre_filter=flt
        ).collect()
    }
    assert got == want
    # every hit satisfies the filter (the corpus has labels outside it)
    labels = {
        r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()
    }
    assert all(labels[v] in (1, 3, 5, 7) for v, _ in got.values())
    # adaptive fetch (fetch_k scaled by measured ~0.5 selectivity)
    # changes the budget, not the answer
    adaptive = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 9))
        for r in search(
            _queries(emb), emb, k=5, metric="cosine",
            layout_path=path, nprobe=8, fetch_k=200, pre_filter=flt,
            adaptive_fetch=True,
        ).collect()
    }
    assert adaptive == want


def test_ivfpq_meta_cols_validation(spark, emb, tmp_path):
    books = pq.train_pq_codebooks(emb, m=8, k=16)
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
    )

    cents = ann.seed_centroids(emb, 8)
    with pytest.raises(ValueError, match="collides"):
        pq.write_ivfpq_index(
            emb, str(tmp_path / "x1"), cents, books, meta_cols=["codes"]
        )
    with pytest.raises(ValueError, match="not in the index frame"):
        pq.write_ivfpq_index(
            emb, str(tmp_path / "x2"), cents, books, meta_cols=["nope"]
        )


def test_ivfpq_meta_cols_upsert_carries_metadata(spark, emb, tmp_path):
    """Upsert into a meta_cols layout writes the metadata next to the
    fresh codes (a filtered probe must see new rows), and an upsert
    batch MISSING the column raises instead of writing NULL-metadata
    rows that silently vanish from every filtered search."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
    )

    books = pq.train_pq_codebooks(emb, m=8, k=16)
    cents = ann.seed_centroids(emb, 8)
    path = str(tmp_path / "ivfpq_meta_up")
    pq.write_ivfpq_index(emb, path, cents, books, meta_cols=["label"])
    fresh = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        "embedding",
        F.lit(42).alias("label"),
    )
    stats = pq.upsert_ivfpq_index(spark, path, fresh)
    assert stats["n_upserted"] == 3
    got = (
        spark.read.parquet(path)
        .filter(F.col("vec_id") >= 1_000_000)
        .select("vec_id", "label")
        .collect()
    )
    assert len(got) == 3 and all(r["label"] == 42 for r in got)
    with pytest.raises(ValueError, match="missing 'label'"):
        pq.upsert_ivfpq_index(spark, path, fresh.drop("label"))


def test_ivfpq_rotation_layout_serves_exact_topk(spark, emb, tmp_path):
    """An OPQ-rotated IVFPQ layout (rotation persisted in the sidecar,
    queries rotated probe-side with the layout's own R) at full probe
    + ample over-fetch must hash-equal the exact euclidean top-k on
    the ORIGINAL vectors — orthonormal R preserves L2, and the rerank
    runs on the co-located RAW floats."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.search import (
        search,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        topk_search,
    )

    R = pq.train_opq_rotation(emb, m=8)
    rot = pq.rotate_vectors(emb, R)
    books = pq.train_pq_codebooks(rot, m=8, k=16)
    cents = ann.seed_centroids(rot, 8)
    path = str(tmp_path / "ivfpq_opq")
    pq.write_ivfpq_index(emb, path, cents, books, rotation=R)
    assert pq.load_ivfpq_meta(path)["rotation"] == R  # sidecar roundtrip
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 9))
        for r in search(
            _queries(emb), None, k=5, metric="euclidean",
            layout_path=path, nprobe=8, fetch_k=200,
        ).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 9))
        for r in topk_search(
            _queries(emb), emb, k=5, metric="euclidean"
        ).collect()
    }
    assert got == want
    # the layout's stored vectors are the RAW (unrotated) floats
    import numpy as np

    raw = {r["vec_id"]: r["embedding"] for r in emb.limit(50).collect()}
    stored = {
        r["vec_id"]: r["embedding"]
        for r in spark.read.parquet(path)
        .filter(F.col("vec_id").isin(*raw.keys()))
        .collect()
    }
    for vid, v in stored.items():
        assert np.allclose(v, raw[vid])


def test_ivfpq_rotation_upsert_matches_rebuild(spark, emb, tmp_path):
    """Upserting into an OPQ layout encodes through the PERSISTED R:
    the incremental layout's probe output equals a full rebuild over
    the same corpus (same quantizers, same rotation)."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
    )

    old = emb.filter(F.col("vec_id") >= 20)
    fresh = emb.filter(F.col("vec_id") < 20)
    R = pq.train_opq_rotation(old, m=8)
    rot_old = pq.rotate_vectors(old, R)
    books = pq.train_pq_codebooks(rot_old, m=8, k=16)
    cents = ann.seed_centroids(rot_old, 8)
    inc_path = str(tmp_path / "opq_inc")
    full_path = str(tmp_path / "opq_full")
    pq.write_ivfpq_index(old, inc_path, cents, books, rotation=R)
    stats = pq.upsert_ivfpq_index(spark, inc_path, fresh)
    assert stats["n_upserted"] == 20
    pq.write_ivfpq_index(emb, full_path, cents, books, rotation=R)
    q = _queries(emb)

    def probe(path):
        layout = spark.read.parquet(path)
        return {
            (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 9))
            for r in pq.ivfpq_topk_rerank(
                q, layout, cents, books, k=5, nprobe=8,
                fetch_k=200, rotation=R,
            ).collect()
        }

    assert probe(inc_path) == probe(full_path)


def test_ivfpq_rotation_composes_with_cosine_layout(spark, emb, tmp_path):
    """rotation= composes with normalize=: vectors are unit-normalized
    THEN rotated (orthonormal R preserves norms, so the frame stays on
    the unit sphere and ADC order ≡ cosine order still holds); the
    dispatched cosine probe at full coverage hash-equals the exact
    cosine top-k."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.search import (
        search,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        topk_search,
    )

    emb_n = pq._unit_normalized(emb, "embedding")
    R = pq.train_opq_rotation(emb_n, m=8)
    rot = pq.rotate_vectors(emb_n, R)
    books = pq.train_pq_codebooks(rot, m=8, k=16)
    cents = ann.seed_centroids(rot, 8)
    path = str(tmp_path / "ivfpq_opq_cos")
    pq.write_ivfpq_index(emb, path, cents, books, normalize=True, rotation=R)
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 9))
        for r in search(
            _queries(emb), None, k=5, metric="cosine",
            layout_path=path, nprobe=8, fetch_k=200,
        ).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 9))
        for r in topk_search(
            _queries(emb), emb, k=5, metric="cosine"
        ).collect()
    }
    assert got == want
    # stored vectors are the untransformed input floats: the ingest
    # stream's auto-retrain reads them back as its training source
    stored = {
        r["vec_id"]: list(r["embedding"])
        for r in spark.read.parquet(path).collect()
    }
    assert stored == {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}


def test_ivfpq_rotation_composes_with_mips_layout(spark, emb, tmp_path):
    """rotation= composes with mips=: the corpus is MIPS-augmented
    (dim 64 -> 72) THEN rotated; queries are zero-padded to 72 and
    rotated with the layout's persisted R probe-side. Orthonormal R
    preserves the augmented-space L2 order, so the dispatched
    dotproduct result at full coverage hash-equals the exact
    dot-product top-k on the ORIGINAL vectors."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.search import (
        search,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        topk_search,
    )

    M = pq.mips_max_norm(emb, "embedding")
    aug = pq.mips_augmented(emb, "embedding", M, 72)
    R = pq.train_opq_rotation(aug, m=9)
    rot = pq.rotate_vectors(aug, R)
    cents = ann.seed_centroids(rot, 8)
    books = pq.train_pq_codebooks_residual(rot, cents, m=9, k=16)
    path = str(tmp_path / "ivfpq_opq_mips")
    pq.write_ivfpq_index(emb, path, cents, books, mips=True, rotation=R)
    n = emb.count()
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 9))
        for r in search(
            _queries(emb), None, k=5, metric="dotproduct",
            layout_path=path, nprobe=8, fetch_k=n,
        ).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 9))
        for r in topk_search(
            _queries(emb), emb, k=5, metric="dotproduct"
        ).collect()
    }
    assert got == want
