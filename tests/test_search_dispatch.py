"""Search-path dispatcher (operators.search): route() picks the right
strategy per scenario, search() results match the direct-path calls,
and contradictions fail loudly."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
    ann,
    pq,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
    search as dispatch,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.search import (
    route,
    search,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
    topk_search,
    topk_search_gemm,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _queries(emb):
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


def _rows(df):
    return sorted(
        (r["query_id"], r["vec_id"], round(r["score"], 6), r["rank"])
        for r in df.collect()
    )


# -- route() decisions --------------------------------------------------


def test_route_unknown_size_defaults_gemm():
    assert route()["path"] == "exact_gemm"


def test_route_ivf_layout(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    cents = ann.seed_centroids(emb, 8)
    ann.write_ivf_index(emb, path, cents)
    assert route(layout_path=path)["path"] == "ivf"


def test_route_ivf_layout_metric_guard(spark, emb, tmp_path):
    """An IVF layout's buckets are nearest-centroid cells under its
    build metric; probing them in another metric's centroid order
    would prune the wrong cells, so the router refuses."""
    path = str(tmp_path / "ivf")
    ann.write_ivf_index(emb, path, ann.seed_centroids(emb, 8), metric="cosine")
    with pytest.raises(ValueError, match="assigned under 'cosine'"):
        search(_queries(emb), k=3, metric="euclidean", layout_path=path)
    assert route(layout_path=path, metric="cosine")["meta"]["metric"] == "cosine"


def test_route_ivfpq_layout_and_metric_guard(spark, emb, tmp_path):
    path = str(tmp_path / "ivfpq")
    books = pq.train_pq_codebooks(emb, m=8, k=16)
    cents = ann.seed_centroids(emb, 8)
    pq.write_ivfpq_index(emb, path, cents, books)
    assert route(layout_path=path, metric="euclidean")["path"] == "ivfpq"
    # a transformed layout serves exactly its own metric — raw serves
    # euclidean only
    with pytest.raises(ValueError, match="serves exactly its own metric"):
        route(layout_path=path, metric="cosine")
    with pytest.raises(ValueError, match="serves exactly its own metric"):
        route(layout_path=path, metric="dotproduct")


def _normalized_ivfpq(spark, emb, path, n_cents=8):
    """Build a normalize=True IVFPQ layout with quantizers trained in
    the unit-sphere space (the layout's own space)."""
    emb_n = pq._unit_normalized(emb, "embedding")
    books = pq.train_pq_codebooks(emb_n, m=8, k=16)
    cents = ann.seed_centroids(emb_n, n_cents)
    pq.write_ivfpq_index(emb, path, cents, books, normalize=True)
    return cents, books


def test_route_normalized_ivfpq_serves_cosine(spark, emb, tmp_path):
    path = str(tmp_path / "ivfpq_n")
    _normalized_ivfpq(spark, emb, path)
    r = route(layout_path=path, metric="cosine")
    assert r["path"] == "ivfpq"
    assert "normalized" in r["reason"]
    # normalized codes live on the unit sphere: euclidean against RAW
    # geometry would rank by a different space — rejected
    with pytest.raises(ValueError, match="serves exactly its own metric"):
        route(layout_path=path, metric="euclidean")
    with pytest.raises(ValueError, match="serves exactly its own metric"):
        route(layout_path=path, metric="dotproduct")


def _mips_ivfpq(spark, emb, path, n_cents=8):
    """Build a mips=True IVFPQ layout: quantizers trained in the
    augmented space (dim 64 -> 72 = 9 subspaces x 8); residual
    codebooks — the shipped MIPS default (residual=None → True)."""
    M = pq.mips_max_norm(emb, "embedding")
    aug = pq.mips_augmented(emb, "embedding", M, 72)
    cents = ann.seed_centroids(aug, n_cents)
    books = pq.train_pq_codebooks_residual(aug, cents, m=9, k=16)
    pq.write_ivfpq_index(emb, path, cents, books, mips=True)
    return cents, books


def test_route_mips_ivfpq_serves_dotproduct(spark, emb, tmp_path):
    path = str(tmp_path / "ivfpq_m")
    _mips_ivfpq(spark, emb, path)
    r = route(layout_path=path, metric="dotproduct")
    assert r["path"] == "ivfpq"
    assert "MIPS" in r["reason"]
    with pytest.raises(ValueError, match="serves exactly its own metric"):
        route(layout_path=path, metric="euclidean")
    with pytest.raises(ValueError, match="serves exactly its own metric"):
        route(layout_path=path, metric="cosine")


def test_search_ivfpq_dotproduct_hash_equals_exact(spark, emb):
    """MIPS reduction end to end: with all buckets probed and
    fetch_k >= |index| the dispatched dotproduct result must
    hash-equal the exact dot-product top-k (augmented euclidean
    candidate order ≡ dot-product order; rerank scores exact dot
    product on the raw vectors)."""
    import tempfile

    n = emb.count()
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ivfpq_mips"
        _mips_ivfpq(spark, emb, path)
        got = _rows(
            search(
                _queries(emb),
                emb,
                k=5,
                metric="dotproduct",
                layout_path=path,
                nprobe=8,
                fetch_k=n,
            )
        )
    want = _rows(topk_search(_queries(emb), emb, k=5, metric="dotproduct"))
    assert got == want


def test_write_ivfpq_normalize_mips_exclusive(spark, emb, tmp_path):
    books = pq.train_pq_codebooks(emb, m=8, k=16)
    cents = ann.seed_centroids(emb, 8)
    with pytest.raises(ValueError, match="mutually exclusive"):
        pq.write_ivfpq_index(
            emb, str(tmp_path / "x"), cents, books,
            normalize=True, mips=True,
        )


def test_write_ivfpq_mips_defaults_residual(spark, emb, tmp_path):
    """residual=None resolves to True under mips=True (SCALE.md: raw
    codes recall@10 0.037 vs 0.54 residual on the 500k hard case) —
    the sidecar must persist residual=true without the caller asking."""
    path = str(tmp_path / "ivfpq_m")
    _mips_ivfpq(spark, emb, path)
    meta = pq.load_ivfpq_meta(path)
    assert meta["mips"] is True
    assert meta["residual"] is True


def test_write_ivfpq_mips_refuses_raw_codes(spark, emb, tmp_path):
    """Explicit residual=False with mips=True is a recall trap with no
    downstream error — the build must refuse loudly."""
    M = pq.mips_max_norm(emb, "embedding")
    aug = pq.mips_augmented(emb, "embedding", M, 72)
    books = pq.train_pq_codebooks(aug, m=9, k=16)
    cents = ann.seed_centroids(aug, 8)
    with pytest.raises(ValueError, match="residual"):
        pq.write_ivfpq_index(
            emb, str(tmp_path / "x"), cents, books, mips=True, residual=False
        )


def test_write_ivfpq_mips_rejects_undersized_codebooks(spark, emb, tmp_path):
    """Codebooks trained on the RAW frame (m*sub == input dim < dim+1)
    would silently truncate the sqrt augmentation coordinate — ADC
    order would stop being dot-product order with no error anywhere.
    The build must raise instead (ADVICE r7)."""
    cents = ann.seed_centroids(emb, 8)
    books = pq.train_pq_codebooks_residual(emb, cents, m=8, k=16)  # dim 64
    with pytest.raises(ValueError, match="augmented"):
        pq.write_ivfpq_index(emb, str(tmp_path / "x"), cents, books, mips=True)


def test_route_rejects_non_layout_dir(tmp_path):
    with pytest.raises(ValueError, match="not a persisted vector layout"):
        route(layout_path=str(tmp_path))


# -- search() dispatch equals the direct path ----------------------------


def test_search_forced_gemm_equals_gemm(spark, emb):
    got = search(_queries(emb), emb, k=5)  # no layout -> gemm
    want = topk_search_gemm(_queries(emb), emb, k=5)
    assert _rows(got) == _rows(want)


def test_search_ivf_layout_equals_direct_probe(spark, emb, tmp_path):
    path = str(tmp_path / "ivf2")
    cents = ann.seed_centroids(emb, 8)
    ann.write_ivf_index(emb, path, cents)
    got = search(_queries(emb), k=5, metric="cosine", layout_path=path, nprobe=3)
    want = ann.ivf_topk_gemm(
        _queries(emb), ann.read_ivf_index(spark, path), cents, k=5, nprobe=3
    )
    assert _rows(got) == _rows(want)


def _ranked(df):
    return sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["score"]) for r in df.collect()
    )


def _one_task_per_file(spark):
    """Make every Parquet file its own Spark task; returns the undo."""
    key = "spark.sql.files.openCostInBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, str(1 << 30))
    return lambda: spark.conf.set(key, before)


def test_driver_executor_rows_do_not_depend_on_files(spark, emb, tmp_path, monkeypatch):
    """The driver executor calls the kernel once per probed bucket, so
    its rows (unrounded) are the same for a layout written with one
    file per bucket and with three, and equal the Spark executor's when
    each Spark task reads one bucket (one task per file). Its result is
    a local relation: collecting it starts no job."""
    books = pq.train_pq_codebooks(emb, m=8, k=16)
    cents = ann.seed_centroids(emb, 8)
    one, three = str(tmp_path / "one"), str(tmp_path / "three")
    pq.write_ivfpq_index(emb, one, cents, books)
    spark.read.parquet(one).repartition(3).write.partitionBy("centroid_id").parquet(three)
    shutil.copy(f"{one}/{pq.IVFPQ_META}", three)
    assert all(
        len([f for f in os.listdir(f"{three}/{d}") if f.endswith(".parquet")]) == 3
        for d in os.listdir(three)
        if d.startswith("centroid_id=")
    )

    def probe(path):
        return search(
            _queries(emb), None, k=5, metric="euclidean", layout_path=path,
            nprobe=4, fetch_k=25,
        )

    got = probe(one)
    assert "LocalRelation" in got._jdf.queryExecution().optimizedPlan().toString()
    driver = _ranked(got)
    assert driver == _ranked(probe(three))
    monkeypatch.setattr(dispatch, "DRIVER_PROBE_BYTES", 0)
    restore = _one_task_per_file(spark)
    try:
        assert _ranked(probe(one)) == driver
    finally:
        restore()


def test_driver_filter_may_name_the_vector_column(spark, emb, tmp_path, monkeypatch):
    """A pre_filter over the layout's vector column runs on the driver
    executor as it does on Spark's scan, with the same rows."""
    path = str(tmp_path / "ivfpq")
    pq.write_ivfpq_index(
        emb, path, ann.seed_centroids(emb, 8), pq.train_pq_codebooks(emb, m=8, k=16)
    )
    keep = F.col("embedding")[0] > 0.0

    def probe():
        return _ranked(search(
            _queries(emb), None, k=5, metric="euclidean", layout_path=path,
            nprobe=4, fetch_k=25, pre_filter=keep,
        ))

    driver = probe()
    assert driver
    monkeypatch.setattr(dispatch, "DRIVER_PROBE_BYTES", 0)
    restore = _one_task_per_file(spark)
    try:
        assert probe() == driver
    finally:
        restore()


def test_driver_executor_relists_once_after_a_concurrent_swap(
    spark, emb, tmp_path, monkeypatch
):
    """A bucket file renamed between the listing and the read, or a
    directory gone while it is listed, makes the driver executor list
    the probed directories once more; a second miss raises."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources import (
        layout,
    )

    path = str(tmp_path / "ivfpq")
    pq.write_ivfpq_index(
        emb, path, ann.seed_centroids(emb, 8), pq.train_pq_codebooks(emb, m=8, k=16)
    )

    def probe():
        return _ranked(search(
            _queries(emb), None, k=5, metric="euclidean", layout_path=path,
            nprobe=4, fetch_k=25,
        ))

    want = probe()
    listing = layout.partition_files
    calls = []

    def swap_after_listing(*a):
        calls.append(a)
        files = listing(*a)
        if len(calls) == 1:
            f = next(f for fs in files.values() for f, _ in fs)
            os.rename(f, f.replace("part-", "part-swapped-"))
        return files

    monkeypatch.setattr(layout, "partition_files", swap_after_listing)
    assert probe() == want
    assert len(calls) == 2

    def gone_while_listing(*a):
        calls.append(a)
        if len(calls) % 2:
            raise FileNotFoundError("centroid_id=0")
        return listing(*a)

    calls.clear()
    monkeypatch.setattr(layout, "partition_files", gone_while_listing)
    assert probe() == want
    assert len(calls) == 2

    def always_gone(*a):
        raise FileNotFoundError("centroid_id=0")

    monkeypatch.setattr(layout, "partition_files", always_gone)
    with pytest.raises(FileNotFoundError):
        probe()


def test_search_ivfpq_layout_equals_direct_rerank(spark, emb, tmp_path, monkeypatch):
    """On the Spark executor the dispatched probe is the direct
    ``ivfpq_topk_rerank`` over the layout. (The driver executor's
    candidates are per bucket, not per task: see
    ``test_driver_executor_rows_do_not_depend_on_files``.)"""
    monkeypatch.setattr(dispatch, "DRIVER_PROBE_BYTES", 0)
    path = str(tmp_path / "ivfpq2")
    books = pq.train_pq_codebooks(emb, m=8, k=16)
    cents = ann.seed_centroids(emb, 8)
    pq.write_ivfpq_index(emb, path, cents, books)
    got = search(
        _queries(emb),
        emb,
        k=5,
        metric="euclidean",
        layout_path=path,
        nprobe=4,
        fetch_k=25,
    )
    want = pq.ivfpq_topk_rerank(
        _queries(emb),
        spark.read.parquet(path),
        pq.load_ivfpq_meta(path),
        k=5,
        nprobe=4,
        fetch_k=25,
    )
    assert _rows(got) == _rows(want)


def test_search_ivfpq_cosine_hash_equals_exact(spark, emb):
    """The r6-verdict gap closed: cosine over a NORMALIZED IVFPQ
    layout. With nprobe = all buckets and fetch_k >= |index| the
    rerank set is the whole corpus, so the dispatched result must
    hash-equal the exact cosine top-k — not approximately, exactly
    (squared-L2 order ≡ cosine order on unit vectors; rerank scores
    are the scale-invariant exact cosine of the RAW vectors)."""
    import tempfile

    n = emb.count()
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ivfpq_cos"
        _normalized_ivfpq(spark, emb, path)
        got = _rows(
            search(
                _queries(emb),
                emb,
                k=5,
                metric="cosine",
                layout_path=path,
                nprobe=8,
                fetch_k=n,
            )
        )
    want = _rows(topk_search(_queries(emb), emb, k=5, metric="cosine"))
    assert got == want


def test_search_ivfpq_cosine_raw_layout_raises(spark, emb, tmp_path):
    path = str(tmp_path / "ivfpq_raw")
    books = pq.train_pq_codebooks(emb, m=8, k=16)
    cents = ann.seed_centroids(emb, 8)
    pq.write_ivfpq_index(emb, path, cents, books)
    with pytest.raises(ValueError, match="serves exactly its own metric"):
        search(_queries(emb), emb, k=5, metric="cosine", layout_path=path)


def test_search_exact_needs_index(spark, emb):
    with pytest.raises(ValueError, match="needs an index frame"):
        search(_queries(emb), None, k=5)


# -- self-contained layouts (round 9) -------------------------------------


def _euclid_ivfpq(spark, emb, path, **kw):
    cents = ann.seed_centroids(emb, 8)
    books = pq.train_pq_codebooks(emb, m=8, k=16)
    pq.write_ivfpq_index(emb, path, cents, books, **kw)


def test_search_self_contained_layout_serves_without_index(spark, emb, tmp_path):
    """IVFPQ layouts carry the raw floats: the probe's fused in-kernel
    rerank needs no side full-precision table — the 100 TB serving
    shape (only probed bucket dirs are read)."""
    path = str(tmp_path / "ivfpq")
    _euclid_ivfpq(spark, emb, path)
    assert pq.load_ivfpq_meta(path)["vec_col"] == "embedding"
    q = _queries(emb)
    got = _rows(
        search(q, None, k=5, metric="euclidean", layout_path=path,
               nprobe=8, fetch_k=10**6)
    )
    want = _rows(topk_search_gemm(q, emb, k=5, metric="euclidean"))
    assert got == want


def test_codes_only_layout_requires_rebuild(spark, emb, tmp_path):
    """A layout written without the raw-vector column (an older
    codes-only build, sidecar ``vec_col`` unset) is refused loudly by
    the probe and by upsert; a retrain rebuilds it into a servable
    layout."""
    import json
    import os
    import shutil

    built, path = str(tmp_path / "built"), str(tmp_path / "codes_only")
    _euclid_ivfpq(spark, emb, built)
    spark.read.parquet(built).drop("embedding").write.partitionBy(
        "centroid_id"
    ).parquet(path)
    meta = pq.load_ivfpq_meta(built)
    meta["vec_col"] = None
    with open(os.path.join(path, pq.IVFPQ_META), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(built)
    q = _queries(emb)
    with pytest.raises(ValueError, match="rebuild"):
        search(q, None, k=5, metric="euclidean", layout_path=path).collect()
    with pytest.raises(ValueError, match="rebuild"):
        pq.upsert_ivfpq_index(spark, path, emb.filter(F.col("vec_id") < 3))
    pq.retrain_ivfpq_index(spark, path, emb)
    got = search(q, None, k=5, metric="euclidean", layout_path=path)
    assert got.count() == 5 * q.count()


def test_fused_rerank_hash_equals_exact(spark, emb, tmp_path):
    """Full-coverage fetch over every metric's layout: the fused
    in-kernel rescore (sequential float64 folds mirroring
    similarity_expr) returns rows IDENTICAL to the exact reference
    path, 6-decimal scores included."""
    cents_r = ann.seed_centroids(emb, 8)
    books_r = pq.train_pq_codebooks(emb, m=8, k=16)
    q = _queries(emb)
    for metric, build in (
        ("euclidean", dict(centroids=cents_r, codebooks=books_r)),
        ("cosine", None),
        ("dotproduct", None),
    ):
        if metric == "cosine":
            src = pq._unit_normalized(emb, "embedding")
            cents = ann.seed_centroids(src, 8)
            books = pq.train_pq_codebooks(src, m=8, k=16)
            kw = dict(normalize=True)
        elif metric == "dotproduct":
            M = pq.mips_max_norm(emb, "embedding")
            aug = pq.mips_augmented(emb, "embedding", M, 72)
            cents = ann.seed_centroids(aug, 8)
            books = pq.train_pq_codebooks_residual(aug, cents, m=9, k=16)
            kw = dict(mips=True)
        else:
            cents, books, kw = cents_r, books_r, {}
        p_f = str(tmp_path / f"f_{metric}")
        pq.write_ivfpq_index(emb, p_f, cents, books, **kw)
        fused = _rows(
            search(q, None, k=5, metric=metric, layout_path=p_f,
                   nprobe=8, fetch_k=10**6)
        )
        exact = _rows(topk_search(q, emb, k=5, metric=metric))
        assert fused == exact, metric


def test_mips_fetch_floor_only_raises_fetch(spark, emb, tmp_path, monkeypatch):
    """The dotproduct over-fetch floor (fraction of rows_at_build)
    can only ADD candidates: at full coverage the results equal the
    floor-disabled call."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        search as search_mod,
    )

    M = pq.mips_max_norm(emb, "embedding")
    aug = pq.mips_augmented(emb, "embedding", M, 72)
    cents = ann.seed_centroids(aug, 8)
    books = pq.train_pq_codebooks_residual(aug, cents, m=9, k=16)
    path = str(tmp_path / "mips")
    pq.write_ivfpq_index(emb, path, cents, books, mips=True)
    q = _queries(emb)
    rows = {}
    for floor in (1.0, 0.0):
        monkeypatch.setattr(search_mod, "MIPS_FETCH_FLOOR", floor)
        rows[floor] = _rows(
            search(q, None, k=5, metric="dotproduct", layout_path=path,
                   nprobe=8, fetch_k=10**6)
        )
    assert rows[1.0] == rows[0.0]


def test_unknown_metric_raises(spark, tmp_path):
    """A metric name outside functions.vector.METRICS raises on every
    path instead of falling into a kernel's else-branch: "l2" used to
    rank the exact GEMM scan farthest-first (rows 9, 8, 7 here)."""
    idx = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame([(0, [0.0, 1.0])], "query_id long, qvec array<double>")
    assert [r["vec_id"] for r in search(q, idx, k=3, metric="euclidean")
            .orderBy("rank").collect()] == [0, 1, 2]
    path = str(tmp_path / "ivf")
    ann.write_ivf_index(idx, path, ann.seed_centroids(idx, 2))
    for bad in ("l2", "Euclidean"):
        with pytest.raises(ValueError, match="unknown metric"):
            search(q, idx, k=3, metric=bad).collect()
        with pytest.raises(ValueError, match="unknown metric"):
            search(q, idx, k=3, metric=bad, layout_path=path).collect()
        with pytest.raises(ValueError, match="unknown metric"):
            topk_search_gemm(q, idx, k=3, metric=bad).collect()
        with pytest.raises(ValueError, match="unknown metric"):
            route(metric=bad)
        with pytest.raises(ValueError, match="unknown metric"):
            ann.write_ivf_index(idx, str(tmp_path / bad), [(0, [1.0, 1.0])],
                                metric=bad)
