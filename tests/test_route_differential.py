"""Every vector route against one numpy reference (score, vec_id).

Small indexes over a small integer value set, so exact duplicates,
scaled copies and zero vectors are common; k may reach or pass the
row count; a filter may keep nothing; the index is split over several
partitions and small Arrow batches. The IVF and IVFPQ layout routes go
through ``search()`` on both of its executors (driver and Spark). At full probe (``nprobe`` = lists)
and full fetch (``fetch_k`` ≥ n) the answer does not depend on the
centroids or codebooks, so they are fixed and untrained.

The rule every route must follow: rank by score in the metric's
order, then lowest ``vec_id``; under cosine a zero-norm row has no
score and is never returned, and a zero-norm query raises. Bit-identical vectors score identically
on every route, so they must come back lowest id first. Rows whose
reference scores lie within ``TIE_TOL`` of each other may swap: GEMM
normalizes before it multiplies and rounds differently from the
sequential SQL fold (a scaled copy has the same cosine in exact
arithmetic, not in floating point).

``reference_topk`` and ``indexes`` are importable for other
differential tests.
"""

import shutil
import tempfile

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
    smaller_is_better,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
    ann,
    pq,
    search,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
    TOP_K_MAX,
    topk_search,
    topk_search_gemm,
)

TIE_TOL = 1e-12
VALUES = st.sampled_from([-2.0, -1.0, 0.0, 0.0, 1.0, 2.0])

#: keep-everything, keep-some and keep-nothing predicates over vec_id
FILTERS = {
    None: lambda ids: np.ones(len(ids), dtype=bool),
    "even": lambda ids: ids % 2 == 0,
    "none": lambda ids: np.zeros(len(ids), dtype=bool),
}


def _filter_column(name):
    return {
        None: None,
        "even": F.col("vec_id") % 2 == 0,
        "none": F.col("vec_id") < 0,
    }[name]


def reference_topk(qids, Q, ids, V, k, metric):
    """{query id: [(vec_id, score), ...]} — the top ``k`` rows of
    ``V`` per query row of ``Q`` by (score in the metric's order,
    vec_id asc); under cosine zero-norm rows are left out. Scores use
    the SQL fold's formulas in float64."""
    Q = np.asarray(Q, dtype=np.float64)
    V = np.asarray(V, dtype=np.float64).reshape(len(ids), Q.shape[1])
    ids = np.asarray(ids, dtype=np.int64)
    out = {}
    for qid, q in zip(qids, Q):
        if metric == "euclidean":
            s = np.sqrt(((V - q[None, :]) ** 2).sum(axis=1))
            keep = np.ones(len(ids), dtype=bool)
        elif metric == "dotproduct":
            s = V @ q
            keep = np.ones(len(ids), dtype=bool)
        else:
            denom = np.sqrt((q * q).sum()) * np.sqrt((V * V).sum(axis=1))
            keep = denom > 0
            s = np.divide(V @ q, np.where(keep, denom, 1.0))
        key = s if smaller_is_better(metric) else -s
        order = [i for i in np.lexsort((ids, key)) if keep[i]][:k]
        out[int(qid)] = [(int(ids[i]), float(s[i])) for i in order]
    return out


@st.composite
def indexes(draw, metric):
    """One small case: ``ids``, ``V`` (n × d), ``qids``, ``Q``, ``k``,
    the partition count, Arrow batch size and a filter name. Rows are
    fresh vectors, copies of an earlier row, scaled copies or zeros;
    queries are fresh or copies of an index row, so they may be zero."""
    d = draw(st.integers(1, 8))
    n = draw(st.integers(1, 12))
    vec = st.lists(VALUES, min_size=d, max_size=d)
    rows = []
    for i in range(n):
        kind = draw(st.sampled_from(["fresh", "fresh", "copy", "scaled", "zero"]))
        if kind == "copy" and rows:
            rows.append(list(rows[draw(st.integers(0, i - 1))]))
        elif kind == "scaled" and rows:
            rows.append([2.0 * x for x in rows[draw(st.integers(0, i - 1))]])
        elif kind == "zero":
            rows.append([0.0] * d)
        else:
            rows.append(draw(vec))
    if not any(any(r) for r in rows):
        # the MIPS transform needs one non-zero row
        rows[0] = [1.0] * d
    ids = draw(st.lists(st.integers(0, 60), min_size=n, max_size=n, unique=True))
    queries = []
    for _ in range(draw(st.integers(1, 3))):
        q = rows[draw(st.integers(0, n - 1))] if draw(st.booleans()) else draw(vec)
        queries.append(list(q))
    return {
        "ids": ids,
        "V": rows,
        "qids": list(range(100, 100 + len(queries))),
        "Q": queries,
        "k": draw(st.integers(1, min(TOP_K_MAX, n + 2))),
        "parts": draw(st.integers(1, 3)),
        "batch": draw(st.integers(1, 4)),
        "filter": draw(st.sampled_from([None, "even", "none"])),
    }


def check_route(name, got_rows, case, metric):
    """``got_rows`` (query_id, vec_id, score, rank) must be the
    reference top-k up to near-ties, with bit-identical vectors lowest
    id first."""
    ids = np.array(case["ids"], dtype=np.int64)
    V = np.array(case["V"], dtype=np.float64)
    kept = FILTERS[case["filter"]](ids)
    k = case["k"]
    want = reference_topk(case["qids"], case["Q"], ids[kept], V[kept], len(ids), metric)
    vec_of = {int(i): tuple(v) for i, v in zip(ids, V)}
    got, ranks = {}, {}
    for r in sorted(got_rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
        ranks.setdefault(r["query_id"], []).append(r["rank"])
    for qid, full in want.items():
        rows = got.get(qid, [])
        assert ranks.get(qid, []) == list(range(1, min(k, len(full)) + 1)), (
            name, qid, rows, full[:k])
        ref_score = dict(full)
        # near-tie blocks of the reference order: position i may hold
        # any id of the block that holds reference position i
        block, b = [], 0
        for i, (_, s) in enumerate(full):
            if i and abs(s - full[i - 1][1]) > TIE_TOL * max(1.0, abs(s)):
                b += 1
            block.append(b)
        block_of = {vid: block[i] for i, (vid, _) in enumerate(full)}
        for pos, (vid, score) in enumerate(rows):
            assert vid in block_of, (name, qid, vid, "not a candidate")
            assert block_of[vid] == block[pos], (name, qid, rows, full[:k])
            assert score == pytest.approx(ref_score[vid], rel=1e-9, abs=1e-12), (
                name, qid, vid)
        # bit-identical vectors: lowest id first, and no lower copy left out
        returned = [vid for vid, _ in rows]
        for pos, vid in enumerate(returned):
            lower = [u for u in ref_score if u < vid and vec_of[u] == vec_of[vid]]
            for u in lower:
                assert u in returned[:pos], (name, qid, vid, u, rows)
    assert set(got) <= set(want), (name, set(got) - set(want))


def _on(executor, build):
    """``build`` with the layout probe forced onto ``executor``: every
    probe here is small, so it runs on the driver unless the bytes
    bound is 0."""
    if executor == "driver":
        return build

    def on_spark():
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(search, "DRIVER_PROBE_BYTES", 0)
            return build()

    return on_spark


def _routes(spark, case, metric, tmp):
    """(route name, a call building its result frame) for every route
    that serves ``metric``; a route may raise while building it."""
    n = len(case["ids"])
    index = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(case["ids"], case["V"])],
        "vec_id long, embedding array<float>",
    ).repartition(case["parts"])
    queries = spark.createDataFrame(
        [(int(i), [float(x) for x in q]) for i, q in zip(case["qids"], case["Q"])],
        "query_id long, qvec array<float>",
    )
    k, flt = case["k"], _filter_column(case["filter"])
    yield "topk_search", lambda: topk_search(
        queries, index, k=k, metric=metric, pre_filter=flt
    )
    yield "topk_search_gemm", lambda: topk_search_gemm(
        queries, index, k=k, metric=metric, pre_filter=flt
    )
    yield "search", lambda: search.search(
        queries, index, k=k, metric=metric, pre_filter=flt
    )
    d = len(case["V"][0])
    e0 = [1.0] + [0.0] * (d - 1)
    cents = [(0, e0), (1, [-x for x in e0]), (2, [1.0] * d)]
    assigned = ann.assign_centroids_gemm(index, cents, metric)
    yield "ivf_topk_gemm", lambda: ann.ivf_topk_gemm(
        queries, assigned, cents, k=k, nprobe=len(cents), metric=metric,
        pre_filter=flt,
    )
    # the layout routes through the front door, on each executor
    ivf = f"{tmp}/ivf_{metric}"
    ann.write_ivf_index(index, ivf, cents, metric=metric)
    # the IVFPQ flavour that serves this metric
    normalize, mips = pq.LAYOUT_FLAGS[metric]
    D = d + 1 if mips else d
    books = [[[0.0] * D, [1.0] * D]]
    pq_cents = [(0, [0.0] * D), (1, [1.0] * D), (2, [-1.0] * D)]
    ivfpq = f"{tmp}/ivfpq_{metric}"
    pq.write_ivfpq_index(index, ivfpq, pq_cents, books, normalize=normalize, mips=mips)
    # "ivf" and "ivfpq" are the front door as is (a small probe: the
    # driver executor); the "_spark" twins force the Spark executor
    for suffix, executor in (("", "driver"), ("_spark", "spark")):
        yield f"ivf{suffix}", _on(executor, lambda: search.search(
            queries, None, k=k, metric=metric, layout_path=ivf,
            nprobe=len(cents), pre_filter=flt,
        ))
        yield f"ivfpq{suffix}", _on(executor, lambda: search.search(
            queries, None, k=k, metric=metric, layout_path=ivfpq,
            nprobe=len(pq_cents), fetch_k=n, pre_filter=flt,
        ))
    if metric == "euclidean":
        enc = pq.pq_encode(index, books, carry_cols=["embedding"])
        if flt is not None:
            enc = enc.filter(flt)
        yield "pq_topk_rerank", lambda: pq.pq_topk_rerank(
            queries, enc, books, k=k, fetch_k=n
        )


#: a filter that keeps no row
NOTHING_KEPT = {
    "ids": [1, 2, 3], "V": [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]],
    "qids": [100], "Q": [[1.0, 0.0]], "k": 2, "parts": 2, "batch": 1,
    "filter": "none",
}
#: k at and past the row count, over bit-identical rows
K_PAST_N = {
    "ids": [7, 4, 9], "V": [[1.0, 2.0], [1.0, 2.0], [-1.0, 0.0]],
    "qids": [100, 101], "Q": [[1.0, 1.0], [-2.0, 1.0]], "k": 5, "parts": 3,
    "batch": 1, "filter": None,
}
#: zero vectors, which have no cosine, beside a copy and a scaled copy
ZERO_ROWS = {
    "ids": [3, 1, 2, 5, 6], "V": [[0.0, 0.0], [1.0, 0.0], [0.0, 0.0], [2.0, 0.0], [1.0, 0.0]],
    "qids": [100], "Q": [[1.0, 0.0]], "k": 5, "parts": 2, "batch": 2,
    "filter": "even",
}


@pytest.mark.parametrize("metric", ["cosine", "euclidean", "dotproduct"])
def test_every_route_matches_the_numpy_reference(spark, metric):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)

    @settings(
        max_examples=4,
        derandomize=True,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
    )
    @given(case=indexes(metric))
    # the edge cases run whatever hypothesis draws after a source edit
    @example(case=NOTHING_KEPT)
    @example(case=K_PAST_N)
    @example(case=ZERO_ROWS)
    def check(case):
        tmp = tempfile.mkdtemp(prefix="route_diff_")
        spark.conf.set(key, str(case["batch"]))
        try:
            zero_query = metric == "cosine" and not all(any(q) for q in case["Q"])
            for name, build in _routes(spark, case, metric, tmp):
                if zero_query:
                    with pytest.raises(Exception, match="zero-norm query"):
                        build().collect()
                else:
                    check_route(name, build().collect(), case, metric)
        finally:
            spark.conf.set(key, before)
            shutil.rmtree(tmp, ignore_errors=True)

    check()


@pytest.mark.parametrize("route", ["topk_search", "ivfpq", "ivfpq_spark"])
def test_zero_norm_row_is_never_returned_under_cosine(spark, route, tmp_path):
    """Under cosine a zero-norm row has no score. The GEMM scan always
    dropped it; the SQL path and the IVFPQ kernel returned it last
    with a NULL score when k reached it."""
    case = {
        "ids": [1, 2, 3], "V": [[1.0, 0.0], [0.0, 0.0], [1.0, 1.0]],
        "qids": [100], "Q": [[1.0, 0.0]], "k": 3, "parts": 1, "batch": 4,
        "filter": None,
    }
    rows = dict(_routes(spark, case, "cosine", str(tmp_path)))[route]().collect()
    assert [r["vec_id"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 3]


@pytest.mark.parametrize("flt", [None, "none"])
def test_zero_norm_query_raises_on_every_route_under_cosine(spark, flt, tmp_path):
    """A zero-norm query has no cosine with any row. Every route raises
    for it, also when the filter keeps no row."""
    case = {
        "ids": [1, 2], "V": [[1.0, 0.0], [0.0, 1.0]],
        "qids": [100, 101], "Q": [[1.0, 0.0], [0.0, 0.0]], "k": 2,
        "parts": 1, "batch": 4, "filter": flt,
    }
    for name, build in _routes(spark, case, "cosine", str(tmp_path)):
        with pytest.raises(Exception, match="zero-norm query"):
            build().collect()
