"""The one vector ranking core: a source scan that keeps each ranking
rule and each kernel in one place, the tie rule every route follows,
and the malformed inputs the shared kernel and the centroid checks
refuse."""

import ast
import pathlib
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
    ann,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
    topk_search_gemm,
)

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "retrieval_augmented_generation__rag__chatbot_with_vector_database_spark"
)


def _sources(*dirs):
    return {
        str(p.relative_to(PKG)): p.read_text()
        for d in dirs
        for p in sorted((PKG / d).rglob("*.py"))
    }


def _holders(srcs, pattern):
    """{file: match count} of the files matching ``pattern``."""
    found = {f: len(re.findall(pattern, s)) for f, s in srcs.items()}
    return {f: n for f, n in found.items() if n}


def test_each_vector_ranking_rule_is_written_once():
    srcs = _sources("operators", "functions")
    # null-safe cosine: functions.vector.cosine_from
    assert _holders(srcs, re.escape("denom != 0.0")) == {"functions/vector.py": 1}
    # metric order: functions.vector.smaller_is_better (the remaining
    # `if metric == "euclidean":` branches pick a formula, not an order)
    assert _holders(srcs, r'metric == "euclidean"(?!:)') == {"functions/vector.py": 1}
    # the GEMM block kernel: ann.gemm_topk (its k-th-key cut keeps
    # every row tied at the k-th place)
    assert _holders(srcs, re.escape("np.partition(")) == {"operators/ann.py": 1}
    assert _holders(srcs, re.escape("np.argpartition")) == {}
    # the Arrow vector decode: ann.list_matrix
    assert _holders(srcs, r"\.flatten\(\)\s*\.to_numpy\(") == {}
    assert _holders(srcs, r"ChunkedArray") == {}
    # the per-query vector top-k window: topk.rank_top_k
    windows = {
        f: [s[m.end() : m.end() + 200] for m in re.finditer(r'partitionBy\("query_id"\)', s)]
        for f, s in srcs.items()
    }
    markers = ('"vec_id"', '"score"', '"adc_dist"', "_order(")
    vector_windows = {
        f: n
        for f, n in (
            (f, sum(any(m in w for m in markers) for w in ws))
            for f, ws in windows.items()
        )
        if n
    }
    assert vector_windows == {"operators/topk.py": 1}


def test_each_operation_has_one_kernel():
    """No kernel twin and no switch that picks one: no ``fast``,
    ``assigned`` or ``algorithm`` option (a parameter with a default;
    a required DataFrame argument named ``assigned`` is data, not a
    switch), none of the deleted twins, and one mapInArrow
    centroid-assignment kernel (a function whose kernel appends an
    ``int`` column holding an argmax/argmin)."""
    srcs = _sources("operators")
    trees = {f: ast.parse(s) for f, s in srcs.items()}

    def options(args):
        positional = args.posonlyargs + args.args
        yield from positional[len(positional) - len(args.defaults):]
        yield from (a for a, d in zip(args.kwonlyargs, args.kw_defaults) if d)

    switches = {
        (f, getattr(node, "name", "lambda"), a.arg)
        for f, tree in trees.items()
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.Lambda))
        for a in options(node.args)
        if a.arg in ("fast", "assigned", "algorithm")
    }
    assert switches == set()
    top = [
        (f, fn, ast.get_source_segment(srcs[f], fn))
        for f, tree in trees.items()
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
    ]
    gone = {"_best_centroids", "_centroid_literal", "assign_centroids",
            "ivf_topk", "connected_components_star", "topk_single"}
    assert {fn.name for _, fn, _ in top} & gone == set()
    assigners = [
        (f, fn.name)
        for f, fn, src in top
        if ".mapInArrow(" in src
        and re.search(r"np\.arg(max|min)\(", src)
        and re.search(r' int"\s*\]', src)
    ]
    assert assigners == [("operators/ann.py", "assign_centroids_gemm")]


def test_one_probe_plan_and_plain_kernels():
    """The probe plan (each query's nprobe centroids, bucket → queries)
    is ``ann.probe_plan`` alone; the GEMM and IVFPQ kernels are
    module-level functions bound with ``functools.partial`` over numpy
    arrays, so no payload is JSON-encoded for a task to decode; flat PQ
    is the one-list IVFPQ probe (no ``pq_topk``, and
    ``pq_topk_rerank`` takes no separate index or metric); PQ kernels
    decode vectors through ``ann.list_matrix``."""
    import inspect

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        pq,
    )

    srcs = _sources("operators")
    assert _holders(srcs, r"def probe_plan\(") == {"operators/ann.py": 1}
    assert _holders(srcs, r":nprobe\]") == {"operators/ann.py": 1}
    assert _holders(srcs, r"json\.loads\(") == {}
    assert "json.dumps(" not in srcs["operators/pq.py"]
    assert _holders({"pq": srcs["operators/pq.py"]}, r"to_py(list|dict)\(") == {}
    tree = ast.parse(srcs["operators/pq.py"])
    assert "pq_topk" not in {fn.name for fn in tree.body if isinstance(fn, ast.FunctionDef)}
    params = inspect.signature(pq.pq_topk_rerank).parameters
    assert "index" not in params and "metric" not in params
    # the kernels are bound where the probes are prepared
    binds = {("operators/ann.py", "_gemm_kernel"), ("operators/pq.py", "ivfpq_probe")}
    for f, name in sorted(binds | {
        ("operators/ann.py", "gemm_topk"), ("operators/ann.py", "ivf_probe"),
        ("operators/pq.py", "ivfpq_topk_rerank"),
    }):
        fn = next(
            n for n in ast.parse(srcs[f]).body
            if isinstance(n, ast.FunctionDef) and n.name == name
        )
        nested = [n.name for n in ast.walk(fn) if isinstance(n, ast.FunctionDef) and n is not fn]
        assert nested == [], (name, nested)
        if (f, name) in binds:
            assert "partial(" in ast.get_source_segment(srcs[f], fn), name


def test_one_layout_space_and_a_sidecar_probe():
    """An IVFPQ layout's space is entered in one function of pq.py:
    every call that applies ``_unit_normalized``, ``mips_augmented`` or
    ``rotate_vectors`` to layout rows sits in the same top-level
    function. The probe takes the layout's space from its sidecar, not
    as loose arguments, and the IVF upsert takes its centroids from the
    sidecar alone."""
    import inspect

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        pq,
    )

    transforms = {"_unit_normalized", "mips_augmented", "rotate_vectors"}
    tree = ast.parse(_sources("operators")["operators/pq.py"])
    callers = {
        (fn.name, call.func.id)
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
        for call in ast.walk(fn)
        if isinstance(call, ast.Call)
        and isinstance(call.func, ast.Name)
        and call.func.id in transforms
    }
    assert {name for _, name in callers} == transforms
    assert len({fn for fn, _ in callers}) == 1, sorted(callers)
    params = set(inspect.signature(pq.ivfpq_topk_rerank).parameters)
    loose = {"centroids", "codebooks", "residual", "normalized", "mips",
             "rotation", "metric"}
    assert params & loose == set()
    assert "centroids" not in inspect.signature(ann.upsert_ivf_index).parameters


def test_each_lexical_weight_is_written_once():
    srcs = _sources("operators", "sources")
    lexical = {f: s for f, s in srcs.items() if f in ("operators/hybrid.py", "sources/lexical_index.py")}
    # smoothed TF-IDF idf and BM25 idf: hybrid.smoothed_idf / bm25_idf
    assert _holders(lexical, re.escape("F.ln(")) == {"operators/hybrid.py": 2}
    # BM25 term weight: hybrid.bm25_weight
    assert _holders(srcs, re.escape("(k1 + 1.0)")) == {"operators/hybrid.py": 1}


@pytest.fixture()
def ragged(spark):
    """[1.0] and [0.0, 1.0, 5.0] in one partition: a decode that
    reshapes the flat values buffer by row count would read row 0 as
    [1.0, 0.0] and row 1 as [1.0, 5.0]."""
    return spark.createDataFrame(
        [(0, [1.0]), (1, [0.0, 1.0, 5.0])], "vec_id long, embedding array<double>"
    ).coalesce(1)


def test_ragged_vectors_raise(spark, ragged):
    q = spark.createDataFrame(
        [(0, [1.0, 0.0, 1.0])], "query_id long, qvec array<double>"
    )
    cents = [(0, [1.0, 0.0, 1.0])]
    with pytest.raises(Exception, match="fixed-width"):
        topk_search_gemm(q, ragged, k=2, metric="euclidean").collect()
    with pytest.raises(Exception, match="fixed-width"):
        ann.ivf_topk_gemm(
            q, ragged.withColumn("centroid_id", F.lit(0)), cents, k=2,
            nprobe=1, metric="euclidean",
        ).collect()
    with pytest.raises(Exception, match="fixed-width"):
        ann.assign_centroids_gemm(ragged, cents, "euclidean").collect()


def test_zero_norm_centroid_raises_under_cosine(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 2)]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    cents = ann.seed_centroids(df, 3)
    assert [0.0, 0.0] in [v for _, v in cents]
    with pytest.raises(ValueError, match="centroid 0 has norm 0"):
        ann.assign_centroids_gemm(df, cents, "cosine")
    with pytest.raises(ValueError, match="centroid 0 has norm 0"):
        ann.write_ivf_index(df, str(tmp_path / "ivf"), cents)
    # a zero vector is an ordinary centroid under euclidean
    assigned = ann.assign_centroids_gemm(df, cents, "euclidean")
    assert assigned.filter(F.col("vec_id") == 0).first()["centroid_id"] == 0


@pytest.mark.parametrize("metric", ["cosine", "euclidean", "dotproduct"])
def test_gemm_ties_break_by_lowest_vec_id(spark, metric):
    """40 exact copies of the query among 200 rows, shuffled ids, one
    partition and one Arrow batch: the GEMM scan and the IVF probe over
    every list must return the 5 lowest copy ids, the engine's
    (score, vec_id) rule. A per-batch top-k cut that keeps an arbitrary
    subset of the rows tied at the k-th place fails this."""
    rng = np.random.default_rng(3)
    q = rng.normal(size=8)
    # the other rows are short, so no dot product reaches |q|^2
    vecs = 0.1 * rng.normal(size=(200, 8))
    copies = rng.choice(200, size=40, replace=False)
    vecs[copies] = q
    ids = rng.permutation(1000)[:200]
    index = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    queries = spark.createDataFrame(
        [(0, [float(x) for x in q])], "query_id long, qvec array<double>"
    )
    want = sorted(ids[copies].tolist())[:5]

    def ranked(df):
        return [r["vec_id"] for r in sorted(df.collect(), key=lambda r: r["rank"])]

    assert ranked(topk_search_gemm(queries, index, k=5, metric=metric)) == want
    cents = ann.seed_centroids(index, 4)
    assigned = ann.assign_centroids_gemm(index, cents, metric)
    assert ranked(
        ann.ivf_topk_gemm(queries, assigned, cents, k=5, nprobe=len(cents), metric=metric)
    ) == want
