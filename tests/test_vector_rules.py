"""The one vector ranking core: a source scan that keeps each ranking
rule in one place, and the malformed inputs the shared kernel and the
centroid checks refuse."""

import pathlib
import re

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
    # the GEMM block kernel: ann.gemm_topk
    assert _holders(srcs, re.escape("np.argpartition")) == {"operators/ann.py": 1}
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
        ann.assign_centroids(df, cents, "cosine")
    with pytest.raises(ValueError, match="centroid 0 has norm 0"):
        ann.assign_centroids_gemm(df, cents, "cosine")
    for fast in (True, False):
        with pytest.raises(ValueError, match="centroid 0 has norm 0"):
            ann.write_ivf_index(df, str(tmp_path / f"ivf{fast}"), cents, fast=fast)
    # a zero vector is an ordinary centroid under euclidean
    assigned = ann.assign_centroids_gemm(df, cents, "euclidean")
    assert assigned.filter(F.col("vec_id") == 0).first()["centroid_id"] == 0
