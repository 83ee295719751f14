"""Job ceilings for the public calls: the Spark jobs one call starts,
counted in its own job group with ``statusTracker().getJobIdsForGroup``.

At these sizes a call's cost is its number of Spark jobs, and no other
test sees that number, so a change that adds a job to every request
would pass everything else. Each ceiling is the count measured when it
was set; a change that lowers a count lowers its ceiling, and raising
one needs a reason in CHANGES.md. The inputs and the session settings
that change job counts (shuffle partitions, AQE) are fixed here.
"""

import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
    ann,
    dedup,
    pq,
    search,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table import (
    VectorIndex,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.lexical_index import (
    LexicalIndex,
)

SESSION = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.enabled": "true",
}

#: call → the most jobs it may start (collect included)
CEILINGS = {
    "search_ivfpq": 5,
    "search_ivf": 5,
    "search_exact": 4,
    # the one-list IVFPQ probe: one mapInArrow and the final window
    # (7 when it was an ADC pass, two broadcast joins and two windows)
    "pq_topk_rerank": 4,
    "upsert_ivfpq_index": 13,
    "VectorIndex.upsert": 10,
    "LexicalIndex.bm25_topk": 7,
    "duplicate_groups": 30,
}


def count_jobs(spark, fn) -> int:
    """Jobs started by ``fn()`` on this thread."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _records(spark, ids, dim=8):
    return spark.createDataFrame(
        [(f"id{i}", [float((i * j) % 5) for j in range(dim)], f"text {i}", "src", 0)
         for i in ids],
        "id string, embedding array<float>, text string, source string, "
        "chunk_index int",
    )


@pytest.fixture(scope="module")
def calls(spark, tmp_path_factory):
    """name → a zero-argument call, over inputs built once."""
    before = {k: spark.conf.get(k) for k in SESSION}
    for k, v in SESSION.items():
        spark.conf.set(k, v)
    root = str(tmp_path_factory.mktemp("job_budget"))
    rng = np.random.default_rng(7)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=16)]) for i in range(400)],
        "vec_id long, embedding array<float>",
    )
    books = pq.train_pq_codebooks(emb, m=8, k=16)
    cents = ann.seed_centroids(emb, 8)
    pq.write_ivfpq_index(emb, f"{root}/ivfpq", cents, books)
    ann.write_ivf_index(emb, f"{root}/ivf", cents, metric="cosine")
    encoded = pq.pq_encode(emb, books, carry_cols=["embedding"])
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]]

    def queries():
        return spark.createDataFrame([(0, qvec)], "query_id long, qvec array<float>")

    vi = VectorIndex(spark, root, "vi").create(dimension=8)
    vi.upsert(_records(spark, range(40)), batch=1)
    lex = LexicalIndex(spark, f"{root}/lex").create(
        spark.createDataFrame(
            [(i, f"spark vector {i % 7} search doc{i}") for i in range(60)],
            "doc_id long, text string",
        ),
        term_buckets=4,
        doc_buckets=2,
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 7), (7, 8), (8, 6), (10, 11)],
        "id_a long, id_b long",
    )
    fresh = emb.filter(F.col("vec_id") < 20).withColumn("vec_id", F.col("vec_id") + 10_000)
    yield {
        "search_ivfpq": lambda: search.search(
            queries(), None, k=5, metric="euclidean", layout_path=f"{root}/ivfpq"
        ).collect(),
        "search_ivf": lambda: search.search(
            queries(), None, k=5, metric="cosine", layout_path=f"{root}/ivf"
        ).collect(),
        "search_exact": lambda: search.search(
            queries(), emb, k=5, metric="cosine"
        ).collect(),
        "pq_topk_rerank": lambda: pq.pq_topk_rerank(
            queries(), encoded, books, k=5, fetch_k=50
        ).collect(),
        "upsert_ivfpq_index": lambda: pq.upsert_ivfpq_index(
            spark, f"{root}/ivfpq", fresh
        ),
        "VectorIndex.upsert": lambda: vi.upsert(_records(spark, range(30, 50)), batch=2),
        "LexicalIndex.bm25_topk": lambda: lex.bm25_topk(
            spark.createDataFrame([(0, "spark search doc3")], "query_id long, text string"),
            k=5,
        ).collect(),
        "duplicate_groups": lambda: dedup.duplicate_groups(pairs).collect(),
    }
    for k, v in before.items():
        spark.conf.set(k, v)


@pytest.mark.parametrize("name", sorted(CEILINGS))
def test_call_stays_within_its_job_ceiling(spark, calls, name):
    n = count_jobs(spark, calls[name])
    assert n <= CEILINGS[name], f"{name} started {n} jobs, ceiling {CEILINGS[name]}"
