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
    textstats,
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
    # the 2 jobs of the query-matrix collect: a small layout probe runs
    # on the driver (5 each while every probe ran on Spark)
    "search_ivfpq": 2,
    "search_ivf": 2,
    # the filter folds into the probed rows' local relation
    "search_ivfpq_filtered": 2,
    # the Spark executor: query collect, mapInArrow and the window (5
    # while the layout read inferred its schema)
    "search_ivfpq_spark": 4,
    "search_exact": 4,
    # the one-list IVFPQ probe: one mapInArrow and the final window
    # (7 when it was an ADC pass, two broadcast joins and two windows)
    "pq_topk_rerank": 4,
    # the layout, index and lexical reads take their schema from a
    # footer, not from an inference job (13, 10, 7, 13, 9 before)
    "upsert_ivfpq_index": 12,
    "VectorIndex.upsert": 8,
    "LexicalIndex.bm25_topk": 6,
    "duplicate_groups": 30,
    # a normalized layout with meta_cols
    "write_ivfpq_index": 2,
    # a MIPS layout (13 while the retrain ran the M aggregate twice)
    "retrain_ivfpq_index": 11,
    "upsert_ivf_index": 12,
    "delete_ivfpq_ids": 8,
    # create() writes the postings, term-df and doc store from worker
    # threads; they carry the caller's job group, so all 16 count (the
    # ceiling was 4 while those threads' jobs went uncounted)
    "LexicalIndex.create": 16,
    "gopher_repetition_gate": 20,
}


def count_jobs(spark, fn) -> int:
    """Jobs started by ``fn()`` in its own job group: on this thread,
    and on the engine's worker threads, which inherit it."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def on_spark(call):
    """``call`` with every layout probe on the Spark executor."""

    def run():
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(search, "DRIVER_PROBE_BYTES", 0)
            return call()

    return run


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
    pq.write_ivfpq_index(emb, f"{root}/ivfpq_del", cents, books)
    ann.write_ivf_index(emb, f"{root}/ivf", cents, metric="cosine")
    ann.write_ivf_index(emb, f"{root}/ivf_up", cents, metric="cosine")
    # a MIPS layout: its retrain enters the augmented space with M
    aug = pq.mips_augmented(emb, "embedding", pq.mips_max_norm(emb), 18)
    aug_cents = ann.seed_centroids(aug, 8)
    aug_books = pq.train_pq_codebooks_residual(aug, aug_cents, m=6, k=16)
    pq.write_ivfpq_index(emb, f"{root}/ivfpq_mips", aug_cents, aug_books, mips=True)
    with_source = emb.withColumn("source", F.concat(F.lit("s"), (F.col("vec_id") % 3).cast("string")))
    pq.write_ivfpq_index(
        with_source, f"{root}/ivfpq_src", cents, books, normalize=True,
        meta_cols=["source"],
    )
    encoded = pq.pq_encode(emb, books, carry_cols=["embedding"])
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]]

    def queries():
        return spark.createDataFrame([(0, qvec)], "query_id long, qvec array<float>")

    vi = VectorIndex(spark, root, "vi").create(dimension=8)
    vi.upsert(_records(spark, range(40)), batch=1)
    lex_docs = spark.createDataFrame(
        [(i, f"spark vector {i % 7} search doc{i}") for i in range(60)],
        "doc_id long, text string",
    )
    lex = LexicalIndex(spark, f"{root}/lex").create(
        lex_docs, term_buckets=4, doc_buckets=2
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 7), (7, 8), (8, 6), (10, 11)],
        "id_a long, id_b long",
    )
    fresh = emb.filter(F.col("vec_id") < 20).withColumn("vec_id", F.col("vec_id") + 10_000)
    gopher_docs = spark.createDataFrame(
        [(i, " ".join(["the cat sat"] * (i % 4 + 1) + [f"word{i}"] * 3)) for i in range(30)],
        "doc_id long, text string",
    )
    yield {
        "search_ivfpq": lambda: search.search(
            queries(), None, k=5, metric="euclidean", layout_path=f"{root}/ivfpq"
        ).collect(),
        "search_ivfpq_filtered": lambda: search.search(
            queries(), None, k=5, metric="cosine",
            layout_path=f"{root}/ivfpq_src", pre_filter=F.col("source") == "s1",
        ).collect(),
        "search_ivfpq_spark": on_spark(lambda: search.search(
            queries(), None, k=5, metric="euclidean", layout_path=f"{root}/ivfpq"
        ).collect()),
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
        "write_ivfpq_index": lambda: pq.write_ivfpq_index(
            with_source, f"{root}/ivfpq_cos", cents, books, normalize=True,
            meta_cols=["source"],
        ),
        "retrain_ivfpq_index": lambda: pq.retrain_ivfpq_index(
            spark, f"{root}/ivfpq_mips", emb
        ),
        "upsert_ivf_index": lambda: ann.upsert_ivf_index(spark, f"{root}/ivf_up", fresh),
        "delete_ivfpq_ids": lambda: pq.delete_ivfpq_ids(spark, f"{root}/ivfpq_del", [1, 2, 3]),
        "LexicalIndex.create": lambda: LexicalIndex(
            spark, f"{root}/lex_{uuid.uuid4().hex}"
        ).create(lex_docs, term_buckets=4, doc_buckets=2),
        "gopher_repetition_gate": lambda: textstats.gopher_repetition_gate(
            gopher_docs
        ).collect(),
    }
    for k, v in before.items():
        spark.conf.set(k, v)


@pytest.mark.parametrize("name", sorted(CEILINGS))
def test_call_stays_within_its_job_ceiling(spark, calls, name):
    n = count_jobs(spark, calls[name])
    assert n <= CEILINGS[name], f"{name} started {n} jobs, ceiling {CEILINGS[name]}"
