"""Persistent lexical index (sources/lexical_index.py): probe parity
with the raw operators, incremental upsert ≡ rebuild, stale-postings
deletion, df-cap, bounded probe, and the streaming maintenance path.
"""

import os

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.hybrid import (
    bm25_topk,
    lexical_topk,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.lexical_index import (
    LexicalIndex,
)

DOCS = [
    (0, "spark engine for large scale data"),
    (1, "vector search with embeddings and spark"),
    (2, "the quick brown fox jumps over the lazy dog"),
    (3, "embeddings power vector search engines"),
    (4, "data pipelines at large scale need spark"),
    (5, "completely unrelated text about cooking pasta"),
    (6, "spark spark spark repeated token document"),
    (7, ""),  # token-free doc: counts toward N, not avgdl
]


def _docs_df(spark, rows=DOCS):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _queries_df(spark):
    return spark.createDataFrame(
        [(100, "vector search spark"), (101, "large scale data pipelines")],
        "query_id long, text string",
    )


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


@pytest.fixture()
def index(spark, tmp_path):
    idx = LexicalIndex(spark, str(tmp_path / "lex"))
    idx.create(_docs_df(spark), term_buckets=8, doc_buckets=4)
    return idx


def test_lexical_probe_matches_raw_operator(spark, index):
    q = _queries_df(spark)
    raw = lexical_topk(q, _docs_df(spark), k=5, df_cap=None)
    idxed = index.lexical_topk(q, k=5, df_cap=None)
    assert _rows(idxed, "query_id", "lex_rank") == _rows(
        raw, "query_id", "lex_rank"
    )


def test_bm25_probe_matches_raw_operator(spark, index):
    q = _queries_df(spark)
    raw = bm25_topk(q, _docs_df(spark), k=5, df_cap=None)
    idxed = index.bm25_topk(q, k=5, df_cap=None)
    assert _rows(idxed, "query_id", "bm25_rank") == _rows(
        raw, "query_id", "bm25_rank"
    )


def test_df_cap_active_in_probe(spark, index):
    # 'spark' appears in 4/8 docs = 0.5 of N; a 0.4-ratio cap drops it
    q = spark.createDataFrame([(1, "spark")], "query_id long, text string")
    capped = index.lexical_topk(q, k=10, df_cap=0.4)
    assert capped.count() == 0
    uncapped = index.lexical_topk(q, k=10, df_cap=None)
    assert uncapped.count() == 4


@pytest.mark.parametrize("df_cap", [0, 0.0, -1])
def test_probe_rejects_nonpositive_df_cap(spark, index, df_cap):
    """A cap <= 0 raises on the indexed probe exactly as on the raw
    operators — never a silent empty answer."""
    q = _queries_df(spark)
    for raw, probe in (
        (lexical_topk, index.lexical_topk),
        (bm25_topk, index.bm25_topk),
    ):
        with pytest.raises(ValueError, match="df_cap must be positive"):
            raw(q, _docs_df(spark), k=5, df_cap=df_cap)
        with pytest.raises(ValueError, match="df_cap must be positive"):
            probe(q, k=5, df_cap=df_cap)


def test_corpus_stats_count_tokenfree_docs(spark, index):
    row = index.corpus_stats().first()
    assert row["n"] == len(DOCS)
    # avgdl over tokenized docs only — the raw operators' convention
    dls = [len(t.split()) for _, t in DOCS if t.strip()]
    assert row["avgdl"] == pytest.approx(sum(dls) / len(dls))


def test_corpus_stats_cached_in_sidecar_and_maintained(spark, index):
    """(n, avgdl) live in the sidecar: corpus_stats is a local relation
    (no doc-store scan in the probe plan) and every mutation refreshes
    it to exactly what a doc-store scan computes."""
    props = index.properties()
    assert props["n"] == len(DOCS)
    plan = index.corpus_stats()._jdf.queryExecution().executedPlan().toString()
    assert "parquet" not in plan.lower() and "HashAggregate" not in plan

    def stats_pair(idx):
        cached = idx.corpus_stats().first()
        scanned = idx._scan_stats().first()
        return (cached["n"], cached["avgdl"]), (scanned["n"], scanned["avgdl"])

    c, s = stats_pair(index)
    assert c == s
    # upsert: replace one doc, add one
    index.upsert(
        _docs_df(spark, [(0, "short new text"), (9, "a brand new doc")]),
        batch=1,
    )
    c, s = stats_pair(index)
    assert c == s and c[0] == len(DOCS) + 1
    # takedown shrinks stats
    index.delete_docs([0, 9, 2])
    c, s = stats_pair(index)
    assert c == s and c[0] == len(DOCS) - 2
    # pre-stats layouts (older sidecar) must be rebuilt
    stale = dict(index.properties())
    stale.pop("n"), stale.pop("avgdl")
    import json as _json

    with open(index._props_path, "w") as f:
        _json.dump(stale, f)
    with pytest.raises(ValueError, match="rebuild"):
        index.corpus_stats()


def test_upsert_equals_rebuild(spark, tmp_path):
    base = DOCS[:6]
    batch = [
        (1, "reworded vector article no longer about search"),  # replace
        (6, "fresh spark document arriving later"),  # new id
        (7, "another new doc about embeddings"),  # new id
    ]
    merged = {d[0]: d for d in base}
    merged.update({d[0]: d for d in batch})
    merged_rows = sorted(merged.values())

    up = LexicalIndex(spark, str(tmp_path / "up"))
    up.create(_docs_df(spark, base), term_buckets=8, doc_buckets=4)
    up.upsert(_docs_df(spark, batch), batch=1)

    rb = LexicalIndex(spark, str(tmp_path / "rb"))
    rb.create(_docs_df(spark, merged_rows), term_buckets=8, doc_buckets=4)

    # identical postings, doc store (modulo _batch), and probe results
    cols = ["term", "id", "tf", "dl"]
    assert _rows(up.postings().select(cols), "term", "id") == _rows(
        rb.postings().select(cols), "term", "id"
    )
    dcols = ["id", "dl", "terms"]
    assert _rows(up.doc_store().select(dcols), "id") == _rows(
        rb.doc_store().select(dcols), "id"
    )
    q = _queries_df(spark)
    assert _rows(up.bm25_topk(q, k=5), "query_id", "bm25_rank") == _rows(
        rb.bm25_topk(q, k=5), "query_id", "bm25_rank"
    )


def test_upsert_deletes_stale_postings(spark, tmp_path):
    idx = LexicalIndex(spark, str(tmp_path / "lex"))
    idx.create(_docs_df(spark), term_buckets=8, doc_buckets=4)
    # doc 5 is the only 'pasta' doc; its replacement drops the term
    idx.upsert(
        spark.createDataFrame(
            [(5, "now a document about gardening")], "doc_id long, text string"
        ),
        batch=1,
    )
    q = spark.createDataFrame([(1, "pasta cooking")], "query_id long, text string")
    assert idx.lexical_topk(q, k=10, df_cap=None).count() == 0
    q2 = spark.createDataFrame([(1, "gardening")], "query_id long, text string")
    hits = idx.lexical_topk(q2, k=10, df_cap=None).collect()
    assert [r["doc_id"] for r in hits] == [5]


def test_upsert_replay_is_idempotent(spark, tmp_path):
    idx = LexicalIndex(spark, str(tmp_path / "lex"))
    idx.create(_docs_df(spark, DOCS[:4]), term_buckets=8, doc_buckets=4)
    batch = _docs_df(spark, [(2, "replacement text"), (9, "brand new doc")])
    idx.upsert(batch, batch=1)
    before_p = _rows(idx.postings(), "term", "id")
    before_d = _rows(idx.doc_store(), "id")
    idx.upsert(batch, batch=1)  # replay: same version, same rows
    assert _rows(idx.postings(), "term", "id") == before_p
    assert _rows(idx.doc_store(), "id") == before_d


def test_probe_prunes_term_buckets(spark, index):
    """The probe's postings scan must carry a PartitionFilters entry on
    tbucket — the layout's point: query terms prune the scan."""
    q = spark.createDataFrame([(1, "spark")], "query_id long, text string")
    plan = index.lexical_topk(q, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "tbucket" in plan


def test_empty_batch_upsert_is_noop(spark, index):
    before = _rows(index.postings(), "term", "id")
    index.upsert(
        spark.createDataFrame([], "doc_id long, text string"), batch=2
    )
    assert _rows(index.postings(), "term", "id") == before


def test_streaming_lexical_ingest(spark, tmp_path):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.lexical_ingest import (
        start_lexical_ingest_stream,
    )

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    ckpt = str(tmp_path / "ckpt")
    idx = LexicalIndex(spark, str(tmp_path / "lex"))
    idx.create(_docs_df(spark, DOCS[:4]), term_buckets=8, doc_buckets=4)

    batch = [(2, "streamed replacement text"), (50, "streamed new doc")]
    _docs_df(spark, batch).write.mode("append").parquet(landing)
    start_lexical_ingest_stream(
        spark, landing, idx.path, ckpt
    ).awaitTermination(120)

    merged = {d[0]: d for d in DOCS[:4]}
    merged.update({d[0]: d for d in batch})
    rb = LexicalIndex(spark, str(tmp_path / "rb"))
    rb.create(
        _docs_df(spark, sorted(merged.values())), term_buckets=8, doc_buckets=4
    )
    cols = ["term", "id", "tf", "dl"]
    assert _rows(idx.postings().select(cols), "term", "id") == _rows(
        rb.postings().select(cols), "term", "id"
    )

    # second drop drains incrementally from the same checkpoint
    _docs_df(spark, [(51, "late arriving doc")]).write.mode("append").parquet(
        landing
    )
    start_lexical_ingest_stream(
        spark, landing, idx.path, ckpt
    ).awaitTermination(120)
    assert (
        idx.doc_store().filter(F.col("id") == 51).count() == 1
    )


def test_ingest_stream_maintains_both_signals(spark, tmp_path):
    """One document ingest stream keeps BOTH hybrid-retrieval signals
    fresh: chunks land in the vector index AND (as xxhash64(chunk_id)
    lexical docs) in the inverted-index layout, which stays equal to a
    rebuild over the vector index's own rows after every drain."""
    from pyspark.sql import functions as F

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.embed.providers import (
        HashEmbedder,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table import (
        VectorIndex,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.ingest import (
        start_ingest_stream,
    )

    landing = tmp_path / "docs"
    landing.mkdir()
    (landing / "a.txt").write_text("spark engines process large data")
    (landing / "b.txt").write_text("vector search with embeddings")

    vidx = VectorIndex(spark, str(tmp_path), "vi").create(dimension=32)
    lidx = LexicalIndex(spark, str(tmp_path / "lex")).create(
        spark.createDataFrame([], "doc_id long, text string"),
        term_buckets=8,
        doc_buckets=4,
    )
    ckpt = str(tmp_path / "ckpt")
    prov = HashEmbedder(dimension=32)

    start_ingest_stream(
        spark, str(landing), vidx, prov, ckpt, lexical_index=lidx
    ).awaitTermination(180)

    def rebuild():
        rb = LexicalIndex(spark, str(tmp_path / "rb"))
        import shutil

        shutil.rmtree(rb.path, ignore_errors=True)
        rb.create(
            vidx.read().select(
                F.xxhash64("id").alias("doc_id"), "text"
            ),
            term_buckets=8,
            doc_buckets=4,
        )
        return rb

    cols = ["term", "id", "tf", "dl"]

    def rows(idx):
        return [
            tuple(r)
            for r in idx.postings().select(cols).orderBy("term", "id").collect()
        ]

    assert rows(lidx) == rows(rebuild())
    assert lidx.doc_store().count() == vidx.read().count()

    # a later file drains incrementally and both layouts pick it up
    (landing / "c.txt").write_text("late arriving pasta recipe document")
    start_ingest_stream(
        spark, str(landing), vidx, prov, ckpt, lexical_index=lidx
    ).awaitTermination(180)
    assert rows(lidx) == rows(rebuild())
    q = spark.createDataFrame([(1, "pasta")], "query_id long, text string")
    assert lidx.lexical_topk(q, k=5, df_cap=None).count() == 1


def test_file_count_bounded_under_many_hot_batches(spark, tmp_path):
    """Sustained micro-batches hitting the SAME hot buckets must not
    accumulate files: every upsert rewrites each touched bucket dir
    wholesale (repartition-by-bucket -> one file per bucket) and the
    swap deletes the _old_ aside — so a bucket dir holds exactly one
    data file no matter how many batches touched it. 100-batch run:
    SCALE.md, lexical-index file-count trajectory."""
    import os

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.lexical_index import (
        LexicalIndex,
    )

    path = str(tmp_path / "lexfiles")
    seed = spark.createDataFrame(
        [(i, "alpha beta gamma shared") for i in range(20)],
        "doc_id long, text string",
    )
    idx = LexicalIndex(spark, path).create(seed, term_buckets=4, doc_buckets=2)

    def max_files():
        worst = 0
        for dirpath, _, files in os.walk(path):
            worst = max(worst, sum(1 for f in files if f.endswith(".parquet")))
        return worst

    for b in range(1, 13):
        batch = spark.createDataFrame(
            [(i, f"alpha beta batch{b}") for i in range(5)],
            "doc_id long, text string",
        )
        idx.upsert(batch, batch=b)
        assert max_files() == 1, f"file growth at batch {b}"


# -- round 11: the per-term df sidecar ---------------------------------

def _brute_df(spark, rows):
    toks = (
        _docs_df(spark, rows)
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    return {
        r["term"]: r["df"]
        for r in toks.groupBy("term").agg(F.count("*").alias("df")).collect()
    }


def _sidecar_df(index):
    return {r["term"]: r["df"] for r in index.termdf().collect()}


def test_termdf_matches_brute_force_after_create(spark, index):
    assert _sidecar_df(index) == _brute_df(spark, DOCS)


def test_termdf_maintained_by_upsert_and_delete(spark, tmp_path):
    idx = LexicalIndex(spark, str(tmp_path / "lex-df"))
    idx.create(_docs_df(spark), term_buckets=8, doc_buckets=4)
    # upsert: replace doc 0 (its old terms' df drop), add doc 8
    new_rows = [
        (0, "replacement text entirely new tokens"),
        (8, "spark appears here too"),
    ]
    idx.upsert(_docs_df(spark, new_rows), batch=1)
    merged = [r for r in DOCS if r[0] != 0] + new_rows
    assert _sidecar_df(idx) == _brute_df(spark, merged)
    # delete: docs 1 and 6 vanish from the df counts
    idx.delete_docs([1, 6])
    left = [r for r in merged if r[0] not in (1, 6)]
    assert _sidecar_df(idx) == _brute_df(spark, left)


def test_probe_skips_termdf_blocked_terms_with_identical_results(
    spark, index
):
    # 'spark' appears in 4/8 docs -> over a 0.4 ratio cap; the probe
    # drops it from the termdf sidecar's df BEFORE the postings scan
    # and results must equal the raw operator's (which drops it after
    # counting).
    q = _queries_df(spark)
    raw = lexical_topk(q, _docs_df(spark), k=5, df_cap=0.4)
    idxed = index.lexical_topk(q, k=5, df_cap=0.4)
    assert _rows(idxed, "query_id", "lex_rank") == _rows(
        raw, "query_id", "lex_rank"
    )
    bm_raw = bm25_topk(q, _docs_df(spark), k=5, df_cap=0.4)
    bm_idx = index.bm25_topk(q, k=5, df_cap=0.4)
    assert _rows(bm_idx, "query_id", "bm25_rank") == _rows(
        bm_raw, "query_id", "bm25_rank"
    )


def test_legacy_layout_without_termdf_requires_rebuild(spark, index):
    # simulate a layout built before the termdf sidecar: probes and
    # mutations raise before reading or writing anything
    import hashlib
    import shutil
    from pathlib import Path

    def files():
        return {
            os.path.join(d, f): hashlib.md5(Path(d, f).read_bytes()).hexdigest()
            for d, _, fs in os.walk(index.path)
            for f in fs
        }

    shutil.rmtree(index._termdf_path)
    before = files()
    q = _queries_df(spark)
    with pytest.raises(ValueError, match="rebuild"):
        index.lexical_topk(q, k=5, df_cap=0.4)
    with pytest.raises(ValueError, match="rebuild"):
        index.bm25_topk(q, k=5, df_cap=0.4)
    with pytest.raises(ValueError, match="rebuild"):
        index.upsert(_docs_df(spark, [(9, "spark adoption probe")]), batch=2)
    with pytest.raises(ValueError, match="rebuild"):
        index.delete_docs([0])
    assert files() == before
