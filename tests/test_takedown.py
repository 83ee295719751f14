"""Per-id takedown (right-to-be-forgotten) propagation across the
persisted layouts: vector index and lexical index."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table import (
    VectorIndex,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.lexical_index import (
    LexicalIndex,
)

REC_COLS = (
    "id string, embedding array<float>, text string, source string, "
    "chunk_index int"
)


def _vec_index(spark, tmp_path, n=12):
    idx = VectorIndex(spark, str(tmp_path), "idx-del").create(dimension=2)
    rows = [(f"id{i}", [float(i), 1.0], f"t{i}", "s", 0) for i in range(n)]
    idx.upsert(spark.createDataFrame(rows, REC_COLS), batch=1)
    return idx


def test_vector_delete_ids_removes_only_targets(spark, tmp_path):
    idx = _vec_index(spark, tmp_path)
    assert idx.delete_ids(["id3", "id7"]) == 2  # deleted-row audit count
    left = {r["id"] for r in idx.read().collect()}
    assert left == {f"id{i}" for i in range(12)} - {"id3", "id7"}


def test_vector_delete_rewrites_only_touched_buckets(spark, tmp_path):
    idx = _vec_index(spark, tmp_path)
    data = idx._data_path
    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(data, "bucket=*", "*.parquet"))
    }
    # find which bucket holds id5 so we know what must change
    target_bucket = (
        idx.spark.read.parquet(data)
        .filter(F.col("id") == "id5")
        .select("bucket")
        .first()["bucket"]
    )
    idx.delete_ids(["id5"])
    after = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(data, "bucket=*", "*.parquet"))
    }
    for p, t in after.items():
        b = int(p.split("bucket=")[1].split(os.sep)[0])
        if b != target_bucket:
            assert p in before and before[p] == t, f"untouched {p} rewritten"


def test_vector_delete_absent_ids_noop_and_empty_index(spark, tmp_path):
    idx = _vec_index(spark, tmp_path, n=3)
    assert idx.delete_ids(["nope"]) == 0
    fresh = VectorIndex(spark, str(tmp_path), "idx-fresh").create(dimension=2)
    assert fresh.delete_ids(["anything"]) == 0 and fresh.read().count() == 0


DOCS = [
    (0, "spark engine for large scale data"),
    (1, "vector search with embeddings and spark"),
    (2, "the quick brown fox jumps over the lazy dog"),
    (3, "embeddings power vector search engines"),
]


def _lex_index(spark, tmp_path):
    idx = LexicalIndex(spark, str(tmp_path / "lexdel"))
    idx.create(
        spark.createDataFrame(DOCS, "doc_id long, text string"),
        term_buckets=8,
        doc_buckets=4,
    )
    return idx


def test_lexical_delete_docs_equals_rebuild_without_them(spark, tmp_path):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.hybrid import (
        bm25_topk,
    )

    idx = _lex_index(spark, tmp_path)
    idx.delete_docs([1, 3])
    q = spark.createDataFrame(
        [(100, "vector search spark")], "query_id long, text string"
    )
    got = idx.bm25_topk(q, k=10, df_cap=None)
    remaining = spark.createDataFrame(
        [DOCS[0], DOCS[2]], "doc_id long, text string"
    )
    want = bm25_topk(q, remaining, k=10, df_cap=None)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # deleted docs are fully gone from both halves
    assert idx.doc_store().filter(F.col("id").isin([1, 3])).count() == 0
    assert idx.postings().filter(F.col("id").isin([1, 3])).count() == 0


def test_lexical_delete_shrinks_corpus_stats(spark, tmp_path):
    idx = _lex_index(spark, tmp_path)
    n_before = idx.corpus_stats().first()["n"]
    idx.delete_docs([2])
    assert idx.corpus_stats().first()["n"] == n_before - 1


def test_lexical_delete_is_idempotent(spark, tmp_path):
    idx = _lex_index(spark, tmp_path)
    idx.delete_docs([0])
    before = sorted(map(tuple, idx.postings().collect()))
    idx.delete_docs([0])  # crash-recovery re-run converges
    assert sorted(map(tuple, idx.postings().collect())) == before


def test_cross_layout_takedown_composes(spark, tmp_path):
    """One takedown call per layout removes the doc everywhere a
    search could surface it."""
    vec = VectorIndex(spark, str(tmp_path), "xidx").create(dimension=2)
    vec.upsert(
        spark.createDataFrame(
            [(str(i), [float(i), 1.0], t, "s", 0) for i, t in DOCS], REC_COLS
        ),
        batch=1,
    )
    lex = _lex_index(spark, tmp_path)
    vec.delete_ids(["1"])
    lex.delete_docs([1])
    assert vec.read().filter(F.col("id") == "1").count() == 0
    assert lex.doc_store().filter(F.col("id") == 1).count() == 0


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_ivf_delete_ids_touched_partitions_only(spark, tmp_path):
    """Float-IVF layout takedown: targets gone, survivors intact,
    untouched centroid partitions byte-identical (mtime), deletions
    counted as staleness drift, absent ids a no-op."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
    )

    emb = _emb(spark)
    path = str(tmp_path / "ivf-del")
    cents = ann.seed_centroids(emb, 8)
    ann.write_ivf_index(emb, path, cents, metric="cosine")
    n0 = spark.read.parquet(path).count()
    victim_parts = {
        r["centroid_id"]
        for r in spark.read.parquet(path)
        .filter(F.col("vec_id").isin(3, 7))
        .select("centroid_id")
        .collect()
    }
    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(path, "centroid_id=*", "*.parquet"))
    }
    stats = ann.delete_ivf_ids(spark, path, [3, 7])
    assert stats["n_deleted"] == 2
    assert set(stats["touched"]) == victim_parts
    left = spark.read.parquet(path)
    assert left.count() == n0 - 2
    assert left.filter(F.col("vec_id").isin(3, 7)).count() == 0
    after = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(path, "centroid_id=*", "*.parquet"))
    }
    for p, t in after.items():
        c = int(p.split("centroid_id=")[1].split(os.sep)[0])
        if c not in victim_parts:
            assert p in before and before[p] == t, f"untouched {p} rewritten"
    # churn drives staleness: 2 deleted / n0 built
    assert abs(ann.ivf_staleness(path) - 2 / n0) < 1e-12
    # absent ids: no-op, no partition touched
    assert ann.delete_ivf_ids(spark, path, [999_999])["n_deleted"] == 0
    # idempotent: already-deleted ids are absent now
    assert ann.delete_ivf_ids(spark, path, [3, 7])["n_deleted"] == 0


def test_ivfpq_delete_ids_probe_consistency(spark, tmp_path):
    """IVFPQ layout takedown: deleted ids never reappear in a probe
    (codes AND co-located raw vectors removed in one swap), the
    remaining top-k equals the exact top-k over the surviving corpus,
    and the sidecar counts deletions into staleness."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
        pq,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        topk_search,
    )

    emb = _emb(spark)
    path = str(tmp_path / "ivfpq-del")
    books = pq.train_pq_codebooks(emb, m=8, k=16)
    cents = ann.seed_centroids(emb, 8)
    pq.write_ivfpq_index(emb, path, cents, books)
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    # the self-match (vec_id == query_id) is rank-1 for euclidean, so
    # deleting the query ids must change every query's results
    victims = [0, 1, 2, 3]
    stats = pq.delete_ivfpq_ids(spark, path, victims)
    assert stats["n_deleted"] == 4
    n0 = int(pq.load_ivfpq_meta(path)["rows_at_build"])
    assert abs(stats["staleness"] - 4 / n0) < 1e-12
    layout = spark.read.parquet(path)
    got = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in pq.ivfpq_topk_rerank(
            q, layout, pq.load_ivfpq_meta(path), k=5, nprobe=8, fetch_k=200
        ).collect()
    }
    assert not any(v in victims for v in got.values())
    want = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in topk_search(
            q,
            emb.filter(~F.col("vec_id").isin(victims)),
            k=5,
            metric="euclidean",
        ).collect()
    }
    assert got == want


def test_scrub_eval_spans_removes_exact_contamination(spark):
    """A corpus doc embedding an eval passage loses EXACTLY that
    passage at stride=1 (prefix+suffix survive, marker spliced);
    clean docs pass through byte-identical with zero audit counts."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
        scrub_eval_spans,
    )

    passage = "x" * 10 + "SECRET EVAL PASSAGE CONTENT HERE!!" + "y" * 10  # 54 chars
    corpus = spark.createDataFrame(
        [
            (1, "clean prefix " + passage + " clean suffix"),
            (2, "totally unrelated document body with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame(
        [(100, "eval head " + passage + " eval tail")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in scrub_eval_spans(
            corpus, evalset, span_len=40, stride=1, marker="[SCRUBBED]"
        ).collect()
    }
    assert got[2]["text"] == "totally unrelated document body with no overlap at all"
    assert got[2]["n_scrubbed_spans"] == 0 and got[2]["n_scrubbed_chars"] == 0
    s = got[1]["text"]
    assert "SECRET" not in s and "[SCRUBBED]" in s
    assert got[1]["n_scrubbed_spans"] == 1
    # the excision is the passage PLUS both boundary spaces — the
    # space-adjacent windows are genuinely shared 40-char content
    # (both docs have ' '+passage-prefix and passage-suffix+' ')
    assert s == "clean prefix[SCRUBBED]clean suffix"
    assert got[1]["n_scrubbed_chars"] == len(passage) + 2


def test_scrub_eval_spans_merges_overlaps_and_multiple_islands(spark):
    """Two separated eval passages in one doc produce two islands;
    overlapping window hits inside each merge into one excision."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
        scrub_eval_spans,
    )

    p1 = "A" * 45
    p2 = "B" * 45
    corpus = spark.createDataFrame(
        [(1, "start " + p1 + " middle-middle-middle " + p2 + " end")],
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame(
        [(9, p1), (10, p2)], "doc_id long, text string"
    )
    r = scrub_eval_spans(corpus, evalset, span_len=40, stride=1, marker="|").collect()[0]
    assert r["n_scrubbed_spans"] == 2
    assert "A" not in r["text"] and "B" not in r["text"]
    assert r["text"] == "start | middle-middle-middle | end"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="span_len"):
        scrub_eval_spans(corpus, evalset, span_len=0)


def test_neardup_bucket_table_delete_ids(spark, tmp_path):
    """The near-dup bucket table holds (id, signature, band-key) rows —
    derived personal data that a takedown must purge: targets' rows
    gone everywhere, survivors intact, untouched batch partitions
    byte-identical, absent ids a no-op, replay idempotent. A forgotten
    id that re-arrives is no longer suppressed (the engine has no
    memory of it)."""
    import datetime as dt

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.neardup import (
        delete_bucket_table_ids,
        start_neardup_stream,
    )

    base = "the quick brown fox jumps over the lazy dog again and again "
    landing = tmp_path / "nd_landing"
    landing.mkdir()
    buckets = str(tmp_path / "nd_buckets")
    pairs_sink = str(tmp_path / "nd_pairs")
    ckpt = str(tmp_path / "nd_ckpt")
    ts = dt.datetime(2024, 1, 1)
    schema = "doc_id long, ts timestamp, text string, source string"

    def drop(docs, name):
        spark.createDataFrame(
            [(i, ts, t, "s") for i, t in docs], schema
        ).write.parquet(str(landing / name))
        start_neardup_stream(
            spark, str(landing) + "/*", buckets, pairs_sink, ckpt
        ).awaitTermination(120)

    drop([(1, base * 4), (2, base * 4 + "tail")], "b1")
    drop([(3, "unrelated content about query planners and shuffles " * 4)], "b2")
    t0 = spark.read.parquet(buckets)
    ids0 = {r["id"] for r in t0.select("id").distinct().collect()}
    assert ids0 == {1, 2, 3}
    import glob as _g
    import os as _os

    before = {
        p: _os.path.getmtime(p)
        for p in _g.glob(_os.path.join(buckets, "batch_id=*", "*.parquet"))
    }
    victim_parts = {
        r["batch_id"]
        for r in t0.filter(F.col("id") == 2).select("batch_id").collect()
    }

    stats = delete_bucket_table_ids(spark, buckets, [2])
    assert stats["n_deleted"] > 0
    assert set(stats["touched"]) == victim_parts
    t1 = spark.read.parquet(buckets)
    assert {r["id"] for r in t1.select("id").distinct().collect()} == {1, 3}
    after = {
        p: _os.path.getmtime(p)
        for p in _g.glob(_os.path.join(buckets, "batch_id=*", "*.parquet"))
    }
    for p, mt in after.items():
        b = int(p.split("batch_id=")[1].split(_os.sep)[0])
        if b not in victim_parts:
            assert before.get(p) == mt, f"untouched {p} rewritten"

    # absent ids / replay: no-op, idempotent
    assert delete_bucket_table_ids(spark, buckets, [2])["n_deleted"] == 0
    assert delete_bucket_table_ids(spark, buckets, [999])["n_deleted"] == 0

    # a forgotten id re-arrives: re-paired (no suppression memory)
    drop([(2, base * 4 + "tail")], "b3")
    t2 = spark.read.parquet(buckets)
    assert {r["id"] for r in t2.select("id").distinct().collect()} == {1, 2, 3}
    pairs = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(pairs_sink).collect()
    }
    assert (1, 2) in pairs


def _write_frontier(spark, fdir):
    """A frontier as the web-ingest stream lays it out: one
    batch_id=<n> parquet dir of (canonical_url, host) per micro-batch."""
    batches = {
        0: [("http://a.example/x", "a.example"), ("http://a.example/y", "a.example")],
        1: [("http://b.example/1", "b.example")],
        2: [("http://c.example/1", "c.example"), ("http://a.example/z", "a.example")],
    }
    for b, rows in batches.items():
        spark.createDataFrame(
            rows, "canonical_url string, host string"
        ).coalesce(1).write.parquet(f"{fdir}/batch_id={b}")
    return batches


def test_frontier_delete_urls_touched_partitions_only(spark, tmp_path):
    """Web-frontier takedown (r13): requests arrive in ANY URL
    spelling and are canonicalized; only the batch dirs holding
    victims are rewritten; absent URLs are a no-op and the delete is
    idempotent; the freed host-quota semantics are observable (the
    host's live count drops)."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.web_ingest import (
        delete_frontier_urls,
        read_frontier,
    )

    fdir = str(tmp_path / "frontier")
    _write_frontier(spark, fdir)
    before_files = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(fdir, "batch_id=*", "*.parquet"))
    }
    # non-canonical spellings of a/x (batch 0) and c/1 (batch 2)
    stats = delete_frontier_urls(
        spark,
        fdir,
        ["HTTP://A.EXAMPLE:80/x?utm_source=f#frag", "http://c.example/1"],
    )
    assert stats["n_deleted"] == 2
    assert stats["touched"] == [0, 2]
    left = {
        (r["canonical_url"], r["host"])
        for r in read_frontier(spark, fdir).collect()
    }
    assert left == {
        ("http://a.example/y", "a.example"),
        ("http://b.example/1", "b.example"),
        ("http://a.example/z", "a.example"),
    }
    # quota freed: host a drops 2 -> 2... (was 3: x,y,z) -> now 2
    hosts = read_frontier(spark, fdir).groupBy("host").count().collect()
    assert {r["host"]: r["count"] for r in hosts}["a.example"] == 2
    # untouched batch 1 byte-identical
    after_files = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(fdir, "batch_id=*", "*.parquet"))
    }
    for p, t in after_files.items():
        if "batch_id=1" in p:
            assert before_files.get(p) == t, f"untouched {p} rewritten"
    # absent / replayed: no-op, idempotent
    assert delete_frontier_urls(spark, fdir, ["http://c.example/1"])["n_deleted"] == 0
    assert delete_frontier_urls(spark, fdir, ["http://nope.example/"])["n_deleted"] == 0
    # missing frontier: graceful no-op
    assert delete_frontier_urls(spark, str(tmp_path / "nofrontier"), ["http://x/"]) == {
        "n_deleted": 0,
        "touched": [],
    }


def test_frontier_delete_works_on_compacted_dir(spark, tmp_path):
    """Takedown reaches rows already folded into batch_id=-1."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.compaction import (
        compact_batch_partitions,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.web_ingest import (
        delete_frontier_urls,
        read_frontier,
    )

    fdir = str(tmp_path / "frontier")
    _write_frontier(spark, fdir)
    assert compact_batch_partitions(spark, fdir, keep_latest=1)["folded"] == 2
    stats = delete_frontier_urls(spark, fdir, ["http://a.example/y"])
    assert stats["n_deleted"] == 1 and stats["touched"] == [-1]
    assert read_frontier(spark, fdir).count() == 4


def test_takedown_stream_reaches_frontier(spark, tmp_path):
    """The streaming takedown hook set: a request batch carrying
    (doc_id, url) purges the vector index by id AND the frontier by
    URL in one drain; a url-less stream fails loudly instead of
    silently skipping the frontier surface."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.takedown import (
        layout_hooks,
        start_takedown_stream,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.web_ingest import (
        read_frontier,
    )

    fdir = str(tmp_path / "frontier")
    _write_frontier(spark, fdir)
    vec = _vec_index(spark, tmp_path / "vec", n=4)

    landing = tmp_path / "requests"
    landing.mkdir()
    spark.createDataFrame(
        [(2, "http://a.example/x"), (3, None)], "doc_id long, url string"
    ).write.parquet(str(landing / "r1"))
    hooks = layout_hooks(
        vector_index=vec, vector_id_prefix="id", frontier_dir=fdir
    )
    assert [n for n, _ in hooks] == ["vector_index", "web_frontier"]
    q = start_takedown_stream(
        spark,
        str(landing) + "/*",
        str(tmp_path / "ckpt"),
        hooks,
        schema="doc_id long, url string",
    )
    q.awaitTermination(120)
    assert {r["id"] for r in vec.read().select("id").collect()} == {"id0", "id1"}
    left = {r["canonical_url"] for r in read_frontier(spark, fdir).collect()}
    assert "http://a.example/x" not in left and len(left) == 4

    # a stream without the url column: the frontier hook raises
    ids_only = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="frontier takedown needs"):
        hooks[1][1](spark, ids_only)
