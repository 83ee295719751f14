"""Document source + index lifecycle tests (sources.documents S1-S3,
sources.index_table S4-S8/A2/A3)."""

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.documents import (
    load_documents,
    load_pdf_documents,
    load_text_documents,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table import (
    VectorIndex,
    merge_last_write_wins,
)


@pytest.fixture()
def corpus(tmp_path):
    (tmp_path / "sub").mkdir()
    (tmp_path / "a.txt").write_text("alpha doc\nwith two lines")
    (tmp_path / "sub" / "b.txt").write_text("beta doc")
    (tmp_path / "c.pdf").write_bytes(b"%PDF-fake two pages")
    (tmp_path / "ignored.md").write_text("not loaded")
    return tmp_path


def test_text_scan_recursive_wholetext(spark, corpus):
    rows = load_text_documents(spark, str(corpus)).collect()
    by_src = {r["source"].rsplit("/", 1)[-1]: r["text"] for r in rows}
    assert set(by_src) == {"a.txt", "b.txt"}  # recursive, md ignored
    assert by_src["a.txt"] == "alpha doc\nwith two lines"  # wholetext


def test_pdf_scan_page_explode_with_injected_parser(spark, corpus):
    fake_parser = lambda content: ["page one", "page two"]  # noqa: E731
    rows = load_pdf_documents(spark, str(corpus), parse_fn=fake_parser).collect()
    assert {(r["source"].rsplit("/", 1)[-1], r["page"], r["text"]) for r in rows} == {
        ("c.pdf", 0, "page one"),
        ("c.pdf", 1, "page two"),
    }


def test_union_source(spark, corpus):
    rows = load_documents(spark, str(corpus), parse_fn=lambda c: ["p"]).collect()
    names = sorted(r["source"].rsplit("/", 1)[-1] for r in rows)
    assert names == ["a.txt", "b.txt", "c.pdf"]


def test_index_lifecycle(spark, tmp_path):
    root = str(tmp_path)
    idx = VectorIndex(spark, root, "idx-a")
    assert not idx.exists()
    idx.create(dimension=4, metric="cosine")
    assert idx.exists()
    assert idx.dimension() == 4
    idx.create(dimension=9999)  # idempotent: keeps original props
    assert idx.dimension() == 4
    with pytest.raises(ValueError, match="metric"):
        VectorIndex(spark, root, "idx-bad").create(dimension=4, metric="nope")
    idx.delete()
    assert not idx.exists()


def test_upsert_lww_and_stats(spark, tmp_path):
    idx = VectorIndex(spark, str(tmp_path), "idx-u").create(dimension=2)
    rec = lambda i, v, t: (f"id{i}", v, t, "src", 0)  # noqa: E731
    cols = "id string, embedding array<float>, text string, source string, chunk_index int"
    b1 = spark.createDataFrame([rec(1, [1.0, 0.0], "one"), rec(2, [0.0, 1.0], "two")], cols)
    assert idx.upsert(b1, batch=1) == 2
    b2 = spark.createDataFrame([rec(2, [0.5, 0.5], "two-v2"), rec(3, [1.0, 1.0], "three")], cols)
    assert idx.upsert(b2, batch=2) == 3
    rows = {r["id"]: r["text"] for r in idx.read().collect()}
    assert rows == {"id1": "one", "id2": "two-v2", "id3": "three"}
    stats = idx.stats().collect()[0]
    assert stats["total_vector_count"] == 3 and stats["dimension"] == 2

    bad = spark.createDataFrame([rec(4, [1.0, 2.0, 3.0], "dim3")], cols)
    with pytest.raises(ValueError, match="dimension mismatch"):
        idx.upsert(bad, batch=3)


def test_merge_ties_deterministic(spark):
    cols = "id string, _batch long, text string"
    a = spark.createDataFrame([("x", 1, "a")], cols)
    b = spark.createDataFrame([("x", 1, "a")], cols)
    out = merge_last_write_wins(a, b).collect()
    assert len(out) == 1

    # two DIFFERENT rows, same id, same batch: the payload-md5 total
    # order must pick the same survivor on every run (not "whichever
    # task finished first")
    import hashlib

    c = spark.createDataFrame([("x", 1, "aaa")], cols)
    d = spark.createDataFrame([("x", 1, "bbb")], cols)
    expected = min(
        "aaa",
        "bbb",
        key=lambda t: hashlib.md5(f'{{"text":"{t}"}}'.encode()).hexdigest(),
    )
    for pair in ((c, d), (d, c)):  # survivor independent of union order
        out = merge_last_write_wins(*pair).collect()
        assert len(out) == 1 and out[0]["text"] == expected


def _files_md5(root):
    import hashlib
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
    return out


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table import (
        BUCKET_COL,
        bucket_of,
    )

    idx = VectorIndex(spark, str(tmp_path), "idx-b").create(dimension=2)
    cols = "id string, embedding array<float>, text string, source string, chunk_index int"
    b1 = spark.createDataFrame(
        [(f"id{i}", [1.0, 0.0], f"t{i}", "s", 0) for i in range(40)], cols
    )
    assert idx.upsert(b1, batch=1) == 40
    before = _files_md5(idx._data_path)

    b2 = spark.createDataFrame([("id7", [0.5, 0.5], "t7-v2", "s", 0)], cols)
    assert idx.upsert(b2, batch=2) == 40
    after = _files_md5(idx._data_path)

    tb = (
        spark.createDataFrame([("id7",)], "id string")
        .select(bucket_of("id").alias("b"))
        .first()["b"]
    )
    touched_prefix = f"{BUCKET_COL}={tb}/"
    # untouched buckets: identical file sets with identical bytes
    for p, h in before.items():
        if not p.startswith(touched_prefix):
            assert after.get(p) == h, f"untouched file rewritten: {p}"
    # the touched bucket did change
    assert {p: h for p, h in before.items() if p.startswith(touched_prefix)} != {
        p: h for p, h in after.items() if p.startswith(touched_prefix)
    }
    rows = {r["id"]: r["text"] for r in idx.read().collect()}
    assert rows["id7"] == "t7-v2" and rows["id6"] == "t6"


def test_upsert_existing_read_prunes_partitions(spark, tmp_path):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.plans.inspect import (
        has_partition_filter,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table import (
        BUCKET_COL,
    )

    idx = VectorIndex(spark, str(tmp_path), "idx-p").create(dimension=2)
    cols = "id string, embedding array<float>, text string, source string, chunk_index int"
    idx.upsert(
        spark.createDataFrame(
            [(f"id{i}", [1.0, 0.0], "t", "s", 0) for i in range(40)], cols
        ),
        batch=1,
    )
    pruned = idx._pruned_existing([0, 1])
    assert has_partition_filter(pruned, BUCKET_COL)


def test_upsert_dim_mismatch_reroute(spark, tmp_path):
    root = str(tmp_path)
    idx = VectorIndex(spark, root, "base").create(dimension=2, metric="euclidean")
    cols = "id string, embedding array<float>, text string, source string, chunk_index int"
    three = spark.createDataFrame([("a", [1.0, 2.0, 3.0], "t", "s", 0)], cols)
    # strict mode still raises
    with pytest.raises(ValueError, match="dimension mismatch"):
        idx.upsert(three, batch=1)
    # reroute: lands in base-3 with inherited metric
    assert idx.upsert(three, batch=1, on_mismatch="reroute") == 1
    routed = VectorIndex(spark, root, "base-3")
    assert routed.exists() and routed.dimension() == 3
    assert routed.properties()["metric"] == "euclidean"
    assert idx.read().count() == 0  # base untouched
    # idempotent re-ingest into the rerouted index
    assert idx.upsert(three, batch=1, on_mismatch="reroute") == 1
    assert routed.read().count() == 1
    # mixed dims in one batch never reroute
    mixed = spark.createDataFrame(
        [("a", [1.0, 2.0, 3.0], "t", "s", 0), ("b", [1.0, 2.0], "t", "s", 0)], cols
    )
    with pytest.raises(ValueError, match="mixed"):
        idx.upsert(mixed, batch=2, on_mismatch="reroute")


def test_bucket_count_persisted_survives_default_change(spark, tmp_path, monkeypatch):
    """VERDICT r2 #1: an index created at 8 buckets must keep addressing
    rows by 8 even after the module default N_BUCKETS changes — else
    touched-bucket pruning misses old row locations and LWW breaks
    (duplicate ids survive)."""
    import retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table as it

    idx = VectorIndex(spark, str(tmp_path), "idx-bc").create(
        dimension=2, bucket_count=8
    )
    assert idx.bucket_count() == 8
    cols = "id string, embedding array<float>, text string, source string, chunk_index int"
    b1 = spark.createDataFrame(
        [(f"id{i}", [1.0, 0.0], f"t{i}", "s", 0) for i in range(40)], cols
    )
    assert idx.upsert(b1, batch=1) == 40
    before = _files_md5(idx._data_path)

    # simulate the documented scale-up: raise the module default
    monkeypatch.setattr(it, "N_BUCKETS", 64)
    assert idx.bucket_count() == 8  # persisted, not the new default

    b2 = spark.createDataFrame([("id7", [0.5, 0.5], "t7-v2", "s", 0)], cols)
    assert idx.upsert(b2, batch=2) == 40  # LWW holds: no duplicate ids
    rows = idx.read().collect()
    assert len(rows) == len({r["id"] for r in rows}) == 40
    assert {r["id"]: r["text"] for r in rows}["id7"] == "t7-v2"

    # untouched buckets stay byte-identical under the OLD addressing
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table import (
        BUCKET_COL,
        bucket_of,
    )

    tb = (
        spark.createDataFrame([("id7",)], "id string")
        .select(bucket_of("id", 8).alias("b"))
        .first()["b"]
    )
    after = _files_md5(idx._data_path)
    for p, h in before.items():
        if not p.startswith(f"{BUCKET_COL}={tb}/"):
            assert after.get(p) == h, f"untouched file rewritten: {p}"


def test_sidecar_without_bucket_count_requires_rebuild(spark, tmp_path):
    """A sidecar without ``bucket_count`` must not be read as the current
    ``N_BUCKETS``: upsert and delete_ids raise before writing."""
    import json

    idx = VectorIndex(spark, str(tmp_path), "idx-old").create(
        dimension=2, bucket_count=8
    )
    cols = "id string, embedding array<float>, text string, source string, chunk_index int"
    idx.upsert(
        spark.createDataFrame(
            [(f"id{i}", [1.0, 0.0], f"t{i}", "s", 0) for i in range(10)], cols
        ),
        batch=1,
    )
    props = idx.properties()
    del props["bucket_count"]
    with open(idx._props_path, "w") as f:
        json.dump(props, f)
    before = _files_md5(idx.path)
    with pytest.raises(ValueError, match="rebuild"):
        idx.bucket_count()
    with pytest.raises(ValueError, match="rebuild"):
        idx.upsert(
            spark.createDataFrame([("id1", [0.0, 1.0], "t", "s", 0)], cols),
            batch=2,
        )
    with pytest.raises(ValueError, match="rebuild"):
        idx.delete_ids(["id1"])
    assert _files_md5(idx.path) == before


def test_reroute_rebuckets_for_target_layout(spark, tmp_path):
    """Dim-mismatch reroute into a target index whose persisted
    bucket_count differs from the source's must re-address rows."""
    root = str(tmp_path)
    idx = VectorIndex(spark, root, "base").create(dimension=2, bucket_count=4)
    # pre-create the reroute target with a DIFFERENT layout width
    VectorIndex(spark, root, "base-3").create(dimension=3, bucket_count=16)
    cols = "id string, embedding array<float>, text string, source string, chunk_index int"
    three = spark.createDataFrame(
        [(f"r{i}", [1.0, 2.0, 3.0], "t", "s", 0) for i in range(20)], cols
    )
    assert idx.upsert(three, batch=1, on_mismatch="reroute") == 20
    routed = VectorIndex(spark, root, "base-3")
    # every row sits in the bucket dir its id hashes to under 16
    import os as _os

    got = sorted(
        int(d.split("=")[1])
        for d in _os.listdir(routed._data_path)
        if d.startswith("bucket=")
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table import (
        bucket_of,
    )

    want = sorted(
        r["b"]
        for r in spark.createDataFrame([(f"r{i}",) for i in range(20)], "id string")
        .select(bucket_of("id", 16).alias("b"))
        .distinct()
        .collect()
    )
    assert got == want
    # LWW still keyed correctly in the rerouted layout
    assert idx.upsert(three, batch=2, on_mismatch="reroute") == 20


def test_torn_swap_detected(spark, tmp_path):
    """ADVICE r2: a swap marker left behind (crash mid-swap) must make
    read() and upsert() fail loudly instead of serving mixed buckets."""
    idx = VectorIndex(spark, str(tmp_path), "idx-torn").create(dimension=2)
    cols = "id string, embedding array<float>, text string, source string, chunk_index int"
    b1 = spark.createDataFrame([("a", [1.0, 0.0], "t", "s", 0)], cols)
    idx.upsert(b1, batch=1)
    # simulate a crash between the marker write and swap completion
    import json as _json

    with open(idx._swap_marker_path, "w") as f:
        _json.dump({"touched": [3], "tmp": "gone"}, f)
    with pytest.raises(RuntimeError, match="torn"):
        idx.read()
    with pytest.raises(RuntimeError, match="torn"):
        idx.upsert(b1, batch=2)
    # recovery: delete the marker, index serves again
    import os as _os

    _os.remove(idx._swap_marker_path)
    assert idx.read().count() == 1


# ---------------- JSONL corpus ingest ----------------


def test_jsonl_ingest_clean_and_quarantine(spark, tmp_path):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.documents import (
        load_jsonl_documents,
    )

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.jsonl").write_text(
        '{"id": "d1", "text": "hello world", "meta": {"lang": "en"}}\n'
        '{"id": "d2", "text": "zweite zeile"}\n'
        "this is not json at all\n"
        '{"id": "d4", "meta": {"lang": "fr"}}\n'  # no text: quarantined
    )
    (d / "b.jsonl").write_text('{"id": "d5", "text": "third file line"}\n')
    (d / "ignored.txt").write_text("not a jsonl file\n")

    clean, quarantined, source_scan = load_jsonl_documents(spark, str(d))
    rows = {r["id"]: r for r in clean.collect()}
    assert set(rows) == {"d1", "d2", "d5"}
    assert rows["d1"]["meta"] == {"lang": "en"}
    assert rows["d1"]["source"].endswith("a.jsonl")
    assert rows["d5"]["source"].endswith("b.jsonl")

    q = quarantined.collect()
    assert len(q) == 2  # the garbage line and the text-less record
    # EVERY quarantined row carries the offending content: the raw
    # line for malformed JSON, the re-serialized row for contract
    # failures (null text) — triage never re-opens the source file
    assert all(r["_corrupt_record"] is not None for r in q)
    assert any("not json" in r["_corrupt_record"] for r in q)
    assert any('"d4"' in r["_corrupt_record"] for r in q)

    # the shared cached scan is exposed for release by the caller —
    # as an explicit result field, so it survives any transformation
    # of clean/quarantined (r6 ADVICE: attribute monkey-patching
    # vanished on the first .select())
    assert source_scan.is_cached
    source_scan.unpersist()
    assert not source_scan.is_cached


def test_jsonl_ingest_empty_dir_is_empty_not_error(spark, tmp_path):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.documents import (
        load_jsonl_documents,
    )

    d = tmp_path / "empty"
    d.mkdir()
    (d / "a.jsonl").write_text("")  # zero-line file: schema is explicit
    clean, quarantined, source_scan = load_jsonl_documents(spark, str(d))
    assert clean.count() == 0 and quarantined.count() == 0
    source_scan.unpersist()


def test_read_parquet_takes_the_schema_from_a_footer(spark, tmp_path):
    """``layout.read_parquet`` gives the schema ``spark.read.parquet``
    infers, partition columns included, for an index, a lexical index,
    an IVF layout and an IVFPQ layout, and starts no job doing so. A
    file that Spark did not write has no schema key and raises."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as papq

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
        pq,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.layout import (
        read_parquet,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.lexical_index import (
        LexicalIndex,
    )

    vi = VectorIndex(spark, str(tmp_path), "vi").create(dimension=4)
    vi.upsert(
        spark.createDataFrame(
            [(f"id{i}", [float(i), 1.0, 0.0, 2.0], f"text {i}", "src", i) for i in range(12)],
            "id string, embedding array<float>, text string, source string, "
            "chunk_index int",
        ),
        batch=1,
    )
    lex = LexicalIndex(spark, str(tmp_path / "lex")).create(
        spark.createDataFrame(
            [(i, f"spark vector doc{i}") for i in range(12)], "doc_id long, text string"
        ),
        term_buckets=2,
        doc_buckets=2,
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, float(i % 3), 0.5]) for i in range(40)],
        "vec_id long, embedding array<float>",
    ).withColumn("source", F.lit("s"))
    cents = ann.seed_centroids(emb, 4)
    ann.write_ivf_index(emb, str(tmp_path / "ivf"), cents, metric="euclidean")
    books = pq.train_pq_codebooks(emb, m=2, k=4)
    pq.write_ivfpq_index(emb, str(tmp_path / "ivfpq"), cents, books, meta_cols=["source"])
    paths = [
        vi._data_path,
        lex._postings_path,
        lex._termdf_path,
        lex._docs_path,
        str(tmp_path / "ivf"),
        str(tmp_path / "ivfpq"),
    ]
    sc = spark.sparkContext
    for path in paths:
        group = f"read-parquet-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            got = read_parquet(spark, path).schema
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == [], path
        assert got == spark.read.parquet(path).schema, path
    foreign = tmp_path / "foreign"
    foreign.mkdir()
    papq.write_table(pa.table({"x": [1, 2]}), str(foreign / "part-0.parquet"))
    with pytest.raises(ValueError, match="Spark schema"):
        read_parquet(spark, str(foreign))
