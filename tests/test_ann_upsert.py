"""Incremental IVF layout maintenance (operators.ann.upsert_ivf_index):
the ANN-side analogue of the flat index's bucketed upsert, so streaming
ingest keeps the search index current without full rebuilds."""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import ann

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def cents(emb):
    return ann.seed_centroids(emb, 16)


def _files_md5(root):
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
    return out


def _probe(spark, path, cents, emb, metric="cosine"):
    layout = ann.read_ivf_index(spark, path)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 9))
        for r in ann.ivf_topk_gemm(
            queries, layout, cents, k=5, nprobe=4, metric=metric
        ).collect()
    }


def test_upsert_equals_full_rebuild(spark, emb, cents, tmp_path):
    """Build from a subset, incrementally upsert the rest → probing the
    maintained layout equals probing a from-scratch full build."""
    base = emb.filter(F.col("vec_id") % 5 != 0)
    rest = emb.filter(F.col("vec_id") % 5 == 0)
    inc_path = str(tmp_path / "inc")
    full_path = str(tmp_path / "full")
    ann.write_ivf_index(base, inc_path, cents)
    res = ann.upsert_ivf_index(spark, inc_path, rest)
    assert res["n_upserted"] == rest.count()
    ann.write_ivf_index(emb, full_path, cents)
    assert _probe(spark, inc_path, cents, emb) == _probe(
        spark, full_path, cents, emb
    )
    # the layouts hold identical logical content
    a = sorted(ann.read_ivf_index(spark, inc_path).select("vec_id").toPandas()["vec_id"])
    b = sorted(ann.read_ivf_index(spark, full_path).select("vec_id").toPandas()["vec_id"])
    assert a == b


def test_upsert_rewrites_only_touched_partitions(spark, emb, cents, tmp_path):
    path = str(tmp_path / "ivf")
    ann.write_ivf_index(emb, path, cents)
    before = _files_md5(path)
    one = emb.filter(F.col("vec_id") == 42)
    res = ann.upsert_ivf_index(spark, path, one)
    after = _files_md5(path)
    touched_prefixes = tuple(f"centroid_id={c}/" for c in res["touched"])
    assert len(res["touched"]) >= 1
    for p, h in before.items():
        if p.startswith("centroid_id=") and not p.startswith(touched_prefixes):
            assert after.get(p) == h, f"untouched partition rewritten: {p}"


def test_upsert_moves_row_when_centroid_changes(spark, emb, cents, tmp_path):
    """An id whose NEW vector assigns to a different centroid must
    vanish from its old partition (no stale duplicate)."""
    path = str(tmp_path / "ivf")
    ann.write_ivf_index(emb, path, cents)
    layout = ann.read_ivf_index(spark, path)
    old_cid = layout.filter(F.col("vec_id") == 99).first()["centroid_id"]
    # replace vec 99 with an exact copy of centroid 0's vector → it
    # must reassign to centroid 0 (cosine similarity 1.0 is maximal)
    target_vec = cents[0][1]
    moved = spark.createDataFrame(
        [(99, [float(x) for x in target_vec], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    res = ann.upsert_ivf_index(spark, path, moved)
    assert cents[0][0] in res["touched"] and old_cid in res["touched"]
    now = ann.read_ivf_index(spark, path).filter(F.col("vec_id") == 99).collect()
    assert len(now) == 1  # exactly one copy — old version gone
    assert now[0]["centroid_id"] == cents[0][0]


def test_upsert_int8_layout_parity(spark, emb, cents, tmp_path):
    """Incremental upsert into a compressed layout quantizes new rows
    with the same kernel as the build: maintained == rebuilt."""
    base = emb.filter(F.col("vec_id") % 7 != 0)
    rest = emb.filter(F.col("vec_id") % 7 == 0)
    inc_path = str(tmp_path / "inc8")
    full_path = str(tmp_path / "full8")
    ann.write_ivf_index(base, inc_path, cents, compression="int8")
    ann.upsert_ivf_index(spark, inc_path, rest)
    ann.write_ivf_index(emb, full_path, cents, compression="int8")
    assert _probe(spark, inc_path, cents, emb) == _probe(
        spark, full_path, cents, emb
    )


def test_staleness_counter_and_meta(spark, emb, cents, tmp_path):
    path = str(tmp_path / "ivf")
    ann.write_ivf_index(emb, path, cents)
    meta = ann.ivf_meta(path)
    assert meta["rows_at_build"] == emb.count()
    assert ann.ivf_staleness(path) == 0.0
    batch = emb.filter(F.col("vec_id") < 50)
    res = ann.upsert_ivf_index(spark, path, batch)
    assert res["n_upserted"] == 50
    assert ann.ivf_staleness(path) == pytest.approx(50 / emb.count())
    # empty batch is a no-op
    res2 = ann.upsert_ivf_index(spark, path, emb.filter(F.lit(False)))
    assert res2["n_upserted"] == 0 and res2["touched"] == []


def test_torn_ivf_swap_detected(spark, emb, cents, tmp_path):
    import json

    path = str(tmp_path / "ivf")
    ann.write_ivf_index(emb, path, cents)
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.layout import (
        marker_path_for,
    )

    with open(marker_path_for(path), "w") as f:
        json.dump({"partitions": ["centroid_id=3"], "tmp": "gone"}, f)
    with pytest.raises(RuntimeError, match="torn"):
        ann.read_ivf_index(spark, path)
    with pytest.raises(RuntimeError, match="torn"):
        ann.upsert_ivf_index(spark, path, emb.limit(1))
    os.remove(marker_path_for(path))
    assert ann.read_ivf_index(spark, path).count() == emb.count()


def test_upsert_without_centroids_requires_rebuild(spark, emb, cents, tmp_path):
    """The centroid list is read from the sidecar alone; a sidecar
    without ``centroids`` cannot place new rows in the build-time cells,
    so the upsert raises before any write."""
    import json

    path = str(tmp_path / "ivf")
    ann.write_ivf_index(emb, path, cents)
    meta = ann.ivf_meta(path)
    del meta["centroids"]
    with open(os.path.join(path, ann.IVF_META), "w") as f:
        json.dump(meta, f)
    before = _files_md5(path)
    with pytest.raises(ValueError, match="rebuild"):
        ann.upsert_ivf_index(spark, path, emb.limit(3))
    assert _files_md5(path) == before


def test_upsert_recovers_centroids_from_sidecar(spark, emb, cents, tmp_path):
    """The upsert loads the exact build-time list back from the
    sidecar — the post-restart recovery path."""
    path = str(tmp_path / "ivf")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    rest = emb.filter(F.col("vec_id") % 3 == 0)
    ann.write_ivf_index(base, path, cents)
    assert ann.load_centroids(path) == cents
    res = ann.upsert_ivf_index(spark, path, rest)
    assert res["n_upserted"] == rest.count()
    full_path = str(tmp_path / "full")
    ann.write_ivf_index(emb, full_path, cents)
    assert _probe(spark, path, cents, emb) == _probe(spark, full_path, cents, emb)


def test_upsert_intra_batch_lww(spark, emb, cents, tmp_path):
    """A micro-batch carrying the same vec_id twice — with different
    vectors that assign to different centroids — must contribute
    exactly one survivor row, like merge_last_write_wins (ADVICE r3 #2),
    and resolve to the same survivor on every run."""
    path = str(tmp_path / "ivf")
    ann.write_ivf_index(emb, path, cents)
    v_a = [float(x) for x in cents[0][1]]
    v_b = [float(x) for x in cents[-1][1]]
    dup = spark.createDataFrame(
        [(777, v_a, 1), (777, v_b, 2)],
        "vec_id long, embedding array<float>, label int",
    )
    res = ann.upsert_ivf_index(spark, path, dup)
    rows = (
        ann.read_ivf_index(spark, path).filter(F.col("vec_id") == 777).collect()
    )
    assert len(rows) == 1
    assert res["n_upserted"] == 1  # staleness counts survivors, not raw rows
    survivor = (rows[0]["centroid_id"], rows[0]["label"])
    # deterministic: a re-run of the same dup batch picks the same row
    path2 = str(tmp_path / "ivf2")
    ann.write_ivf_index(emb, path2, cents)
    ann.upsert_ivf_index(spark, path2, dup)
    rows2 = (
        ann.read_ivf_index(spark, path2).filter(F.col("vec_id") == 777).collect()
    )
    assert (rows2[0]["centroid_id"], rows2[0]["label"]) == survivor


def test_writers_reject_centroid_ids_beyond_int32(spark, emb, tmp_path):
    """Both layouts store ``centroid_id`` as int32. Centroids labelled
    with 64-bit vector ids must fail the write loudly instead of
    landing every row in one truncated partition."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        pq,
    )

    wide = emb.filter(F.col("vec_id") < 200).withColumn(
        "vec_id", F.lit(2**40) + F.col("vec_id") * F.lit(2**33)
    )
    wide_cents = ann.seed_centroids(wide, 4)
    assert wide_cents[0][0] == 2**40
    books = pq.train_pq_codebooks(wide, m=4, k=8)
    with pytest.raises(ValueError, match=str(2**40)):
        ann.write_ivf_index(wide, str(tmp_path / "ivf"), wide_cents)
    with pytest.raises(ValueError, match=str(2**40)):
        pq.write_ivfpq_index(wide, str(tmp_path / "ivfpq"), wide_cents, books)


def test_centroid_layout_maintenance_releases_checkpoint_blocks(
    spark, emb, cents, tmp_path
):
    """The IVF and IVFPQ upserts and the per-id delete materialize their
    batch with a localCheckpoint; none of those blocks may outlive the
    call. Compares RDD ids, not counts: the ContextCleaner may free
    earlier checkpoints while a call runs."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        pq,
    )

    ivf, ivfpq = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    rest = emb.filter(F.col("vec_id") % 5 == 0)
    ann.write_ivf_index(base, ivf, cents)
    books = pq.train_pq_codebooks(emb, m=8, k=16)
    pq.write_ivfpq_index(base, ivfpq, cents, books)
    jsc = spark.sparkContext._jsc
    for call in (
        lambda: pq.upsert_ivfpq_index(spark, ivfpq, rest),
        lambda: ann.upsert_ivf_index(spark, ivf, rest),
        lambda: pq.delete_ivfpq_ids(spark, ivfpq, [1, 2, 3]),
    ):
        before = set(jsc.getPersistentRDDs().keys())
        call()
        assert set(jsc.getPersistentRDDs().keys()) - before == set()


def test_empty_ivfpq_upsert_reports_staleness(spark, emb, cents, tmp_path):
    """An empty batch writes nothing and reports the sidecar's current
    staleness, like the IVF upsert."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        pq,
    )

    path = str(tmp_path / "ivfpq")
    pq.write_ivfpq_index(emb, path, cents, pq.train_pq_codebooks(emb, m=8, k=16))
    pq.upsert_ivfpq_index(spark, path, emb.filter(F.col("vec_id") < 10))
    before = _files_md5(path)
    res = pq.upsert_ivfpq_index(spark, path, emb.filter(F.lit(False)))
    assert res == {
        "touched": [], "n_upserted": 0, "staleness": pq.ivfpq_staleness(path)
    }
    assert res["staleness"] == pytest.approx(10 / emb.count())
    assert _files_md5(path) == before
