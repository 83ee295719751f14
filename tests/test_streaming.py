"""Incremental ingestion stream tests (streaming.ingest): exactly-once
end state via checkpoint + content-addressed idempotent upsert
(SURVEY.md §2k; reference upload path app/api/routes.py:314-334)."""

import os

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.embed.providers import (
    HashEmbedder,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table import (
    VectorIndex,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.ingest import (
    docs_to_records,
    ingest_directory,
    start_ingest_stream,
)

DOC_A = "alpha beta gamma. " * 60  # > chunk_size → multiple chunks
DOC_B = "delta epsilon zeta eta theta. " * 40


@pytest.fixture()
def dirs(tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    return landing, str(tmp_path / "ckpt"), str(tmp_path / "indexes")


def _drain(q):
    q.awaitTermination(120)
    assert not q.isActive


def test_stream_ingests_then_grows_then_idempotent(spark, dirs):
    landing, ckpt, root = dirs
    (landing / "a.txt").write_text(DOC_A)
    (landing / "b.txt").write_text(DOC_B)
    idx = VectorIndex(spark, root, "stream-idx").create(dimension=64)
    provider = HashEmbedder(dimension=64)

    _drain(start_ingest_stream(spark, str(landing), idx, provider, ckpt))
    n1 = idx.read().count()
    assert n1 > 2  # both docs chunked into several vectors

    # restart on the same checkpoint with no new files → no-op
    _drain(start_ingest_stream(spark, str(landing), idx, provider, ckpt))
    assert idx.read().count() == n1

    # new file → index grows by its chunks only
    (landing / "c.txt").write_text(DOC_A + " tail variation")
    _drain(start_ingest_stream(spark, str(landing), idx, provider, ckpt))
    n2 = idx.read().count()
    assert n2 > n1

    # re-uploading identical content under a new name: new source path
    # → new doc_id → new ids; identical content under the SAME path is
    # the idempotent case, covered by the batch re-ingest below
    ids1 = {r["id"] for r in idx.read().select("id").collect()}
    _drain(start_ingest_stream(spark, str(landing), idx, provider, str(ckpt) + "2"))
    assert {r["id"] for r in idx.read().select("id").collect()} == ids1
    assert idx.read().count() == n2


def test_batch_and_stream_agree(spark, dirs):
    landing, ckpt, root = dirs
    (landing / "a.txt").write_text(DOC_A)
    (landing / "b.txt").write_text(DOC_B)
    provider = HashEmbedder(dimension=64)

    s_idx = VectorIndex(spark, root, "s-idx").create(dimension=64)
    _drain(start_ingest_stream(spark, str(landing), s_idx, provider, ckpt))

    b_idx = VectorIndex(spark, root, "b-idx").create(dimension=64)
    ingest_directory(spark, str(landing), b_idx, provider)

    s_rows = {
        (r["id"], r["text"], r["chunk_index"])
        for r in s_idx.read().select("id", "text", "chunk_index").collect()
    }
    b_rows = {
        (r["id"], r["text"], r["chunk_index"])
        for r in b_idx.read().select("id", "text", "chunk_index").collect()
    }
    assert s_rows == b_rows


def test_dimension_mismatch_rejected(spark, dirs):
    landing, ckpt, root = dirs
    (landing / "a.txt").write_text(DOC_A)
    idx = VectorIndex(spark, root, "dim-idx").create(dimension=32)
    with pytest.raises(Exception, match="dimension mismatch"):
        ingest_directory(spark, str(landing), idx, HashEmbedder(dimension=64))


# ---------------------------------------------------------------------------
# Watermarked event-time rollup (streaming.rollup)


def test_hourly_rollup_stream_merges_late_rows_and_matches_batch(spark, tmp_path):
    """Replay the events fixture as two file drops. For every hour in
    the 24h band before the split, the FIRST event arrives in drop 1
    and the rest only in drop 2 — late, but inside the 48h watermark,
    and into window state already opened by drop 1. Emitted windows
    must match the batch rollup exactly (late rows merged), and append
    mode must emit each (hour, event_type) at most once."""
    import datetime

    from pyspark.sql import Window

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries import (
        load,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.rollup import (
        hourly_rollup,
        start_hourly_rollup_stream,
    )

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    ts = sorted(r["ts"] for r in ev.select("ts").collect())
    split = ts[len(ts) // 2]
    band_lo = split - datetime.timedelta(hours=24)

    in_band = (F.col("ts") >= band_lo) & (F.col("ts") < split)
    rn = F.row_number().over(
        Window.partitionBy(F.date_trunc("hour", "ts")).orderBy("ts", "event_id")
    )
    tagged = ev.withColumn("__late", in_band & (rn > 1))
    late = tagged.filter("__late").drop("__late")
    drop1 = tagged.filter((F.col("ts") < split) & ~F.col("__late")).drop("__late")
    drop2 = tagged.filter(F.col("ts") >= split).drop("__late").unionByName(late)
    # the merge case is actually exercised: some hour has rows in BOTH drops
    assert late.count() > 0

    landing = tmp_path / "events_landing"
    landing.mkdir()
    sink = str(tmp_path / "rollup_sink")
    ckpt = str(tmp_path / "rollup_ckpt")

    wm = "48 hours"  # band(24h) < watermark: nothing may be dropped
    drop1.coalesce(1).write.parquet(str(landing / "drop1"))
    _drain(start_hourly_rollup_stream(spark, str(landing) + "/*", sink, ckpt, watermark=wm))
    drop2.coalesce(1).write.parquet(str(landing / "drop2"))
    _drain(start_hourly_rollup_stream(spark, str(landing) + "/*", sink, ckpt, watermark=wm))

    emitted = spark.read.parquet(sink)
    assert emitted.count() > 0
    # append-once: no (hour, event_type) appears twice
    assert (
        emitted.groupBy("hour", "event_type").count().filter("count > 1").count() == 0
    )

    # every emitted window matches the batch twin exactly on the exact
    # aggregates — including the late-merged band hours
    batch = hourly_rollup(ev).withColumnRenamed("n_events", "b_events").withColumnRenamed(
        "total_value", "b_value"
    )
    joined = emitted.join(batch.select("hour", "event_type", "b_events", "b_value"),
                          ["hour", "event_type"], "left")
    assert (
        joined.filter(
            (F.col("b_events") == F.col("n_events"))
            & (F.abs(F.col("b_value") - F.col("total_value")) < 1e-6)
        ).count()
        == emitted.count()
    )
    # at least one late-merged hour was actually emitted
    late_hours = {
        r["h"]
        for r in late.select(F.date_trunc("hour", "ts").alias("h")).distinct().collect()
    }
    emitted_hours = {r["hour"] for r in emitted.select("hour").distinct().collect()}
    assert late_hours & emitted_hours


def test_session_stream_merges_sessions_across_drops(spark, tmp_path):
    """Split the events timeline at the median into two file drops.
    With a 24h gap, several users have a session whose events span the
    split: drop 1 opens the session state, drop 2 extends it, and the
    final emission must be the MERGED session — identical to running
    session_window over the whole table in batch."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries import (
        load,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.sessions import (
        session_rollup,
        start_session_stream,
    )

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    ts = sorted(r["ts"] for r in ev.select("ts").collect())
    split = ts[len(ts) // 2]

    landing = tmp_path / "sess_landing"
    landing.mkdir()
    sink = str(tmp_path / "sess_sink")
    ckpt = str(tmp_path / "sess_ckpt")
    gap, wm = "24 hours", "72 hours"

    ev.filter(F.col("ts") < split).coalesce(1).write.parquet(str(landing / "d1"))
    _drain(start_session_stream(spark, str(landing) + "/*", sink, ckpt, gap=gap, watermark=wm))
    ev.filter(F.col("ts") >= split).coalesce(1).write.parquet(str(landing / "d2"))
    _drain(start_session_stream(spark, str(landing) + "/*", sink, ckpt, gap=gap, watermark=wm))

    emitted = spark.read.parquet(sink)
    assert emitted.count() > 0
    # append-once per (user, session)
    assert (
        emitted.groupBy("user_id", "session_start").count().filter("count > 1").count()
        == 0
    )

    # exact parity with the batch session_window on every emitted row
    batch = (
        session_rollup(ev, gap=gap)
        .withColumnRenamed("n_events", "b_events")
        .withColumnRenamed("total_value", "b_value")
        .withColumnRenamed("session_end", "b_end")
    )
    joined = emitted.join(batch, ["user_id", "session_start"], "left")
    assert (
        joined.filter(
            (F.col("b_events") == F.col("n_events"))
            & (F.col("b_end") == F.col("session_end"))
            & (F.abs(F.col("b_value") - F.col("total_value")) < 1e-6)
        ).count()
        == emitted.count()
    )

    # the cross-drop merge actually happened: an emitted session began
    # before the split and ended (last event) at/after it
    import datetime

    straddlers = emitted.filter(
        (F.col("session_start") < split)
        & (F.col("session_end") >= split + datetime.timedelta(hours=24))
    )
    assert straddlers.count() > 0
    # and those straddlers span multiple events
    assert straddlers.filter(F.col("n_events") >= 2).count() > 0


# ---------------------------------------------------------------------------
# Streaming exact dedup (streaming.dedup)


def test_stream_dedup_suppresses_duplicates_across_drops(spark, tmp_path):
    """Drop 1 carries an internal duplicate (same text, different path);
    drop 2 re-uploads one of drop 1's documents minutes later plus one
    genuinely new doc. Exactly one row per distinct content must
    survive, and the surviving fingerprints must equal the batch
    exact_dedup fingerprints of the full union."""
    import datetime

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
        exact_dedup,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.dedup import (
        DOC_STREAM_SCHEMA,
        start_dedup_stream,
    )

    t0 = datetime.datetime(2026, 1, 10, 12, 0, 0)
    m = datetime.timedelta(minutes=1)
    d1 = [
        (1, t0, "the quick brown fox", "a.txt"),
        (2, t0 + m, "lorem ipsum dolor", "b.txt"),
        (3, t0 + 2 * m, "  The  QUICK brown fox ", "a-copy.txt"),  # dup of 1
    ]
    d2 = [
        (4, t0 + 10 * m, "the quick brown fox", "a-again.txt"),  # dup of 1
        (5, t0 + 11 * m, "completely new content", "c.txt"),
    ]
    landing = tmp_path / "dedup_landing"
    landing.mkdir()
    sink = str(tmp_path / "dedup_sink")
    ckpt = str(tmp_path / "dedup_ckpt")

    spark.createDataFrame(d1, DOC_STREAM_SCHEMA).coalesce(1).write.parquet(
        str(landing / "d1")
    )
    _drain(start_dedup_stream(spark, str(landing) + "/*", sink, ckpt))
    spark.createDataFrame(d2, DOC_STREAM_SCHEMA).coalesce(1).write.parquet(
        str(landing / "d2")
    )
    _drain(start_dedup_stream(spark, str(landing) + "/*", sink, ckpt))

    out = spark.read.parquet(sink)
    assert out.count() == 3  # docs 1/2/5 (or their equivalents), once each
    assert out.groupBy("fingerprint").count().filter("count > 1").count() == 0

    batch = exact_dedup(
        spark.createDataFrame(d1 + d2, DOC_STREAM_SCHEMA), id_col="doc_id"
    )
    assert {r["fingerprint"] for r in out.select("fingerprint").collect()} == {
        r["fingerprint"] for r in batch.select("fingerprint").collect()
    }


# ---------------------------------------------------------------------------
# Custom stateful operator (streaming.stateful, applyInPandasWithState)


def test_stateful_profiles_match_batch(spark, tmp_path):
    """Replay the events fixture as two drops through the
    applyInPandasWithState profile operator (huge watermark — no
    timeouts). The latest emitted row per user must equal the batch
    groupBy profile over the full table."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries import (
        load,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.stateful import (
        start_profile_stream,
    )

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ts = sorted(r["ts"] for r in ev.select("ts").collect())
    split = ts[len(ts) // 2]

    landing = tmp_path / "prof_landing"
    landing.mkdir()
    sink = str(tmp_path / "prof_sink")
    ckpt = str(tmp_path / "prof_ckpt")

    ev.filter(F.col("ts") < split).coalesce(1).write.parquet(str(landing / "d1"))
    _drain(start_profile_stream(spark, str(landing) + "/*", sink, ckpt, watermark="2000 hours"))
    ev.filter(F.col("ts") >= split).coalesce(1).write.parquet(str(landing / "d2"))
    _drain(start_profile_stream(spark, str(landing) + "/*", sink, ckpt, watermark="2000 hours"))

    emitted = spark.read.parquet(sink)
    assert emitted.filter("finalized").count() == 0
    latest = {}
    for r in emitted.collect():
        cur = latest.get(r["user_id"])
        if cur is None or r["n_events"] > cur["n_events"]:
            latest[r["user_id"]] = r

    batch = {
        r["user_id"]: r
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert set(latest) == set(batch)
    for uid, b in batch.items():
        r = latest[uid]
        assert r["n_events"] == b["n_events"]
        assert abs(r["total_value"] - b["total_value"]) < 1e-6
        assert r["first_ts"] == b["first_ts"] and r["last_ts"] == b["last_ts"]


def test_stateful_timeout_finalizes_quiet_users(spark, tmp_path):
    """Users quiet for >1h behind the advancing watermark get exactly
    one finalized=True row and their state dropped."""
    import datetime

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.stateful import (
        EVENT_SCHEMA,
        start_profile_stream,
    )

    t0 = datetime.datetime(2026, 2, 1, 0, 0, 0)
    day = datetime.timedelta(days=1)
    landing = tmp_path / "to_landing"
    landing.mkdir()
    sink = str(tmp_path / "to_sink")
    ckpt = str(tmp_path / "to_ckpt")
    wm = "24 hours"

    d1 = [
        (1, t0, 101, "view", 1.0),
        (2, t0 + datetime.timedelta(minutes=5), 101, "click", 2.0),
        (3, t0 + datetime.timedelta(minutes=10), 102, "view", 5.0),
    ]
    d2 = [(4, t0 + 40 * day, 103, "view", 1.0)]   # advances watermark to day 39
    d3 = [(5, t0 + 41 * day, 103, "click", 1.0)]  # timeouts checked vs day-39 wm

    for name, rows in (("d1", d1), ("d2", d2), ("d3", d3)):
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(
            str(landing / name)
        )
        _drain(start_profile_stream(spark, str(landing) + "/*", sink, ckpt, watermark=wm))

    emitted = spark.read.parquet(sink)
    fin = {r["user_id"]: r for r in emitted.filter("finalized").collect()}
    assert set(fin) == {101, 102}
    assert fin[101]["n_events"] == 2 and abs(fin[101]["total_value"] - 3.0) < 1e-9
    assert fin[102]["n_events"] == 1
    # exactly one finalized row per quiet user
    assert emitted.filter("finalized").count() == 2


def test_enrich_stream_matches_batch_asof(spark, tmp_path):
    """Stream-static as-of enrichment: events dropped as two separate
    micro-batch files, enriched against a static state table, must
    equal the one-shot batch asof_join over the same rows — and a
    restart with the same checkpoint must not duplicate output."""
    import datetime as dt

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.temporal import (
        asof_join,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.enrich import (
        start_enrich_stream,
    )

    base = dt.datetime(2024, 1, 1)
    state_rows = [
        (10, base + dt.timedelta(minutes=m), float(m)) for m in (0, 30, 60)
    ] + [(20, base + dt.timedelta(minutes=45), 99.0)]
    state = spark.createDataFrame(
        state_rows, "user_id long, ts timestamp, score double"
    )
    state_dir = str(tmp_path / "state")
    state.write.parquet(state_dir)

    landing = tmp_path / "ev_landing"
    landing.mkdir()
    sink = str(tmp_path / "enriched")
    ckpt = str(tmp_path / "enrich_ckpt")

    ev1 = [(1, 10, base + dt.timedelta(minutes=40), 1.0),
           (2, 20, base + dt.timedelta(minutes=10), 2.0)]
    ev2 = [(3, 10, base + dt.timedelta(minutes=90), 3.0),
           (4, 30, base + dt.timedelta(minutes=5), 4.0)]
    ev_schema = "event_id long, user_id long, ts timestamp, value double"

    def state_source(s):
        return s.read.parquet(state_dir)

    spark.createDataFrame(ev1, ev_schema).write.parquet(str(landing / "b1"))
    q = start_enrich_stream(
        spark, str(landing) + "/*", state_source, sink, ckpt, on=["user_id"]
    )
    q.awaitTermination(120)
    spark.createDataFrame(ev2, ev_schema).write.parquet(str(landing / "b2"))
    q = start_enrich_stream(
        spark, str(landing) + "/*", state_source, sink, ckpt, on=["user_id"]
    )
    q.awaitTermination(120)

    streamed = {
        r["event_id"]: (r["score"], r["ts_r"])
        for r in spark.read.parquet(sink).collect()
    }
    batch = {
        r["event_id"]: (r["score"], r["ts_r"])
        for r in asof_join(
            spark.createDataFrame(ev1 + ev2, ev_schema),
            state,
            on=["user_id"],
        ).collect()
    }
    assert streamed == batch
    assert len(streamed) == 4  # no duplicates across the restart
    assert streamed[1][0] == 30.0  # latest state at-or-before 00:40
    assert streamed[4][0] is None  # unknown user: left-outer null

    # replaying with the same checkpoint emits nothing new
    q = start_enrich_stream(
        spark, str(landing) + "/*", state_source, sink, ckpt, on=["user_id"]
    )
    q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 4


def test_neardup_stream_matches_batch_lsh(spark, tmp_path):
    """Streaming MinHash-LSH near-dup: pairs emitted across two
    micro-batches (intra-batch + batch-vs-bucket-table) must equal the
    offline minhash_lsh_pairs over the union of all docs, and a
    re-arrived doc id must be suppressed (no self-pairs, no growth)."""
    import datetime as dt

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.neardup import (
        start_neardup_stream,
    )

    base = "the quick brown fox jumps over the lazy dog again and again "
    alt = "completely different content about spark partitioning and shuffles "
    docs1 = [
        (1, base * 4, "s1"),
        (2, base * 4 + "tail edit", "s2"),         # near-dup of 1 (same batch)
        (3, alt * 4, "s3"),
    ]
    docs2 = [
        (4, base * 4 + "another small tail", "s4"),  # near-dup of 1 and 2 (cross-batch)
        (5, alt * 4 + "with its own suffix", "s5"),  # near-dup of 3 (cross-batch)
        (1, base * 4, "s1-reupload"),                # exact re-arrival: suppressed
    ]
    ts = dt.datetime(2024, 1, 1)
    schema = "doc_id long, ts timestamp, text string, source string"

    landing = tmp_path / "nd_landing"
    landing.mkdir()
    buckets = str(tmp_path / "nd_buckets")
    pairs_sink = str(tmp_path / "nd_pairs")
    ckpt = str(tmp_path / "nd_ckpt")

    def drop(docs, name):
        spark.createDataFrame(
            [(i, ts, t, s) for i, t, s in docs], schema
        ).write.parquet(str(landing / name))

    drop(docs1, "b1")
    q = start_neardup_stream(spark, str(landing) + "/*", buckets, pairs_sink, ckpt)
    q.awaitTermination(120)
    drop(docs2, "b2")
    q = start_neardup_stream(spark, str(landing) + "/*", buckets, pairs_sink, ckpt)
    q.awaitTermination(120)

    streamed = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in spark.read.parquet(pairs_sink).collect()
    }
    union = spark.createDataFrame(
        [(i, t) for i, t, _ in docs1 + docs2[:2]], "doc_id long, text string"
    )
    offline = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_lsh_pairs(union).collect()
    }
    assert streamed == offline
    assert streamed  # non-degenerate: the fixture does contain near-dups
    assert all(a != b for a, b, _ in streamed)  # re-arrival: no self-pairs
    # bucket table holds one row per (doc, band) for the 5 distinct docs
    assert spark.read.parquet(buckets).select("id").distinct().count() == 5


def test_ivfpq_ingest_stream_keeps_search_layout_fresh(spark, tmp_path):
    """Vectors streamed in two micro-batches merge into the IVFPQ
    layout; the final probe equals a from-scratch rebuild over all
    rows, and a checkpoint replay adds nothing."""
    from pyspark.sql import functions as F

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
        pq,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.ann_ingest import (
        start_ivfpq_ingest_stream,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq.train_pq_codebooks(emb, m=16, k=64)
    cents = ann.seed_centroids(emb, 16)
    base = emb.filter(F.col("vec_id") % 3 == 0)
    b1 = emb.filter(F.col("vec_id") % 3 == 1)
    b2 = emb.filter(F.col("vec_id") % 3 == 2)

    path = str(tmp_path / "ivfpq_live")
    pq.write_ivfpq_index(base, path, cents, books)
    landing = tmp_path / "vec_landing"
    landing.mkdir()
    ckpt = str(tmp_path / "vec_ckpt")

    b1.write.parquet(str(landing / "b1"))
    start_ivfpq_ingest_stream(
        spark, str(landing) + "/*", path, ckpt
    ).awaitTermination(120)
    b2.write.parquet(str(landing / "b2"))
    start_ivfpq_ingest_stream(
        spark, str(landing) + "/*", path, ckpt
    ).awaitTermination(120)
    # replay with the same checkpoint: no new batches, layout unchanged
    start_ivfpq_ingest_stream(
        spark, str(landing) + "/*", path, ckpt
    ).awaitTermination(120)

    assert spark.read.parquet(path).count() == emb.count()
    full = str(tmp_path / "ivfpq_full")
    pq.write_ivfpq_index(emb, full, cents, books)
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    live = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in pq.ivfpq_topk_rerank(
            q, spark.read.parquet(path), cents, books, k=5, nprobe=16
        ).collect()
    }
    rebuilt = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in pq.ivfpq_topk_rerank(
            q, spark.read.parquet(full), cents, books, k=5, nprobe=16
        ).collect()
    }
    assert live == rebuilt


def test_neardup_stream_torn_batch_replay_is_exactly_once(
    spark, tmp_path, tear_last_commit
):
    """Crash-replay contract: deleting the checkpoint's last commit
    marker makes Structured Streaming re-execute that micro-batch
    under the SAME batch_id. The per-batch overwrite sinks plus the
    current-batch exclusion on the bucket-table read must leave pairs
    and bucket rows exactly as a clean run — no duplicates (old
    append sinks) and no empty-overwrite (self-suppression on replay).
    """
    import datetime as dt

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.neardup import (
        start_neardup_stream,
    )

    base = "the quick brown fox jumps over the lazy dog again and again "
    docs1 = [(1, base * 4, "s1"), (2, base * 4 + "tail edit", "s2")]
    docs2 = [(3, base * 4 + "another tail", "s3")]
    ts = dt.datetime(2024, 1, 1)
    schema = "doc_id long, ts timestamp, text string, source string"

    landing = tmp_path / "nd2_landing"
    landing.mkdir()
    buckets = str(tmp_path / "nd2_buckets")
    pairs_sink = str(tmp_path / "nd2_pairs")
    ckpt = tmp_path / "nd2_ckpt"

    def drop(docs, name):
        spark.createDataFrame(
            [(i, ts, t, s) for i, t, s in docs], schema
        ).write.parquet(str(landing / name))

    def run():
        q = start_neardup_stream(
            spark, str(landing) + "/*", buckets, pairs_sink, str(ckpt)
        )
        q.awaitTermination(120)

    drop(docs1, "b1")
    run()
    drop(docs2, "b2")
    run()

    def snapshot():
        pairs = {
            (r["id_a"], r["id_b"], r["est_jaccard"])
            for r in spark.read.parquet(pairs_sink).collect()
        }
        nrows = spark.read.parquet(pairs_sink).count()
        bucket_ids = {
            r["id"] for r in spark.read.parquet(buckets).select("id").collect()
        }
        brows = spark.read.parquet(buckets).count()
        return pairs, nrows, bucket_ids, brows

    before = snapshot()
    assert before[0]  # fixture produced pairs (doc 3 pairs with 1 and 2)
    assert {p[:2] for p in before[0]} >= {(1, 3), (2, 3)}

    # tear the last commit: batch 1 will replay under the same id
    tear_last_commit(ckpt)
    run()

    assert snapshot() == before


def test_ivfpq_ingest_auto_retrain_past_threshold(spark, tmp_path):
    """Sustained drift must not silently erode recall: with
    retrain_threshold, the ingest stream rebuilds the layout from its
    own full-precision rows (fresh quantizers, staleness reset) once
    upserts exceed the threshold, and the result is byte-equivalent
    to a manual retrain_ivfpq_index over the same corpus
    (deterministic seeding/sampling)."""
    from pyspark.sql import functions as F

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
        pq,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.ann_ingest import (
        start_ivfpq_ingest_stream,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)

    books = pq.train_pq_codebooks(base, m=16, k=64)
    cents = ann.seed_centroids(base, 8)
    path = str(tmp_path / "ivfpq_auto")
    pq.write_ivfpq_index(base, path, cents, books)

    landing = tmp_path / "landing"
    landing.mkdir()
    batch.write.parquet(str(landing / "b1"))

    # batch ~doubles the layout -> staleness ~1.0 >= 0.5 -> retrain
    start_ivfpq_ingest_stream(
        spark, str(landing) + "/*", path, str(tmp_path / "ckpt"),
        retrain_threshold=0.5,
    ).awaitTermination(180)

    meta = pq.load_ivfpq_meta(path)
    assert pq.ivfpq_staleness(path) == 0.0  # reset by the rebuild
    assert int(meta["rows_at_build"]) == emb.count()

    # layout + sidecar equal a manual retrain over the same corpus
    manual = str(tmp_path / "ivfpq_manual")
    pq.write_ivfpq_index(base, manual, cents, books)
    pq.retrain_ivfpq_index(spark, manual, emb)
    mmeta = pq.load_ivfpq_meta(manual)
    assert meta["centroids"] == mmeta["centroids"]
    assert meta["codebooks"] == mmeta["codebooks"]

    # recall contract stays green after the retrain: rerank probe on
    # the fresh quantizers finds each in-corpus query itself at rank 1
    new_cents = [(int(c), [float(x) for x in v]) for c, v in meta["centroids"]]
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = pq.ivfpq_topk_rerank(
        q, spark.read.parquet(path), new_cents, meta["codebooks"],
        k=5, nprobe=8,
    )
    self_hits = got.filter(
        (F.col("rank") == 1) & (F.col("query_id") == F.col("vec_id"))
    ).count()
    assert self_hits == 8


def test_ivfpq_ingest_retrain_crash_leaves_layout_whole(
    spark, tmp_path, monkeypatch
):
    """The stream retrains from the layout's own rows, so the rebuild
    must not touch the live layout before it is complete: a retrain
    whose write job dies partway leaves the layout readable with its
    rows and quantizers, and the replayed batch upserts into it and
    then retrains it."""
    import os

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
        pq,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.ann_ingest import (
        start_ivfpq_ingest_stream,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    books = pq.train_pq_codebooks(base, m=16, k=64)
    cents = ann.seed_centroids(base, 8)
    path = str(tmp_path / "ivfpq_crash")
    pq.write_ivfpq_index(base, path, cents, books)
    built = pq.load_ivfpq_meta(path)

    landing = tmp_path / "landing"
    landing.mkdir()
    batch.write.parquet(str(landing / "b1"))

    def drain():
        start_ivfpq_ingest_stream(
            spark, str(landing) + "/*", path, str(tmp_path / "ckpt"),
            retrain_threshold=0.5,
        ).awaitTermination(180)

    def die_in_write(v):
        raise RuntimeError("rebuild died mid-write")

    real_write = pq.write_ivfpq_index
    die = F.udf(die_in_write, "array<float>")

    def dying_write(index, out, *args, **kwargs):
        real_write(
            index.withColumn("embedding", die("embedding")), out,
            *args, **kwargs,
        )

    monkeypatch.setattr(pq, "write_ivfpq_index", dying_write)
    # without AQE the rebuild's shuffle runs inside its write job, so
    # the failure lands after the write has started on its target
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with pytest.raises(Exception, match="rebuild died mid-write"):
            drain()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)

    # the live layout is whole: no torn-swap marker, every row of the
    # upserted batch readable, the build's quantizers still in force
    assert not os.path.exists(os.path.join(path, "_swap_inprogress.json"))
    assert spark.read.parquet(path).count() == emb.count()
    meta = pq.load_ivfpq_meta(path)
    assert meta["centroids"] == built["centroids"]
    assert meta["codebooks"] == built["codebooks"]
    assert pq.ivfpq_staleness(path) >= 0.5

    # the replay upserts the batch again and retrains the same layout
    monkeypatch.setattr(pq, "write_ivfpq_index", real_write)
    drain()
    assert pq.ivfpq_staleness(path) == 0.0
    assert int(pq.load_ivfpq_meta(path)["rows_at_build"]) == emb.count()
    assert spark.read.parquet(path).count() == emb.count()
    assert not os.path.exists(path + "._retrain")


def test_bucket_table_compaction_preserves_stream_results(spark, tmp_path):
    """Compact the near-dup bucket table mid-stream: subsequent
    batches must pair identically to an uncompacted run (same offline
    parity), rows/ids preserved, directory count collapsed."""
    import datetime as dt
    import os

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.compaction import (
        compact_batch_partitions,
        list_batch_ids,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.neardup import (
        start_neardup_stream,
    )

    base = "the quick brown fox jumps over the lazy dog again and again "
    alt = "completely different content about spark partitioning and shuffles "
    batches = [
        [(1, base * 4, "s1"), (2, base * 4 + "tail", "s2")],
        [(3, alt * 4, "s3")],
        [(4, base * 4 + "other tail", "s4"), (5, alt * 4 + "suffix", "s5")],
    ]
    ts = dt.datetime(2024, 1, 1)
    schema = "doc_id long, ts timestamp, text string, source string"
    landing = tmp_path / "cp_landing"
    landing.mkdir()
    buckets = str(tmp_path / "cp_buckets")
    pairs_sink = str(tmp_path / "cp_pairs")
    ckpt = str(tmp_path / "cp_ckpt")

    def run_drop(docs, name):
        spark.createDataFrame(
            [(i, ts, t, s) for i, t, s in docs], schema
        ).write.parquet(str(landing / name))
        q = start_neardup_stream(
            spark, str(landing) + "/*", buckets, pairs_sink, ckpt
        )
        q.awaitTermination(120)

    run_drop(batches[0], "b1")
    run_drop(batches[1], "b2")
    n_rows_before = spark.read.parquet(buckets).count()
    stats = compact_batch_partitions(spark, buckets, keep_latest=0)
    assert stats["folded"] == 2 and stats["rows"] == n_rows_before
    assert list_batch_ids(buckets) == [-1]
    assert spark.read.parquet(buckets).count() == n_rows_before

    run_drop(batches[2], "b3")  # pairs against the compacted table
    streamed = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in spark.read.parquet(pairs_sink).collect()
    }
    union = spark.createDataFrame(
        [(i, t) for b in batches for i, t, _ in b], "doc_id long, text string"
    )
    offline = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_lsh_pairs(union).collect()
    }
    assert streamed == offline and streamed
    # second compaction folds the compacted mass + the new batch
    stats2 = compact_batch_partitions(spark, buckets, keep_latest=0)
    assert stats2["folded"] == 2
    assert spark.read.parquet(buckets).select("id").distinct().count() == 5
    # batch_id dirs collapsed to the sentinel only
    assert [
        d for d in os.listdir(buckets) if d.startswith("batch_id=")
    ] == ["batch_id=-1"]


def test_compaction_noop_and_keep_latest(spark, tmp_path):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.compaction import (
        compact_batch_partitions,
        list_batch_ids,
    )

    path = str(tmp_path / "acc")
    for b in range(3):
        spark.range(5).withColumn("v", F.col("id") * b).write.parquet(
            f"{path}/batch_id={b}"
        )
    # keep_latest=2 leaves only one foldable partition -> no-op
    assert compact_batch_partitions(spark, path, keep_latest=2)["folded"] == 0
    assert list_batch_ids(path) == [0, 1, 2]
    # keep_latest=1 folds 0,1; batch 2 (the replayable tail) untouched
    stats = compact_batch_partitions(spark, path, keep_latest=1)
    assert stats == {"folded": 2, "kept": [2], "rows": 10}
    assert list_batch_ids(path) == [-1, 2]
    assert spark.read.parquet(path).count() == 15
    # empty/missing dir -> clean no-op
    assert (
        compact_batch_partitions(spark, str(tmp_path / "nope"))["folded"] == 0
    )


def test_compaction_torn_marker_fails_reads_loudly(spark, tmp_path):
    import json

    import pytest as pt

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.compaction import (
        compact_batch_partitions,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.layout import (
        marker_path_for,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.drive import (
        read_batches,
    )

    path = str(tmp_path / "torn")
    for b in range(2):
        spark.range(3).write.parquet(f"{path}/batch_id={b}")
    with open(marker_path_for(path), "w") as f:
        json.dump({"partitions": ["batch_id=0"]}, f)
    with pt.raises(RuntimeError, match="torn"):
        compact_batch_partitions(spark, path)
    with pt.raises(RuntimeError, match="torn"):
        read_batches(spark, path, "id long")


def test_histogram_rollup_stream_partials_match_batch_and_merge(spark, tmp_path):
    """Streaming hourly histogram partials: emitted (hour, bin)
    counts equal the batch histogram exactly (late rows merged),
    append-once holds, and merging the emitted partials to daily
    equals the batch daily histogram over the same hours — the
    continuous-aggregate read path for quantiles."""
    import datetime

    from pyspark.sql import Window

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        histogram,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries import (
        load,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.rollup import (
        start_histogram_rollup_stream,
    )

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    ts = sorted(r["ts"] for r in ev.select("ts").collect())
    split = ts[len(ts) // 2]
    band_lo = split - datetime.timedelta(hours=24)
    in_band = (F.col("ts") >= band_lo) & (F.col("ts") < split)
    rn = F.row_number().over(
        Window.partitionBy(F.date_trunc("hour", "ts")).orderBy("ts", "event_id")
    )
    tagged = ev.withColumn("__late", in_band & (rn > 1))
    late = tagged.filter("__late").drop("__late")
    drop1 = tagged.filter((F.col("ts") < split) & ~F.col("__late")).drop("__late")
    drop2 = tagged.filter(F.col("ts") >= split).drop("__late").unionByName(late)
    assert late.count() > 0

    landing = tmp_path / "hist_landing"
    landing.mkdir()
    sink = str(tmp_path / "hist_sink")
    ckpt = str(tmp_path / "hist_ckpt")
    wm = "48 hours"
    drop1.coalesce(1).write.parquet(str(landing / "drop1"))
    _drain(start_histogram_rollup_stream(spark, str(landing) + "/*", sink, ckpt, watermark=wm))
    drop2.coalesce(1).write.parquet(str(landing / "drop2"))
    _drain(start_histogram_rollup_stream(spark, str(landing) + "/*", sink, ckpt, watermark=wm))

    emitted = spark.read.parquet(sink)
    assert emitted.count() > 0
    assert emitted.groupBy("hour", "bin").count().filter("count > 1").count() == 0

    batch = histogram.histogram_by(
        ev, "value", [F.date_trunc("hour", "ts").alias("hour")], 0.0, 10.0, 50
    ).withColumnRenamed("cnt", "b_cnt")
    j = emitted.join(batch, ["hour", "bin"], "left")
    assert j.filter(F.col("b_cnt") == F.col("cnt")).count() == emitted.count()

    # continuous-aggregate read: merge emitted partials to daily and
    # compare against the batch daily histogram over the same hours
    hours = emitted.select("hour").distinct()
    daily_stream = histogram.merge_histograms(
        emitted, [F.date_trunc("day", "hour").alias("day")]
    )
    daily_batch = histogram.merge_histograms(
        batch.join(hours, "hour").withColumnRenamed("b_cnt", "cnt"),
        [F.date_trunc("day", "hour").alias("day")],
    )
    a = {(r["day"], r["bin"]): r["cnt"] for r in daily_stream.collect()}
    b = {(r["day"], r["bin"]): r["cnt"] for r in daily_batch.collect()}
    assert a == b and a


def test_scd2_enrich_stream_matches_batch_interval_join(spark, tmp_path):
    """Streaming SCD2 enrichment: two micro-batch drops joined to a
    versioned dimension must equal the one-shot interval_join, with
    late events picking the HISTORICALLY valid version (not the
    current one) and no duplicates across a checkpointed restart."""
    import datetime as dt

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.temporal import (
        interval_join,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.enrich import (
        start_scd2_enrich_stream,
    )

    base = dt.datetime(2024, 1, 1)
    dim = spark.createDataFrame(
        [
            (10, base, base + dt.timedelta(hours=1), "v1"),
            (10, base + dt.timedelta(hours=1), None, "v2"),
            (20, base + dt.timedelta(minutes=30), base + dt.timedelta(minutes=40), "w1"),
        ],
        "user_id long, valid_from timestamp, valid_to timestamp, ver string",
    )
    dim_dir = str(tmp_path / "dim")
    dim.write.parquet(dim_dir)

    landing = tmp_path / "scd_landing"
    landing.mkdir()
    sink = str(tmp_path / "scd_enriched")
    ckpt = str(tmp_path / "scd_ckpt")
    ev_schema = "event_id long, user_id long, ts timestamp, value double"
    ev1 = [(1, 10, base + dt.timedelta(minutes=30), 1.0),   # v1
           (2, 20, base + dt.timedelta(minutes=45), 2.0)]   # gap: null
    # second drop arrives later but contains an EARLIER event: it must
    # still join v1, the version valid at its event time
    ev2 = [(3, 10, base + dt.timedelta(hours=2), 3.0),      # v2 (open)
           (4, 10, base + dt.timedelta(minutes=59), 4.0)]   # late → v1

    def dim_source(s):
        return s.read.parquet(dim_dir)

    spark.createDataFrame(ev1, ev_schema).write.parquet(str(landing / "b1"))
    start_scd2_enrich_stream(
        spark, str(landing) + "/*", dim_source, sink, ckpt, on=["user_id"]
    ).awaitTermination(120)
    spark.createDataFrame(ev2, ev_schema).write.parquet(str(landing / "b2"))
    start_scd2_enrich_stream(
        spark, str(landing) + "/*", dim_source, sink, ckpt, on=["user_id"]
    ).awaitTermination(120)

    streamed = {
        r["event_id"]: r["ver"] for r in spark.read.parquet(sink).collect()
    }
    batch = {
        r["event_id"]: r["ver"]
        for r in interval_join(
            spark.createDataFrame(ev1 + ev2, ev_schema), dim, on=["user_id"]
        ).collect()
    }
    assert streamed == batch
    assert streamed == {1: "v1", 2: None, 3: "v2", 4: "v1"}


def test_takedown_stream_propagates_across_all_layouts(spark, tmp_path):
    """Deletion requests streamed in two micro-batches remove the ids
    from the flat vector index, the lexical index, and both ANN
    layouts; a checkpoint replay (at-least-once delivery) changes
    nothing because every hook is idempotent."""
    from pyspark.sql import functions as F

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
        pq,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table import (
        VectorIndex,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.lexical_index import (
        LexicalIndex,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.takedown import (
        layout_hooks,
        start_takedown_stream,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.col("doc_id") < 40
    )
    # flat vector index (string ids "v<id>")
    vec = VectorIndex(spark, str(tmp_path), "td-idx").create(dimension=64)
    vec.upsert(
        emb.filter(F.col("vec_id") < 40).select(
            F.concat(F.lit("v"), F.col("vec_id")).alias("id"),
            "embedding",
            F.concat(F.lit("t"), F.col("vec_id")).alias("text"),
            F.lit("s").alias("source"),
            F.lit(0).alias("chunk_index"),
        ),
        batch=1,
    )
    # lexical index over the doc slice
    lex = LexicalIndex(spark, str(tmp_path / "lex"))
    lex.create(docs, term_buckets=8, doc_buckets=4)
    # both ANN layouts
    ivf_path = str(tmp_path / "td-ivf")
    cents = ann.seed_centroids(emb, 8)
    ann.write_ivf_index(emb, ivf_path, cents, metric="cosine")
    ivfpq_path = str(tmp_path / "td-ivfpq")
    books = pq.train_pq_codebooks(emb, m=8, k=16)
    pq.write_ivfpq_index(emb, ivfpq_path, cents, books)

    hooks = layout_hooks(
        vector_index=vec,
        lexical_index=lex,
        ivf_path=ivf_path,
        ivfpq_path=ivfpq_path,
        vector_id_prefix="v",
    )
    landing = tmp_path / "td_landing"
    landing.mkdir()
    ckpt = str(tmp_path / "td_ckpt")

    spark.createDataFrame([(3,), (7,)], "doc_id long").write.parquet(
        str(landing / "b1")
    )
    _drain(start_takedown_stream(spark, str(landing) + "/*", ckpt, hooks))
    spark.createDataFrame([(11,), (999_999,)], "doc_id long").write.parquet(
        str(landing / "b2")
    )
    _drain(start_takedown_stream(spark, str(landing) + "/*", ckpt, hooks))
    # replay: no new batches, nothing changes (idempotent hooks)
    _drain(start_takedown_stream(spark, str(landing) + "/*", ckpt, hooks))

    gone = [3, 7, 11]
    assert vec.read().filter(
        F.col("id").isin([f"v{i}" for i in gone])
    ).count() == 0
    assert vec.read().count() == 40 - 3
    assert lex.doc_store().filter(F.col("id").isin(gone)).count() == 0
    for p in (ivf_path, ivfpq_path):
        left = spark.read.parquet(p)
        assert left.filter(F.col("vec_id").isin(gone)).count() == 0
        assert left.count() == emb.count() - 3
    # audit counters reached the sidecars
    assert pq.load_ivfpq_meta(ivfpq_path)["deleted_since_build"] == 3
    assert ann.ivf_meta(ivf_path)["deleted_since_build"] == 3


def test_takedown_churn_keeps_file_counts_bounded(spark, tmp_path):
    """Sustained takedown churn (6 micro-batches) never grows the
    per-partition-dir parquet file count in ANY of the four layouts:
    every mutation is a wholesale touched-dir rewrite under the
    marker-fenced swap — one writer task per bucket — so the layouts
    are self-compacting (no separate compaction pass exists to
    forget). Probes stay exact throughout."""
    import glob as _glob

    from pyspark.sql import functions as F

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
        pq,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table import (
        VectorIndex,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.lexical_index import (
        LexicalIndex,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.takedown import (
        layout_hooks,
        start_takedown_stream,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vec = VectorIndex(spark, str(tmp_path), "churn-idx").create(dimension=64)
    vec.upsert(
        emb.select(
            F.concat(F.lit("v"), F.col("vec_id")).alias("id"),
            "embedding",
            F.concat(F.lit("t"), F.col("vec_id")).alias("text"),
            F.lit("s").alias("source"),
            F.lit(0).alias("chunk_index"),
        ),
        batch=1,
    )
    lex = LexicalIndex(spark, str(tmp_path / "lex"))
    lex.create(docs, term_buckets=8, doc_buckets=4)
    ivf_path = str(tmp_path / "churn-ivf")
    cents = ann.seed_centroids(emb, 8)
    ann.write_ivf_index(emb, ivf_path, cents, metric="cosine")
    ivfpq_path = str(tmp_path / "churn-ivfpq")
    books = pq.train_pq_codebooks(emb, m=8, k=16)
    pq.write_ivfpq_index(emb, ivfpq_path, cents, books)

    layout_dirs = {
        "vector": vec._data_path,
        "lexical_postings": lex._postings_path,
        "lexical_docs": lex._docs_path,
        "ivf": ivf_path,
        "ivfpq": ivfpq_path,
    }

    def per_dir_counts(root):
        out = {}
        for d in _glob.glob(os.path.join(root, "*=*")):
            out[os.path.basename(d)] = len(
                [f for f in os.listdir(d) if f.endswith(".parquet")]
            )
        return out

    build_counts = {k: per_dir_counts(p) for k, p in layout_dirs.items()}
    hooks = layout_hooks(
        vector_index=vec,
        lexical_index=lex,
        ivf_path=ivf_path,
        ivfpq_path=ivfpq_path,
        vector_id_prefix="v",
    )
    landing = tmp_path / "churn_landing"
    landing.mkdir()
    ckpt = str(tmp_path / "churn_ckpt")
    gone = []
    for b in range(6):
        ids = [10 * b + 1, 10 * b + 3]
        gone += ids
        spark.createDataFrame([(i,) for i in ids], "doc_id long").write.parquet(
            str(landing / f"b{b}")
        )
        _drain(start_takedown_stream(spark, str(landing) + "/*", ckpt, hooks))

    for name, root in layout_dirs.items():
        after = per_dir_counts(root)
        before = build_counts[name]
        for part, n_files in after.items():
            assert n_files <= max(before.get(part, 1), 1), (
                f"{name}/{part}: {n_files} files after churn vs "
                f"{before.get(part)} at build — small files accumulating"
            )
    # probes stay exact: deleted ids gone everywhere, survivors intact
    assert vec.read().filter(
        F.col("id").isin([f"v{i}" for i in gone])
    ).count() == 0
    assert lex.doc_store().filter(F.col("id").isin(gone)).count() == 0
    n_emb = emb.count()
    n_emb_gone = emb.filter(F.col("vec_id").isin(gone)).count()
    for p in (ivf_path, ivfpq_path):
        left = spark.read.parquet(p)
        assert left.filter(F.col("vec_id").isin(gone)).count() == 0
        assert left.count() == n_emb - n_emb_gone


def test_takedown_hooks_validation(spark):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.takedown import (
        layout_hooks,
    )

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no layouts"):
        layout_hooks()


def test_scrub_ingest_stream_raw_text_never_reaches_sink(spark, dirs):
    """Streaming twin of corpus_scrub_ingest_pipeline: with scrub=True
    every micro-batch scrubs before chunking, so the index never holds
    a PII match and its rows equal the batch scrub-ingest's."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.pii import (
        pii_counts,
    )

    landing, ckpt, root = dirs
    doc = (
        "reach me at jane.doe@example.com or 415-555-0134, "
        "ssn 123-45-6789, host 10.0.0.7. " + "filler words " * 80
    )
    (landing / "pii.txt").write_text(doc)
    provider = HashEmbedder(dimension=64)

    s_idx = VectorIndex(spark, root, "scrub-s").create(dimension=64)
    _drain(
        start_ingest_stream(
            spark, str(landing), s_idx, provider, ckpt, scrub=True
        )
    )
    rows = s_idx.read().select("id", "text", "chunk_index").collect()
    assert rows
    residual = (
        s_idx.read()
        .select(sum(pii_counts(F.col("text")).values()).alias("r"))
        .agg(F.sum("r"))
        .collect()[0][0]
    )
    assert residual == 0  # no PII shape survives in any indexed chunk
    joined = " ".join(r["text"] for r in rows)
    assert "jane.doe@example.com" not in joined
    assert "123-45-6789" not in joined
    # stream == batch: same ids, same scrubbed text
    b_idx = VectorIndex(spark, root, "scrub-b").create(dimension=64)
    docs = spark.createDataFrame([(doc, "x")], "text string, source string")
    b_idx.upsert(docs_to_records(docs, provider, scrub=True), batch=0)
    s_rows = {(r["id"], r["text"], r["chunk_index"]) for r in rows}
    b_rows = {
        (r["id"], r["text"], r["chunk_index"])
        for r in b_idx.read().select("id", "text", "chunk_index").collect()
    }
    assert {x[0] for x in s_rows} == {x[0] for x in b_rows}
    assert {(x[1], x[2]) for x in s_rows} == {(x[1], x[2]) for x in b_rows}


def test_docs_to_records_fused_matches_standalone_operators(spark):
    """Round-15 optimization contract: the fused chunk+embed kernel in
    docs_to_records is byte-identical to composing the standalone
    operators (chunk_documents -> chunk_id -> embed_text_column)."""
    from pyspark.sql import functions as F

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.embed.providers import (
        HashEmbedder,
        embed_text_column,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.chunker import (
        chunk_documents,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.ingest import (
        docs_to_records,
    )

    docs = spark.createDataFrame(
        [
            ("alpha beta " * 120, "mem://d/0"),   # multi-chunk
            ("short", "mem://d/1"),               # single chunk
            ("", "mem://d/2"),                    # empty -> no chunks
            ("pii tail 555-123-4567 " * 40, "mem://d/3"),
        ],
        "text string, source string",
    )
    provider = HashEmbedder(dimension=16)
    fused = docs_to_records(docs, provider)
    base = docs.select(
        F.xxhash64("source").alias("doc_id"), "text", "source"
    )
    chunks = chunk_documents(base, 500, 50)
    composed = embed_text_column(
        chunks, provider, text_col="text", out_col="embedding"
    ).select(
        F.col("chunk_id").alias("id"),
        "embedding",
        "text",
        "source",
        F.col("local_index").alias("chunk_index"),
    )

    def canon(df):
        return sorted(
            (
                r["id"],
                r["source"],
                r["chunk_index"],
                r["text"],
                tuple(round(float(x), 6) for x in r["embedding"]),
            )
            for r in df.collect()
        )

    got, want = canon(fused), canon(composed)
    assert got == want and len(got) > 4
