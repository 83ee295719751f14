"""Plan-shape contracts (plans.inspect): the properties that make the
operators hold at 100 TB, asserted on real plans."""

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
    ann,
    dedup,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
    topk_search,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.plans.inspect import (
    broadcast_join_count,
    has_partition_filter,
    has_pushed_filter,
    has_window_group_limit,
    physical_plan,
    reads_columns,
    shuffle_count,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _queries(emb):
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


def test_topk_broadcasts_queries_not_index(spark, emb):
    out = topk_search(_queries(emb), emb, k=5, metric="cosine")
    assert broadcast_join_count(out) >= 1
    # the index side is never exchanged before scoring: the only
    # shuffle is the final per-query top-k window
    assert shuffle_count(out) == 1


def test_topk_uses_window_group_limit(spark, emb):
    out = topk_search(_queries(emb), emb, k=5, metric="cosine")
    assert has_window_group_limit(out)


def test_metadata_filter_pushed_to_scan(spark, emb):
    out = topk_search(
        _queries(emb), emb, k=5, metric="cosine",
        pre_filter=F.col("label").isin(0, 1, 2),
    )
    assert has_pushed_filter(out, "label")


def test_scoring_reads_only_needed_columns(spark, emb):
    out = topk_search(_queries(emb), emb, k=5, metric="cosine")
    cols = reads_columns(out, "embeddings.parquet")
    assert cols and "label" not in cols  # vec_id + embedding only


def test_ivf_layout_partition_pruning(spark, emb, tmp_path):
    cents = ann.seed_centroids(emb, 8)
    path = str(tmp_path / "ivf")
    ann.write_ivf_index(emb, path, cents, metric="cosine")
    layout = spark.read.parquet(path)
    q = _queries(emb)
    out = ann.ivf_topk_gemm(q, layout, cents, k=5, nprobe=2)
    assert has_partition_filter(out, "centroid_id")


def test_rerank_broadcasts_candidates_index_never_shuffled(spark, emb, tmp_path):
    cents = ann.seed_centroids(emb, 8)
    path = str(tmp_path / "ivf8")
    ann.write_ivf_index(emb, path, cents, metric="cosine", compression="int8")
    layout = spark.read.parquet(path)
    out = ann.ivf_topk_rerank(
        _queries(emb), layout, emb, cents, k=5, nprobe=2, expand=4
    )
    # candidate ids and the query matrix are broadcast into the full
    # index scan; the only exchanges are the two top-k windows
    # (candidate ranking + final ranking)
    assert broadcast_join_count(out) >= 2
    assert shuffle_count(out) == 2


def test_exact_dedup_is_single_shuffle(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = dedup.exact_dedup(docs)
    assert shuffle_count(out) == 1  # one hash-aggregate exchange


def test_filtered_ann_pushes_filter_into_pruned_scan(spark, emb, tmp_path):
    """Metadata-filtered ANN: the label predicate and the centroid
    prune land in the SAME layout scan — PushedFilters beside
    PartitionFilters; filtered rows never reach the GEMM kernel."""
    path = str(tmp_path / "ivf-filt")
    cents = ann.seed_centroids(emb, 8)
    ann.write_ivf_index(emb, path, cents, metric="cosine")
    layout = spark.read.parquet(path)
    out = ann.ivf_topk_gemm(
        _queries(emb), layout, cents, k=5, nprobe=4,
        pre_filter=F.col("label").isin(0, 1, 2),
    )
    assert has_partition_filter(out, "centroid_id")
    assert has_pushed_filter(out, "label")


def test_rollup_is_one_expand_one_exchange(spark):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries.analytics_queries import (
        events_rollup_day_type,
    )

    out = events_rollup_day_type(spark, SF_DIR)
    plan = physical_plan(out)
    assert "Expand" in plan  # 3 grouping sets in ONE pass
    assert shuffle_count(out) == 1  # single partial-agg exchange


def test_pivot_explicit_values_two_agg_exchanges_no_collect(spark):
    """Explicit pivot values: no distinct-collect pre-pass (which
    would show as an extra JOB, not a plan node — asserted by the
    plan building eagerly with exactly the two aggregate exchanges:
    (day, type) counts, then pivotfirst re-keyed to day)."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries.analytics_queries import (
        events_type_pivot,
    )

    out = events_type_pivot(spark, SF_DIR)
    assert shuffle_count(out) == 2


def test_top_terms_is_take_ordered(spark):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.plans.inspect import (
        physical_plan as pp,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries.text_queries import (
        corpus_top_terms,
    )

    out = corpus_top_terms(spark, SF_DIR)
    # global top-20 via per-partition limits, not a global sort
    assert "TakeOrderedAndProject" in pp(out)


def test_ivfpq_cosine_dispatch_keeps_partition_pruning(spark, emb, tmp_path, monkeypatch):
    """The r7 metric paths ride the same pruned scan: a dispatched
    cosine probe over a normalized IVFPQ layout, on the Spark executor,
    still reads only the probed centroid_id partition directories
    (PartitionFilters — the 16 B/row scan promise survives the
    transform)."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        pq,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import search as dispatch
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.search import (
        search,
    )

    monkeypatch.setattr(dispatch, "DRIVER_PROBE_BYTES", 0)

    emb_n = pq._unit_normalized(emb, "embedding")
    books = pq.train_pq_codebooks(emb_n, m=8, k=16)
    cents = ann.seed_centroids(emb_n, 8)
    path = str(tmp_path / "ivfpq_cos_plan")
    pq.write_ivfpq_index(emb, path, cents, books, normalize=True)
    out = search(
        _queries(emb), emb, k=5, metric="cosine",
        layout_path=path, nprobe=2, fetch_k=25,
    )
    assert has_partition_filter(out, "centroid_id")


def test_ivfpq_filtered_pushes_filter_into_pruned_scan(spark, emb, tmp_path, monkeypatch):
    """Metadata-filtered IVFPQ (meta_cols layout + dispatcher
    pre_filter) on the Spark executor: the label predicate and the
    centroid prune land in the SAME bucket scan — PushedFilters beside
    PartitionFilters, so non-qualifying rows never reach the ADC
    kernel."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        pq,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import search as dispatch
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.search import (
        search,
    )

    monkeypatch.setattr(dispatch, "DRIVER_PROBE_BYTES", 0)

    emb_n = pq._unit_normalized(emb, "embedding")
    books = pq.train_pq_codebooks(emb_n, m=8, k=16)
    cents = ann.seed_centroids(emb_n, 8)
    path = str(tmp_path / "ivfpq_filt_plan")
    pq.write_ivfpq_index(
        emb, path, cents, books, normalize=True, meta_cols=["label"]
    )
    out = search(
        _queries(emb), emb, k=5, metric="cosine",
        layout_path=path, nprobe=2, fetch_k=25,
        pre_filter=F.col("label").isin(0, 1, 2),
    )
    assert has_partition_filter(out, "centroid_id")
    assert has_pushed_filter(out, "label")


def test_dsir_weights_model_is_broadcast(spark):
    """DSIR scoring joins the ≤256-row λ table by BROADCAST — the
    corpus never shuffles against the model; the only exchanges are
    the bounded histogram aggregates and the per-doc weight groupBy."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        dsir,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    target = docs.filter(F.col("doc_id") % 11 == 0)
    raw = docs.filter(F.col("doc_id") % 11 != 0)
    out = dsir.dsir_log_weights(raw, target)
    assert broadcast_join_count(out) >= 1


def test_scrub_ingest_records_are_shuffle_free(spark):
    """The scrub-before-anything funnel (scrub -> chunk -> embed) is a
    pure narrow-map chain: zero exchanges until the index's bucketed
    merge repartition. At 100 TB the funnel streams at scan bandwidth;
    any Exchange appearing here means a stage regression."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.embed.providers import (
        HashEmbedder,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.ingest import (
        docs_to_records,
    )

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .selectExpr("text", "source || '/' || doc_id AS source")
    )
    records = docs_to_records(docs, HashEmbedder(dimension=16), scrub=True)
    assert shuffle_count(records) == 0


def test_web_crawl_funnel_shuffle_free_until_url_dedup(spark, tmp_path):
    """The web-crawl curation front end (WARC parse -> extract ->
    canonical-URL dedup -> host cap): exactly two exchanges — the
    dedup groupBy (hash on canonical_url, with map-side min_by
    partial agg) and the host-cap window — and nothing upstream of
    the groupBy shuffles. At 100 TB everything before the dedup runs
    at scan bandwidth over the segment files."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries.web_queries import (
        _warc_segment,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.warc import (
        load_warc_records,
        web_crawl_documents,
    )

    (tmp_path / "seg.warc.gz").write_bytes(
        _warc_segment([(d, "word salad " * 30) for d in range(12)])
    )
    records = load_warc_records(spark, str(tmp_path))
    deduped = web_crawl_documents(records, host_cap=None)
    assert shuffle_count(deduped) == 1  # the dedup groupBy only
    capped = web_crawl_documents(records, host_cap=2)
    assert shuffle_count(capped) == 2  # + the host-cap window
    # partial aggregation happens map-side before the exchange (plan
    # text is indented child-below-parent, so the partial agg printing
    # AFTER the exchange line means it executes before it)
    plan = physical_plan(deduped)
    assert "partial_min_by" in plan
    assert plan.index("Exchange hashpartitioning") < plan.index("partial_min_by")


def test_fetch_schedule_single_frontier_shuffle(spark):
    """The politeness scheduler's plan contract: the FRONTIER pays
    exactly ONE hash shuffle (the per-host ranking window). The delay
    table pays its own tiny per-host dedup aggregate (defensive MAX —
    r13 review: a duplicate-host delays table must slow the schedule,
    never multiply frontier rows through the join) and then joins
    broadcast. At 100 TB the frontier side is scan -> one exchange ->
    window arithmetic."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
        fetch_schedule,
    )

    frontier = spark.range(0, 10_000).select(
        F.concat(
            F.lit("https://h"), (F.col("id") % 50).cast("string"),
            F.lit(".com/p/"), F.col("id").cast("string"),
        ).alias("url")
    )
    delays = spark.createDataFrame(
        [(f"h{i}.com", float(i % 5 + 1)) for i in range(50)],
        "host string, crawl_delay double",
    )
    out = fetch_schedule(frontier, delays)
    # frontier-side window shuffle + delays-side dedup agg, NOTHING
    # else: the join carries no broadcast hint (the per-host delay
    # table GROWS with hosts — AQE broadcasts it while small) and when
    # planned as SMJ it REUSES both sides' existing host partitioning,
    # so no third exchange appears
    assert shuffle_count(out) == 2
    # duplicate-host delays: rows never multiply, max delay wins
    dup = delays.union(
        spark.createDataFrame([("h1.com", 9.0)], "host string, crawl_delay double")
    )
    out2 = fetch_schedule(frontier, dup)
    assert out2.count() == 10_000
    assert (
        out2.filter((F.col("host") == "h1.com") & (F.col("wave") == 1))
        .first()["fetch_at"]
        == 9.0
    )


def test_fetch_schedule_ranked_still_one_host_shuffle(spark):
    """PageRank-prioritized scheduling (r14): the priority join keys
    on the URL and lands BEFORE the ranking window, so the frontier
    still pays exactly ONE host-keyed shuffle. Total exchanges =
    window + delays dedup agg + the priority table's own per-url
    dedup agg (defensive MAX, r14 advice: duplicate priority rows
    must never multiply frontier rows into double-fetches) — the
    priority side broadcasts after its agg while small; at scale it
    is frontier-sized and AQE plans an SMJ on the url key instead,
    which adds url-keyed exchanges but never a second HOST shuffle."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
        fetch_schedule,
    )

    frontier = spark.range(0, 10_000).select(
        F.concat(
            F.lit("https://h"), (F.col("id") % 50).cast("string"),
            F.lit(".com/p/"), F.col("id").cast("string"),
        ).alias("url")
    )
    delays = spark.createDataFrame(
        [(f"h{i}.com", float(i % 5 + 1)) for i in range(50)],
        "host string, crawl_delay double",
    )
    prio = spark.range(0, 5_000).select(
        F.concat(
            F.lit("https://h"), (F.col("id") % 50).cast("string"),
            F.lit(".com/p/"), F.col("id").cast("string"),
        ).alias("url"),
        (F.col("id") % 7).cast("double").alias("priority"),
    )
    out = fetch_schedule(frontier, delays, priority=prio)
    # unranked contract (2) + the priority-side per-url dedup agg
    assert shuffle_count(out) == 3
    plan = physical_plan(out)
    # the ranking window orders by priority DESC NULLS LAST, url
    assert "priority" in plan and "DESC NULLS LAST" in plan
    assert broadcast_join_count(out) >= 1  # the priority join
    # semantics spot-check: unscored URLs (id >= 5000) wave AFTER
    # every scored one on their host
    row = (
        out.filter(F.col("url") == "https://h1.com/p/5001")
        .select("wave")
        .first()
    )
    assert row["wave"] >= 100  # 100 scored URLs per host come first


def test_anchor_index_two_shuffles(spark):
    """anchor_text_index plan contract: one (src_host, dst, anchor)
    dedup exchange + one (dst, anchor) count exchange — nothing else.
    At 100 TB both key on frontier-scale columns and AQE sizes them;
    no join ever appears."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.links import (
        anchor_text_index,
    )

    links = spark.range(0, 10_000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 40).cast("string"),
                 F.lit(".com/p/"), F.col("id").cast("string")).alias("src"),
        F.concat(F.lit("https://t"), (F.col("id") % 500).cast("string"),
                 F.lit(".com/")).alias("dst"),
        F.concat(F.lit("anchor "), (F.col("id") % 7).cast("string")).alias("anchor"),
    )
    out = anchor_text_index(links)
    assert shuffle_count(out) == 2
    assert broadcast_join_count(out) == 0


def test_mirror_host_pairs_bounded_no_join(spark):
    """mirror_host_pairs plan contract: TWO exchanges — the sig
    host-set groupBy and the pair count (Catalyst elides the explicit
    (host, sig) distinct because collect_set is duplicate-insensitive)
    — and NO join operator at all: the pair expansion is an in-row HOF
    over the max_hosts-capped host set, so the quadratic all-pairs
    self-join never exists in the plan."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
        mirror_host_pairs,
    )

    docs = spark.range(0, 5_000).select(
        F.concat(F.lit("h"), (F.col("id") % 20).cast("string"),
                 F.lit(".example")).alias("host"),
        F.concat(F.lit("content "), (F.col("id") % 700).cast("string")).alias("text"),
    )
    out = mirror_host_pairs(docs, min_shared=2, max_hosts=4)
    plan = physical_plan(out)
    assert shuffle_count(out) == 2
    assert "Join" not in plan
