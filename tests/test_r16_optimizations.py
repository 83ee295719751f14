"""Round-16 optimization contracts: every structural rewrite this
round must be VALUE-INVARIANT — these tests pin each rewrite against
the form it replaced (or a reference computation), beyond the
registry-level oracle hashes.

1. the crawl loop's combined readmission-check + wave admission
   (`_admit_recheck_and_wave`) equals two sequential
   `admit_frontier_candidates` calls — exercised on a fixture where
   the recheck ADMITS rows (the e2e data admits zero, so the quota
   interplay `_c2`/`_n2` would otherwise be untested);
2. the LM self-scoring shared-explode form (per-(doc,bigram) counts,
   n·round(nll) decimal scoring) equals the per-occurrence explicit-
   model path byte for byte;
3. the DSIR window-sum totals equal the agg().crossJoin() totals the
   r15 form computed;
4. the lexical probe's driver-side sidecar fast path equals the
   round-11 scan-computed-df fallback, and a partially-adopted
   sidecar falls back rather than answering from partial data;
5. `LexicalIndex.create` releases its checkpoint blocks (ADVICE r15);
6. sitemap carry_cols collisions fail loudly (ADVICE r15).
"""

import os

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries.web_queries import (
    _admit_recheck_and_wave,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.frontier_admit import (
    admit_frontier_candidates,
    pending_fetch_list,
)


def _urls(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def _write_frontier(spark, path, rows):
    spark.createDataFrame(
        rows, "canonical_url string, host string"
    ).write.parquet(f"{path}/batch_id=0")


def test_combined_admission_equals_sequential(spark, tmp_path):
    """The combined pass must reproduce the sequential two-call result
    on a state where the RECHECK admits rows (hosta: quota forces the
    wave rows to compete against the recheck's admissions) and where
    the recheck urls sort AFTER the wave urls (so an origin-blind
    ranking would mis-assign quota)."""
    cap = 4
    # hosta: 2 already known (1 fetched + 1 pending) -> quota base 2.
    # recheck brings 3 fresh urls (sorting AFTER the wave's), wave
    # brings 2 fresh urls. Sequential: recheck admits 2 (rk 1..3 + 2
    # <= 4 -> rk 1,2), then wave sees base 4 -> admits 0.
    # hostb: only wave candidates, empty quota -> all admitted.
    fetched = [("https://hosta.com/known1", "hosta.com")]
    pending0 = [("https://hosta.com/known2", "hosta.com")]
    recheck = [
        "https://hosta.com/z1",
        "https://hosta.com/z2",
        "https://hosta.com/z3",
    ]
    wave = [
        "https://hosta.com/a1",
        "https://hosta.com/a2",
        "https://hostb.com/b1",
    ]

    def run_sequential(base):
        fdir, pdir = f"{base}/frontier", f"{base}/pending"
        _write_frontier(spark, fdir, fetched)
        _write_frontier(spark, pdir, pending0)
        again = admit_frontier_candidates(
            spark, fdir, pdir, _urls(spark, recheck), wave=2, host_cap=cap
        )
        admit_frontier_candidates(
            spark, fdir, pdir, _urls(spark, wave), wave=3, host_cap=cap
        )
        final = pending_fetch_list(spark, fdir, pdir)
        return again["n_admitted"], {
            (r["canonical_url"], r["host"]) for r in final.collect()
        }

    def run_combined(base):
        fdir, pdir = f"{base}/frontier", f"{base}/pending"
        _write_frontier(spark, fdir, fetched)
        _write_frontier(spark, pdir, pending0)
        n2, admitted = _admit_recheck_and_wave(
            spark, fdir, pdir, recheck=_urls(spark, recheck),
            cand=_urls(spark, wave), wave=2, robots_gate=None, host_cap=cap,
        )
        final = pending_fetch_list(spark, fdir, pdir)
        return (
            n2,
            {(r["canonical_url"], r["host"]) for r in final.collect()},
            {(r["canonical_url"], r["host"]) for r in admitted.collect()},
        )

    n_seq, final_seq = run_sequential(f"{tmp_path}/seq")
    n_comb, final_comb, admitted_comb = run_combined(f"{tmp_path}/comb")
    assert n_seq == 2  # the recheck really admits here
    assert n_comb == n_seq
    assert final_comb == final_seq
    # the elision contract: pre-existing pending rows that are NOT in
    # the fetched set stay in pending_fetch_list but not in the
    # returned admitted frame — the crawl loop's invariant (every
    # older pending row fetched) makes the two coincide THERE; on this
    # general fixture the admitted frame must be exactly the newly
    # admitted rows
    assert admitted_comb == final_seq - {pending0[0]}


def test_bigram_nll_self_scoring_matches_explicit_model(spark):
    """bigram_nll_scores(df) — the r16 shared-explode n·round(nll)
    DECIMAL form — must be row-identical to bigram_nll_scores(df,
    model=df), which still walks the per-occurrence path."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.lm import (
        bigram_nll_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat the cat"),
            (2, "the cat"),
            (3, "dog"),
            (4, ""),
            (5, "on on on on"),
        ],
        "doc_id long, text string",
    )
    a = {tuple(r) for r in bigram_nll_scores(docs).collect()}
    b = {tuple(r) for r in bigram_nll_scores(docs, model=docs).collect()}
    assert a == b


def test_dsir_window_totals_match_crossjoin_totals(spark):
    """dsir_log_weights' window-sum tr/tt must equal the r15
    agg().crossJoin() totals — pin by recomputing λ the old way and
    checking every weight."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dsir import (
        bucket_histogram,
        dsir_log_weights,
        hashed_gram_buckets,
    )

    raw = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{(i + 1) % 5} tok{i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100 + i, f"tok{i % 3} tok{i % 5}") for i in range(10)],
        "doc_id long, text string",
    )
    hex_chars, alpha = 2, 0.5
    B = 16 ** hex_chars
    got = {
        r["doc_id"]: (r["n_grams"], r["log_w"])
        for r in dsir_log_weights(raw, target, hex_chars=hex_chars).collect()
    }
    # r15 reference: separate total aggregates + crossJoin λ
    per_bucket = (
        hashed_gram_buckets(raw, hex_chars=hex_chars)
        .groupBy("id", "bucket")
        .agg(F.count("*").alias("n_b"))
    )
    rc = per_bucket.groupBy("bucket").agg(F.sum("n_b").alias("cr"))
    tc = bucket_histogram(target, hex_chars=hex_chars).withColumnRenamed(
        "c", "ct"
    )
    totals = rc.agg(F.coalesce(F.sum("cr"), F.lit(0)).alias("tr")).crossJoin(
        tc.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("tt"))
    )
    lam = (
        rc.join(tc, "bucket", "full_outer")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(
                F.ln(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(alpha))
                    / (F.col("tt") + F.lit(alpha) * F.lit(B))
                )
                - F.ln(
                    (F.coalesce(F.col("cr"), F.lit(0)) + F.lit(alpha))
                    / (F.col("tr") + F.lit(alpha) * F.lit(B))
                ),
                6,
            )
            .cast("decimal(24,6)")
            .alias("lam"),
        )
    )
    ref_rows = (
        per_bucket.join(F.broadcast(lam), "bucket")
        .groupBy("id")
        .agg(
            F.sum("n_b").alias("n_grams"),
            F.sum(F.col("n_b") * F.col("lam")).cast("double").alias("log_w"),
        )
        .collect()
    )
    ref = {r["id"]: (r["n_grams"], r["log_w"]) for r in ref_rows}
    for doc, vals in ref.items():
        assert got[doc] == vals, doc


@pytest.fixture()
def lex_index(spark, tmp_path):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.lexical_index import (
        LexicalIndex,
    )

    docs = spark.createDataFrame(
        [
            (i, f"uniq{i} w{i % 9} w{(i + 1) % 9} common common")
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    idx = LexicalIndex(spark, f"{tmp_path}/lex").create(
        docs, term_buckets=8, doc_buckets=4
    )
    # mixes rare (df=1), mid-frequency (df~9), over-cap ('common',
    # df=40) and absent terms, so the cap and the df arithmetic are
    # all exercised non-degenerately
    queries = spark.createDataFrame(
        [(0, "uniq0 w0 common"), (1, "uniq5 w5 nosuchterm")],
        "query_id long, text string",
    )
    return idx, queries, docs


def test_lexical_probe_equals_raw_operator(lex_index):
    """The indexed probe (sidecar df, cap applied driver-side) scores
    exactly like the raw operators (df counted in Spark), for TF-IDF
    and BM25 and for a ratio cap, no cap and an absolute cap."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.hybrid import (
        bm25_topk,
        lexical_topk,
    )

    idx, queries, docs = lex_index

    def rows(df):
        return {tuple(r) for r in df.collect()}

    for df_cap in (0.5, None, 3):
        idx_lex = rows(idx.lexical_topk(queries, k=5, df_cap=df_cap))
        idx_bm = rows(idx.bm25_topk(queries, k=5, df_cap=df_cap))
        raw_lex = rows(lexical_topk(queries, docs, k=5, df_cap=df_cap))
        raw_bm = rows(bm25_topk(queries, docs, k=5, df_cap=df_cap))
        assert idx_lex == raw_lex, f"lexical mismatch at cap {df_cap}"
        assert idx_bm == raw_bm, f"bm25 mismatch at cap {df_cap}"
        assert idx_lex  # non-degenerate


def test_lexical_probe_partial_sidecar_raises(spark, lex_index):
    """A probed postings bucket whose termdf twin is missing (a
    mutation cut between its postings swap and its sidecar refresh)
    raises — never an empty or partial result — and re-running the
    mutation restores the probe."""
    import shutil

    idx, queries, docs = lex_index
    before = {tuple(r) for r in idx.lexical_topk(queries, k=5).collect()}
    b = idx.postings().filter(F.col("term") == "w0").first()["tbucket"]
    shutil.rmtree(os.path.join(idx._termdf_path, f"tbucket={b}"))
    for probe in (idx.lexical_topk, idx.bm25_topk):
        with pytest.raises(ValueError, match="re-run"):
            probe(queries, k=5)
    # replaying a mutation that touches the bucket regenerates its twin
    idx.upsert(docs.filter(F.col("doc_id") == 0), batch=1)
    after = {tuple(r) for r in idx.lexical_topk(queries, k=5).collect()}
    assert after == before


def test_lexical_create_releases_checkpoint_blocks(spark, tmp_path):
    """ADVICE r15 #4: create() must not leave its token-table
    checkpoint blocks behind."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.lexical_index import (
        LexicalIndex,
    )

    jsc = spark.sparkContext._jsc
    # compare ids, not counts: the ContextCleaner may free earlier
    # tests' checkpoints while create() runs
    before = set(jsc.getPersistentRDDs().keys())
    docs = spark.createDataFrame(
        [(i, f"a{i} b{i % 3} c") for i in range(20)],
        "doc_id long, text string",
    )
    LexicalIndex(spark, f"{tmp_path}/lexrel").create(
        docs, term_buckets=4, doc_buckets=2
    )
    assert set(jsc.getPersistentRDDs().keys()) - before == set()


def test_sitemap_carry_cols_collision_raises(spark):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.sitemap import (
        sitemap_index_children,
        sitemap_page_entries,
    )

    bodies = spark.createDataFrame(
        [("https://h/x.xml", "<urlset></urlset>", "h")],
        "url string, body string, loc string",
    )
    with pytest.raises(ValueError, match="collide"):
        sitemap_page_entries(bodies, carry_cols=("loc",))
    with pytest.raises(ValueError, match="collide"):
        sitemap_index_children(bodies, carry_cols=("url",))
    with pytest.raises(ValueError, match="url_col"):
        sitemap_index_children(
            bodies.withColumnRenamed("url", "page"),
            url_col="page",
            carry_cols=("page",),
        )


def test_dsir_sample_matches_log_weights_composition(spark):
    """dsir_sample's direct per-doc-core consumption must equal the
    public composition it replaced (dsir_log_weights -> filter
    non-NULL -> gumbel top-n) — exercised on a fixture WITH gram-less
    docs (empty/whitespace text), the rows whose NULL-weight
    production the elided raw re-scan existed for."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dsir import (
        dsir_log_weights,
        dsir_sample,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.sampling import (
        key_uniform,
    )
    from pyspark.sql import Window

    rows = [(i, f"tok{i % 7} tok{(i + 1) % 5} tok{i % 3}") for i in range(30)]
    rows += [(100, ""), (101, "   "), (102, "tok1")]
    raw = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(200 + i, f"tok{i % 3} tok{i % 5}") for i in range(8)],
        "doc_id long, text string",
    )
    n = 10
    got = [tuple(r) for r in dsir_sample(raw, target, n=n).collect()]
    # reference: the pre-r16 composition over the PUBLIC frame
    w = dsir_log_weights(raw, target)
    keyed = w.filter(F.col("log_w").isNotNull()).withColumn(
        "gumbel_key",
        F.round(F.col("log_w") + (-F.ln(-F.ln(key_uniform("doc_id")))), 6),
    )
    top = keyed.orderBy(F.col("gumbel_key").desc(), F.col("doc_id").asc()).limit(n)
    win = Window.orderBy(F.col("gumbel_key").desc(), F.col("doc_id").asc())
    ref = [tuple(r) for r in top.withColumn("rank", F.row_number().over(win)).collect()]
    assert got == ref
    assert len(got) == n  # non-degenerate: the sample actually filled


def test_pagerank_zero_seed_matches_left_join_form(spark):
    """host_pagerank's zero-seeded contribution aggregate (and the
    once-materialized dangling set) must reproduce the r15
    hosts-LEFT-JOIN-contrib / per-iteration-anti-join form exactly, in
    BOTH dangling modes, on a graph with no-in-link hosts (a), a
    dangling host (c) and a multi-edge hub."""
    from pyspark.sql import functions as F

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.links import (
        host_graph,
        host_pagerank,
    )

    dag = host_graph(
        spark.createDataFrame(
            [
                ("https://a.com/p", "https://b.com/p"),
                ("https://a.com/p", "https://c.com/p"),
                ("https://b.com/p", "https://c.com/p"),
                ("https://d.com/p", "https://b.com/p"),
            ],
            "src string, dst string",
        )
    )

    def reference(hg, k, damping, dangling):
        hosts = (
            hg.select(F.col("src_host").alias("host"))
            .union(hg.select(F.col("dst_host")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n = hosts.count()
        out_deg = hg.groupBy(F.col("src_host").alias("host")).agg(
            F.count(F.lit(1)).alias("out_degree")
        )
        base = float(1.0 - damping) / n
        pr = hosts.select("host", F.lit(1.0 / n).alias("pagerank"))
        contrib_edges = (
            hg.join(out_deg, hg["src_host"] == out_deg["host"])
            .select("src_host", "dst_host", "out_degree")
            .localCheckpoint(eager=True)
        )
        for _ in range(k):
            contrib = (
                contrib_edges.join(pr, contrib_edges["src_host"] == pr["host"])
                .select(
                    F.col("dst_host").alias("host"),
                    (F.col("pagerank") / F.col("out_degree")).alias("c"),
                )
                .groupBy("host")
                .agg(F.sum("c").alias("in_mass"))
            )
            nxt = hosts.join(contrib, "host", "left")
            extra = F.lit(base)
            if dangling == "redistribute":
                dm = pr.join(
                    out_deg.select("host"), "host", "left_anti"
                ).agg(
                    F.coalesce(F.sum("pagerank"), F.lit(0.0)).alias("_dm")
                )
                nxt = nxt.crossJoin(dm)
                extra = extra + F.lit(damping) * F.col("_dm") / F.lit(
                    float(n)
                )
            pr = nxt.select(
                "host",
                (
                    extra
                    + F.lit(damping)
                    * F.coalesce(F.col("in_mass"), F.lit(0.0))
                ).alias("pagerank"),
            )
        return pr

    for mode in ("drop", "redistribute"):
        got = {
            r["host"]: r["pagerank"]
            for r in host_pagerank(dag, k=6, dangling=mode).collect()
        }
        ref = {
            r["host"]: r["pagerank"]
            for r in reference(dag, 6, 0.85, mode).collect()
        }
        assert got.keys() == ref.keys(), mode
        for h in ref:
            # identical arithmetic per host; only float-sum ORDER can
            # differ (partial-aggregation layout), bounded well under
            # the 6-dp oracle rounding
            assert abs(got[h] - ref[h]) < 1e-12, (mode, h)


def test_nb_classify_leaves_no_cachemanager_entry(spark):
    """nb_classify must not register its statistic tables in the
    CacheManager: a cache()/persist() there outlives the call and
    silently serves every LATER bench pass from the first pass's
    trained model (cross-run caching). The lazy localCheckpoints it
    uses instead do not go through the CacheManager."""
    from pyspark.sql import functions as F

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.classifier import (
        nb_classify,
    )

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", f"w{i % 5} w{(i + 1) % 7} x") for i in range(30)],
        "doc_id long, lang string, text string",
    )
    train = docs.filter(F.col("doc_id") % 3 != 0)
    test = docs.filter(F.col("doc_id") % 3 == 0)
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "leftover CacheManager state before the call"
    out = nb_classify(train, test)
    n = out.count()
    assert n > 0
    assert cm.isEmpty(), "nb_classify registered a CacheManager entry"


def test_lexical_create_stats_match_rescan(spark, tmp_path):
    """create()'s concurrent pre-write (n, avgdl) must equal what a
    post-write refresh_stats() rescan computes — including the
    empty-doc (dl = 0) exclusion from avgdl."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.lexical_index import (
        LexicalIndex,
    )

    docs = spark.createDataFrame(
        [(0, ""), (1, "a b c"), (2, "a a"), (3, "   ")],
        "doc_id long, text string",
    )
    idx = LexicalIndex(spark, f"{tmp_path}/lexstats").create(
        docs, term_buckets=4, doc_buckets=2
    )
    props = idx.properties()
    assert props["n"] == 4
    assert props["avgdl"] == 2.5  # (3 + 2) / 2, dl=0 docs excluded
    idx.refresh_stats()
    rescanned = idx.properties()
    assert rescanned["n"] == props["n"]
    assert rescanned["avgdl"] == props["avgdl"]
