"""Dedup operator unit tests (operators.dedup) — the SQL-mirrorable
paths are oracle-checked in the registry; these cover the graph
clustering step and its edge cases."""

import pytest

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
    connected_components,
    duplicate_groups,
)


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


@pytest.mark.parametrize("off", [0, 2**62])
def test_components_path_graph_converges(spark, off):
    # a 6-node chain needs multiple propagation rounds; every node
    # must still land on the global min label — also on ids near 2^62,
    # where a convergence test that sums labels would overflow
    chain = _pairs(spark, [(off + i, off + i + 1) for i in range(1, 6)])
    comp = {r["id"]: r["component"] for r in connected_components(chain).collect()}
    assert comp == {off + i: off + 1 for i in range(1, 7)}


def test_components_two_islands_and_ordering(spark):
    p = _pairs(spark, [(10, 11), (11, 12), (30, 31), (12, 10)])
    comp = {r["id"]: r["component"] for r in connected_components(p).collect()}
    assert comp == {10: 10, 11: 10, 12: 10, 30: 30, 31: 30}


def test_components_empty_pairs(spark):
    out = connected_components(_pairs(spark, [])).collect()
    assert out == []


def test_duplicate_groups_summary(spark):
    p = _pairs(spark, [(1, 2), (2, 3), (7, 9)])
    rows = {r["component"]: r for r in duplicate_groups(p).collect()}
    assert rows[1]["n_members"] == 3 and rows[1]["members"] == "1,2,3"
    assert rows[7]["n_members"] == 2 and rows[7]["members"] == "7,9"


def test_stratified_mod_sample(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.sampling import (
        stratified_mod_sample,
    )

    rows = [(i, "a" if i < 100 else "b") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, grp string")
    kept = stratified_mod_sample(df, "grp", "id", {"a": (1, 4)}, default=(1, 2))
    by = {
        r["grp"]: r["n"]
        for r in kept.groupBy("grp").agg(F.count("*").alias("n")).collect()
    }
    assert by == {"a": 25, "b": 50}
    # deterministic: same rows survive on re-run
    ids1 = {r["id"] for r in kept.collect()}
    ids2 = {r["id"] for r in stratified_mod_sample(
        df, "grp", "id", {"a": (1, 4)}, default=(1, 2)
    ).collect()}
    assert ids1 == ids2
    with _pytest.raises(ValueError, match="invalid rate"):
        stratified_mod_sample(df, "grp", "id", {"a": (3, 2)})


def _union_find(pairs):
    """{id: min id of its component} over undirected ``pairs``."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _components_without_warning(spark, pairs):
    import warnings as w

    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        got = connected_components(df).collect()
    assert not [x for x in caught if issubclass(x.category, RuntimeWarning)]
    comp = {r["id"]: r["component"] for r in got}
    assert len(comp) == len(got)  # one row per id
    return comp


def test_connected_components_matches_union_find(spark):
    """Three seeded random graphs (clusters, overlaps, repeated and
    reversed pairs), one of them with ids offset by 2^62, plus
    self-pairs: a self-pair alone keeps its id as a singleton
    component, one beside other edges changes nothing. One call over
    the disjoint union, checked against a union-find reference."""
    import random

    pairs = []
    for seed, off in ((1, 0), (2, 1000), (3, 2**62)):
        rng = random.Random(seed)
        pairs += [
            (off + rng.randrange(120), off + rng.randrange(120)) for _ in range(150)
        ]
    # (5000, 5000) alone → {5000: 5000}; (5002, 5002) beside (5002, 5003)
    pairs += [(5000, 5000), (5002, 5003), (5002, 5002)]
    assert _components_without_warning(spark, pairs) == _union_find(pairs)


def test_star_cc_handles_long_chain_within_log_rounds(spark):
    """A 300-node path converges inside the default max_iter (O(log n)
    rounds, where min-label propagation would need 300) and labels
    every node with component 0."""
    chain = [(i, i + 1) for i in range(300)]
    comp = _components_without_warning(spark, chain)
    assert comp == _union_find(chain) == {i: 0 for i in range(301)}


def test_substring_span_pairs_detects_shared_passage(spark):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
        substring_span_pairs,
    )

    passage = "the quick brown fox jumps over the lazy dog again and again " * 2
    docs = spark.createDataFrame(
        [
            (1, passage + "unique tail for doc one xxxxxxxxxxxxxxx"),
            (2, passage + "completely different ending here yyyyy"),
            (3, "no overlap with anything else at all " * 4),
            (4, "tiny"),  # shorter than span_len: produces no windows
        ],
        "doc_id long, text string",
    )
    out = substring_span_pairs(docs, span_len=40, stride=10)
    rows = {(r["id_a"], r["id_b"]): r["n_shared_spans"] for r in out.collect()}
    assert set(rows) == {(1, 2)}
    # shared 120-char prefix -> 9 aligned windows (pos 1..81 step 10),
    # but the passage repeats with period 60 so windows at 61/71/81
    # hash equal to 1/11/21 and the per-doc distinct collapses them: 6
    assert rows[(1, 2)] == 6


def test_substring_span_pairs_df_cap_drops_boilerplate(spark):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
        substring_span_pairs,
    )

    boiler = "standard legal disclaimer text appears in every document here"
    docs = spark.createDataFrame(
        [(i, boiler + f" body variant {i} " + "z" * 30) for i in range(6)],
        "doc_id long, text string",
    )
    uncapped = substring_span_pairs(docs, span_len=40, stride=10, df_cap=1000)
    assert uncapped.count() == 15  # 6 choose 2: the quadratic blowup
    capped = substring_span_pairs(docs, span_len=40, stride=10, df_cap=3)
    assert capped.count() == 0  # boilerplate hash df=6 > 3 -> no pairs


def test_neardup_shuffle_route_matches_broadcast_no_corpus_broadcast(spark):
    """Above the broadcast budget the block-pair grid is built by
    shuffle replication: pairs byte-identical to the broadcast path,
    and the physical plan has NO BroadcastExchange at all — the
    corpus zips through a pair-keyed sort-merge join."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_jl,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries import (
        load,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    kw = dict(threshold=0.45, route="exact")
    bcast = embedding_neardup_pairs(emb, broadcast_budget_bytes=1 << 30, **kw)
    shuf = embedding_neardup_pairs(emb, broadcast_budget_bytes=0, **kw)
    rows_b = sorted(map(tuple, bcast.collect()))
    rows_s = sorted(map(tuple, shuf.collect()))
    assert rows_b == rows_s and len(rows_b) > 0
    # AQE toString appends the pre-adaptive "Initial Plan" — grade the
    # final plan only
    plan = (
        shuf._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "BroadcastExchange" not in plan
    assert "SortMergeJoin" in plan  # pinned off broadcast by hint
    # the JL twin follows the same budget rule
    jl_s = embedding_neardup_pairs_jl(
        emb, threshold=0.45, slack=1e9, broadcast_budget_bytes=0
    )
    assert sorted(map(tuple, jl_s.collect())) == rows_b
    jl_plan = (
        jl_s._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "BroadcastExchange" not in jl_plan


def test_neardup_auto_routes_to_ivf_above_rows_budget(spark):
    """route='auto' above ivf_above_rows warns and returns the
    intra-bucket IVF pairs (a subset of exact, same scores)."""
    import warnings as _w

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
        embedding_neardup_pairs,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries import (
        load,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(emb, threshold=0.45, route="exact").collect()
    }
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        ivf = embedding_neardup_pairs(
            emb, threshold=0.45, route="auto", ivf_above_rows=100
        )
        got = {(r["id_a"], r["id_b"]): r["cosine"] for r in ivf.collect()}
    assert any("auto-routing" in str(w.message) for w in caught)
    assert set(got) <= set(exact)
    assert all(exact[k] == v for k, v in got.items())


def test_jl_pairs_subset_of_exact_with_identical_scores(spark):
    """JL-prefiltered pairs ⊆ exact pairs, with byte-identical scores
    on every emitted pair (precision exact by construction); at a
    generous slack every exact pair survives."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_jl,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries import (
        load,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(emb, threshold=0.45).collect()
    }
    jl = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs_jl(
            emb, threshold=0.45, out_dim=16, slack=2.5
        ).collect()
    }
    assert set(jl) <= set(exact)
    for k, v in jl.items():
        assert v == exact[k]
    # wide-open slack disables the filter: JL output == exact output
    jl_all = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs_jl(
            emb, threshold=0.45, out_dim=16, slack=1e9
        ).collect()
    }
    assert jl_all == exact


def test_jl_sparse_and_dense_verification_agree(spark):
    """The kernel's exact verification is adaptive per chunk: survivor
    density > 5% takes a full-d chunk GEMM, below it a sparse gather.
    Pin the SPARSE branch to the exact twin's rows (the dense branch
    is forced by the loose bound of
    test_jl_pairs_subset_of_exact_with_identical_scores): slack 0.8 →
    bound 0.88, measured survivor density 3.9% on the sf0.001 fixture
    (deterministic — fixed fixture, fixed md5-Rademacher seed), with
    exactly one true pair surviving the tight filter, so the branch
    both runs and emits."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_jl,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries import (
        load,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(emb, threshold=0.45).collect()
    }
    sparse = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs_jl(
            emb, threshold=0.45, out_dim=16, slack=0.8
        ).collect()
    }
    assert len(sparse) == 1  # measured: 1 of 7 true pairs inside 0.88
    assert set(sparse) <= set(exact)
    for k, v in sparse.items():
        assert v == exact[k]


def test_gopher_repetition_stats_hand_values(spark):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.textstats import (
        gopher_repetition_stats,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b a b a b"),
            (1, "x " * 12),
            (2, "hi"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_repetition_stats(docs).collect()}
    # doc 0: 2-grams {ab:3, ba:2} -> 3/5; 3-grams {aba:2, bab:2} -> 0.5;
    # 4-grams {abab:2, baba:1} -> 2/3; 5-grams all unique -> dup 0
    assert got[0]["top_2gram_share"] == 0.6
    assert got[0]["top_3gram_share"] == 0.5
    assert got[0]["top_4gram_share"] == round(2 / 3, 6)
    assert got[0]["dup_5gram_share"] == 0.0
    # doc 1: every n-gram identical -> dup mass 1.0 at all long n
    assert got[1]["dup_5gram_share"] == 1.0
    assert got[1]["dup_8gram_share"] == 1.0
    assert got[1]["dup_10gram_share"] == 1.0
    # doc 2: shorter than every n -> all zeros
    assert all(v == 0.0 for k, v in got[2].items() if k != "doc_id")


def test_common_lines_blocklist_and_strip(spark):
    """Line-frequency blocklist counts DISTINCT docs (in-doc repeats
    are repetition, not boilerplate), trim-normalizes, and the strip
    preserves order, keeps empty lines, and leaves a fully-boilerplate
    doc as empty text rather than dropping it."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
        common_lines,
        strip_common_lines,
    )

    docs = spark.createDataFrame(
        [
            (0, "BANNER\ncontent zero\n\nBANNER\ntail zero"),
            (1, "BANNER  \ncontent one"),  # trailing spaces: same entry
            (2, "BANNER\ncontent two"),
            (3, "BANNER"),  # all-boilerplate doc
        ],
        "doc_id long, text string",
    )
    bl = common_lines(docs, min_count=3)
    assert {(r["line"], r["n_docs"]) for r in bl.collect()} == {("BANNER", 4)}
    # in-doc repeat counted once: doc 0 contributes 1, not 2
    got = {
        r["doc_id"]: (r["text"], r["n_lines_before"], r["n_lines_after"])
        for r in strip_common_lines(docs, bl).collect()
    }
    assert got == {
        0: ("content zero\n\ntail zero", 5, 3),  # empty line survives
        1: ("content one", 2, 1),
        2: ("content two", 2, 1),
        3: ("", 1, 0),  # kept as empty, the gate decides its fate
    }


def test_mirror_host_pairs_cap_and_thresholds(spark):
    """Pairs require >= min_shared identical docs; a signature on more
    than max_hosts hosts is boilerplate and contributes to NO pair;
    host_a < host_b ordering; within-host duplicates count once."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
        mirror_host_pairs,
    )

    rows = []
    # a.example and b.example mirror 3 docs (one duplicated within a)
    for i in range(3):
        rows += [("a.example", f"doc {i}"), ("b.example", f"doc {i}")]
    rows.append(("a.example", "doc 0"))  # within-host dup: one sig
    # c/d share only 1 doc: below min_shared=2
    rows += [("c.example", "weak"), ("d.example", "weak")]
    # boilerplate on every host: excluded by max_hosts=3
    for hst in ("a", "b", "c", "d"):
        rows.append((f"{hst}.example", "404 not found"))
    df = spark.createDataFrame(rows, "host string, text string")
    got = {
        (r["host_a"], r["host_b"]): r["n_shared"]
        for r in mirror_host_pairs(df, min_shared=2, max_hosts=3).collect()
    }
    assert got == {("a.example", "b.example"): 3}
