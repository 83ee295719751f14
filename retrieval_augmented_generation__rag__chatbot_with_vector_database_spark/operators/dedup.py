"""Deduplication operators for large-scale corpus curation:
exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

The reference deduplicates only retrieval sources
(``/root/reference/app/rag/chain.py:107`` — ``list(set(...))``) and
relies on content-addressed ids for idempotent upsert
(``scripts/ingest_documents.py:93-105``); a 100 TB training-data
pipeline needs document-level dedup as a first-class stage. All
operators here are DataFrame→DataFrame, built to be oracle-checkable:
hashing uses ``md5`` (identical in Spark and DuckDB) and tiebreaks are
deterministic.

Scale design:
- **Exact** dedup is one hash-groupBy — a single shuffle on the
  fingerprint; at 100 TB, AQE handles skew (empty/boilerplate docs
  hashing to one key → skew-join split).
- **MinHash+LSH** is the scale path for near-dup: signatures are one
  groupBy over exploded shingles (shuffle ∝ corpus token count), and
  candidate generation joins on *band keys* only — never all-pairs.
  Band count/width trade recall vs cost (b bands of r rows ≈
  threshold (1/b)^(1/r)).
- **SimHash** gives 64-bit signatures; candidates via exact match on
  any of 4 16-bit bands (Hamming ≤ 3 guaranteed caught for ≤ 3-bit
  flips by pigeonhole across 4 bands).
- **n-gram Jaccard** verifies candidates exactly; the shingle
  self-join is bounded by LSH candidates at scale (here also exposed
  standalone for the oracle).
- **Embedding near-dup** brute force is quadratic — kept for
  correctness; the sub-quadratic route is ``operators.ann`` (IVF:
  only intra-centroid pairs).
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = "[^a-z0-9]+"


def tokens(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(t), TOKEN_SPLIT), lambda x: x != "")


def exploded_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingle) — one row per distinct shingle per doc.

    Tokenization is projected to a column BEFORE the shingle lambdas:
    interpreted higher-order functions don't common-subexpression-
    eliminate, so an inline ``tokens()`` would re-run the regexp
    split per element access (~10× slower here).

    The input is rebalanced first: a compact parquet of long text
    rows often scans as a handful of input splits, which would
    serialize the (CPU-heavy) tokenize+shingle stage on a few cores
    while the rest of the cluster idles."""
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = df.repartition(par).select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__arr")
    )
    arr = F.col("__arr")
    idx = F.sequence(F.lit(0), F.size(arr) - n)
    sh = F.transform(idx, lambda i: F.concat_ws(" ", *[arr[i + j] for j in range(n)]))
    shingles = F.when(F.size(arr) >= n, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )
    return toks.select("id", F.explode(shingles).alias("shingle"))


def common_lines(
    docs: DataFrame,
    min_count: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide LINE frequency blocklist: non-empty lines (after
    trim) appearing in at least ``min_count`` DISTINCT documents →
    ``(line, n_docs)``. This is the RefinedWeb/Falcon-style
    boilerplate signal — cookie banners, nav crumbs, footer legalese
    repeat verbatim across a site while real prose doesn't. Distinct
    per doc FIRST (a line repeated inside one page is repetition, not
    boilerplate — the Gopher gates own that), then one hash groupBy
    on the line: the canonical count shuffle, line-hash-partitioned
    at any scale."""
    line = F.trim(F.col("_line"))
    return (
        docs.select(
            F.col("doc_id"),
            F.explode(F.split(F.col(text_col), "\n")).alias("_line"),
        )
        .select("doc_id", line.alias("line"))
        .filter(F.col("line") != "")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_count)
    )


def strip_common_lines(
    docs: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Rewrite each document WITHOUT its blocklisted lines (the
    removal side of :func:`common_lines`): lines whose trimmed form
    is on the blocklist drop; surviving lines rejoin in original
    order. Keeps the document for training instead of dropping it —
    the same philosophy as span-level ExactSubstr scrubbing
    (``scrub_eval_spans``), one level up.

    Shape: explode with position → anti-join on the trimmed line →
    regroup by doc with an order-preserving ``sort_array`` fold. Two
    shuffles (anti-join on line, regroup on doc_id); the blocklist is
    count-thresholded and AQE broadcasts it while it is small.
    Emits ``doc_id``, rewritten ``text_col``, and audit counts
    ``n_lines_before`` / ``n_lines_after`` (compliance-style: how
    much boilerplate was removed, per doc)."""
    exploded = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    )
    kept = exploded.join(
        blocklist.select(F.col("line").alias("_bl")),
        F.trim(exploded["_line"]) == F.col("_bl"),
        "left_anti",
    )
    before = exploded.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines_before")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("_pos"), F.col("_line")))
                ),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_lines_after"),
    )
    # a doc whose EVERY line was blocklisted survives as empty text —
    # dropping it is the caller's (gate's) decision, not the scrubber's
    return (
        before.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            "n_lines_before",
            F.coalesce("n_lines_after", F.lit(0)).alias("n_lines_after"),
        )
    )


def exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalized: bool = True,
) -> DataFrame:
    """Keep one survivor (min id) per content fingerprint.

    ``normalized=True`` collapses case/whitespace variants (the
    fingerprint from ``operators.textstats``); ``False`` is byte-exact
    (the reference's md5 id scheme)."""
    t = F.col(text_col)
    key = (
        F.md5(F.regexp_replace(F.lower(F.trim(t)), r"\s+", " ").cast("binary"))
        if normalized
        else F.md5(t.cast("binary"))
    )
    return (
        df.withColumn("__fp", key)
        .groupBy("__fp")
        .agg(F.min(F.col(id_col)).alias(id_col), F.count("*").alias("n_copies"))
        .select(id_col, F.col("__fp").alias("fingerprint"), "n_copies")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing ≥ 1
    shingle. Shuffle is on the shingle key (inverted-index join), not
    all-pairs; at 100 TB gate this behind LSH candidates."""
    # three consumers (both join sides + sizes) — materialize once
    sh = exploded_shingles(df, id_col, text_col, n).localCheckpoint()
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "sz_a", "sz_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, h0..h{n-1}) MinHash signature — min over shingles of
    ``md5(seed || ':' || shingle)``. String-min over hex digests is a
    valid uniform minhash and is reproducible in any engine with md5.
    One groupBy → one shuffle, n_hashes mins computed map-side."""
    sh = exploded_shingles(df, id_col, text_col, shingle_n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle")).cast("binary"))).alias(
            f"h{s}"
        )
        for s in range(n_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def banded_wide(sig: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """Attach band keys to a (id, h0..h{n-1}) signature frame:
    ``band{b}`` = md5 over that band's signature rows. Shared by the
    batch LSH join and the streaming bucket table so both agree on
    what a candidate is."""
    rows = n_hashes // bands
    band_cols = [
        F.md5(
            F.concat_ws("|", *[F.col(f"h{b * rows + r}") for r in range(rows)]).cast(
                "binary"
            )
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    return sig.select("id", *[F.col(f"h{i}") for i in range(n_hashes)], *band_cols)


def band_explode(wide: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """Long form of :func:`banded_wide`: one row per (doc, band) with
    ``b`` (band index) + ``bk`` (band key), signature columns kept —
    the join/bucket-table layout."""
    return wide.select(
        "id",
        *[F.col(f"h{i}") for i in range(n_hashes)],
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias(
            "b", "bk"
        ),
    )


def est_jaccard_column(n_hashes: int) -> Column:
    """Estimated Jaccard between two signatures laid out as a{i}/b{i}
    columns: fraction of equal components, rounded to 6 dp."""
    eq = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    return F.round(eq / F.lit(n_hashes), 6)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_est: float = 0.25,
) -> DataFrame:
    """LSH candidate pairs + estimated Jaccard.

    Signatures are banded (``bands`` bands × ``n_hashes//bands``
    rows); docs sharing any band key become candidates; the estimate
    is the fraction of equal signature components. Only band keys are
    joined — the scalable near-dup path."""
    # signatures are 1 row/doc — tiny next to the shingle explosion
    # that produces them. Materialize once (eager localCheckpoint) so
    # the band join + estimate joins reuse it instead of re-running
    # the shingle → 16×md5-min job per consumer (~10× at 4 bands).
    sig = minhash_signatures(df, id_col, text_col, n_hashes, shingle_n).localCheckpoint()
    banded = banded_wide(sig, n_hashes, bands)
    # one self-join on (band index, band key) instead of a per-band
    # union of joins: single shuffle, same candidate set
    blong = band_explode(banded, n_hashes, bands).select("id", "b", "bk")
    a = blong.select(F.col("id").alias("id_a"), "b", "bk")
    c = blong.select(F.col("id").alias("id_b"), "b", "bk")
    cand = (
        a.join(c, ["b", "bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = banded.select(
        F.col("id").alias("id_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(n_hashes)]
    )
    sb = banded.select(
        F.col("id").alias("id_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(n_hashes)]
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", est_jaccard_column(n_hashes))
        .filter(F.col("est_jaccard") >= min_est)
        .select("id_a", "id_b", "est_jaccard")
    )


def simhash_bits(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 64,
) -> DataFrame:
    """(id, simhash) with ``simhash`` a '0'/'1' string of length
    ``n_bits``: per-token md5 bits, summed ±1 weighted by token count,
    sign per bit. Fully SQL (explode tokens × bits → groupBy) so the
    oracle can mirror it bit-for-bit."""
    par = df.sparkSession.sparkContext.defaultParallelism
    tok = df.repartition(par).select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok")
    )
    counted = tok.groupBy("id", "tok").agg(F.count("*").alias("w"))
    hashed = counted.withColumn("h", F.md5(F.col("tok").cast("binary")))
    bits = hashed.select(
        "id",
        "w",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("b"),
    )
    # bit b of the hex digest: digit = h[b div 4], bit = (digit >> (3 - b mod 4)) & 1
    digit = F.substring(F.col("h"), (F.col("b") / 4).cast("int") + 1, 1)
    dval = F.instr(F.lit("0123456789abcdef"), digit) - 1
    # shiftright() needs a literal shift; the shift varies per row, so
    # divide by 2^shift instead (dval ≤ 15, exact in doubles)
    shift = (F.lit(3) - F.col("b") % 4).cast("double")
    bit = F.floor(dval / F.pow(F.lit(2.0), shift)).cast("int") % 2
    signed = bits.withColumn("contrib", (bit * 2 - 1) * F.col("w"))
    per_bit = signed.groupBy("id", "b").agg(
        F.when(F.sum("contrib") > 0, F.lit("1")).otherwise(F.lit("0")).alias("bitval")
    )
    return per_bit.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("b", "bitval"))), lambda s: s["bitval"]
            ),
            "",
        ).alias("simhash")
    )


def simhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 64,
    bands: int = 4,
    max_hamming: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share an exact 16-bit
    band (pigeonhole: any pair within Hamming ≤ bands-1 is caught),
    then exact Hamming distance filters. Join is on band substrings —
    never all-pairs."""
    width = n_bits // bands
    # materialize once (1 row/doc) — see minhash_lsh_pairs
    sig = simhash_bits(df, id_col, text_col, n_bits).localCheckpoint()
    blong = sig.select(
        "id",
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[F.substring("simhash", b * width + 1, width) for b in range(bands)]
            )
        ).alias("b", "bk"),
    )
    a = blong.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "b", "bk")
    c = blong.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "b", "bk")
    cand = (
        a.join(c, ["b", "bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.size(
        F.filter(
            F.zip_with(
                F.split(F.col("sh_a"), ""),
                F.split(F.col("sh_b"), ""),
                lambda x, y: x != y,
            ),
            lambda v: v,
        )
    )
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_neardup_pairs_ivf(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding near-dup pairs restricted to INTRA-CENTROID pairs —
    the sub-quadratic scale route the exact ``embedding_neardup_pairs``
    docstring promises: assign each vector to its nearest centroid
    (narrow map, no shuffle — centroids inlined), then self-join on
    ``centroid_id`` only. Work drops from O(N²) to Σ|bucket|², the
    shuffle key is the centroid id, and near-duplicates — which sit
    close in embedding space — co-locate into the same bucket with
    high probability (this is approximate: cross-bucket pairs are
    missed; raise k or add multi-assignment for tighter recall).

    Per-side norms are pre-projected once so each candidate pair
    folds only the dot product."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
        dot_product,
        l2_norm,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        assign_centroids,
    )

    assigned = assign_centroids(df, centroids, metric="cosine", vec_col=vec_col)
    v = F.col(vec_col).cast("array<double>")
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        "centroid_id",
        v.alias("__va"),
        l2_norm(v).alias("__na"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        "centroid_id",
        v.alias("__vb"),
        l2_norm(v).alias("__nb"),
    )
    denom = F.col("__na") * F.col("__nb")
    cos = F.round(
        F.when(denom != 0.0, dot_product(F.col("__va"), F.col("__vb")) / denom), 6
    )
    return (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Duplicate-GROUP clustering: undirected candidate pairs →
    ``(id, component)`` where ``component`` is the minimum id in the
    connected component — the step that turns pairwise near-dup
    evidence (LSH/SimHash/embedding pairs) into keep/drop decisions
    (canonical survivor = the component id itself).

    Min-label propagation: each iteration every node takes the min of
    its own label and its neighbors' labels (one join + one groupBy
    per iteration, both on the node key). Iterations needed = graph
    diameter; duplicate clusters are small and dense in practice, so
    this converges in a handful of rounds. Convergence is detected
    by counting the labels that changed, in the same 1-row aggregate
    job that materializes the round (a label sum would overflow on
    64-bit ids under ANSI, or wrap and stop early without it). Each
    round's frontier is ``localCheckpoint``'ed to cut the exponential lineage
    iterative joins would otherwise build. For web-scale graphs with
    long chains swap in large-star/small-star; the operator contract
    (pairs in, min-id components out) stays the same.
    """
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = (
        edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col("id").alias("b"), F.col("comp").alias("bcomp")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("bcomp").alias("nbr_comp"))
        )
        step = (
            labels.join(nbr_min, labels["id"] == nbr_min["a"], "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
                (F.col("nbr_comp") < F.col("comp")).alias("__changed"),
            )
            .localCheckpoint()
        )
        n_changed = step.agg(F.count(F.when(F.col("__changed"), 1))).first()[0]
        labels = step.drop("__changed")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components hit max_iter={max_iter} before the "
            "label fixpoint — long chains may be split across components; "
            "raise max_iter or switch to large-star/small-star",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("id", F.col("comp").alias("component"))


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Same contract as :func:`connected_components` — undirected pairs
    in, ``(id, component=min id in component)`` out — via alternating
    LARGE-STAR / SMALL-STAR rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond"): the web-scale form whose
    round count is O(log n) for ANY graph shape, where min-label
    propagation needs diameter-many rounds (a 10^6-node chain = 10^6
    rounds vs ~20).

    Each round is two keyed groupBys + joins (the same shuffle cost as
    one label-propagation round); per-round results are
    ``localCheckpoint``'ed to cut iterative-join lineage. Convergence
    is an edge-set fixpoint, detected with a count + order-insensitive
    xxhash checksum (1-row aggregate).

    - large-star: every node's strictly-larger neighbors re-attach to
      the min of its neighborhood (incl. itself);
    - small-star: oriented edges (big → small) re-attach each node's
      smaller neighbors (and itself) to that min.

    At fixpoint the edges form stars (node → component min); isolated
    input ids never appear (same as connected_components).
    """
    e = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )

    def checksum(edges: DataFrame):
        c = edges.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        ).distinct()
        row = c.agg(
            F.count("*").alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("h")
        ).first()
        return (row["n"], row["h"])

    def large_star(edges: DataFrame) -> DataFrame:
        sym = edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        m = sym.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        return (
            sym.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )

    def small_star(edges: DataFrame) -> DataFrame:
        ori = edges.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        m = ori.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        nbrs = ori.join(m, "a").select(
            F.col("b").alias("a"), F.col("m").alias("b")
        )
        selfs = m.select(F.col("a"), F.col("m").alias("b"))
        return (
            nbrs.union(selfs)
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    prev = checksum(e)
    converged = False
    for _ in range(max_iter):
        e = small_star(large_star(e)).localCheckpoint()
        cur = checksum(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        warnings.warn(
            f"connected_components_star hit max_iter={max_iter} before the "
            "edge fixpoint — components may be unmerged; raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    # stars: every edge is (node, component-min); roots label themselves
    return (
        e.select(F.col("a").alias("id"), F.col("b").alias("component"))
        .union(e.select(F.col("b").alias("id"), F.col("b").alias("component")))
        .distinct()
    )


def duplicate_groups(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    algorithm: str = "label_propagation",
) -> DataFrame:
    """Component summary: one row per duplicate group —
    ``(component, n_members, members)`` with members as a sorted CSV
    (the keep-id is the component id; everything else is droppable).
    ``algorithm="star"`` swaps in large-star/small-star (O(log n)
    rounds on any graph shape — the web-scale form); components are
    identical either way."""
    if algorithm == "star":
        comp = connected_components_star(pairs, id_a, id_b, max_iter)
    elif algorithm == "label_propagation":
        comp = connected_components(pairs, id_a, id_b, max_iter)
    else:
        raise ValueError(f"unknown algorithm {algorithm!r}")
    return comp.groupBy("component").agg(
        F.count("*").alias("n_members"),
        F.concat_ws(",", F.sort_array(F.collect_list("id"))).alias("members"),
    )


#: raw packed-corpus bytes (n·dim·8 after the double cast) above which
#: the block-pair grid switches from broadcast to shuffle replication.
#: Blocks are packed as FLAT primitive arrays (see ``_pack_blocks``),
#: so a broadcast is resident at ~raw size shared once per executor —
#: not the 10-40× object-tree expansion the old struct-per-vector
#: packing paid (205 MB raw overflowed an 8 g heap then; the same
#: bytes fit comfortably now). 64 MB raw keeps the broadcast itself
#: cheap to ship and leaves the heap to the kernels' score matrices.
BROADCAST_BUDGET_BYTES = 64 << 20

#: row count above which ``route="auto"`` abandons the exact O(N²)
#: blocked GEMM for the sub-quadratic IVF intra-bucket route. At 2M
#: rows the exact pair space is 2×10¹² — a FLOPs wall no shuffle
#: strategy fixes; beyond it only bucketing bounds the work.
IVF_ROUTE_ABOVE_ROWS = 2_000_000


def _corpus_shape(df: DataFrame, vec_col: str) -> tuple[int, int]:
    """(n_rows, dim) in two cheap jobs: parquet-metadata count + a
    1-row peek for the dimension (0 if the corpus is empty)."""
    n = df.count()
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return n, int(first["d"]) if first is not None else 0


#: cap on one packed block's vector payload. Blocking is purely
#: physical (every (i<j) pair is scored exactly once whatever the
#: block count), so this only shapes rows flowing through the
#: shuffle: 2 MB rows keep ~48 concurrent sort/join tasks inside a
#: 256 MB-per-slot execution budget (8 g / 32 threads — measured:
#: 4 MB rows from 8000×64-d blocks OOM that heap in the explode
#: stages), and bound the kernel's (N/B)² score matrix to ~128 MB.
#: The price is shuffle volume — the grid moves B·N·dim bytes, so
#: halving block size doubles replication; 2 MB is the measured
#: balance point, not a hard ceiling.
BLOCK_PAYLOAD_BYTES = 2 << 20


def _auto_blocks(n: int, rows_per_block: int, dim: int) -> int:
    b_par = min(-(-n // 1000), 32)  # spread small/mid inputs
    b_mem = -(-n // rows_per_block)  # bound (N/B)² task memory
    payload_rows = max(512, BLOCK_PAYLOAD_BYTES // (max(dim, 1) * 8))
    b_pay = -(-n // payload_rows)  # bound shuffle-row bytes
    return max(1, b_par, b_mem, b_pay)


def _pack_blocks(
    df: DataFrame, id_col: str, vec_col: str, n_blocks: int
) -> DataFrame:
    """(blk, ids array<long>, vecs array<double>) — one row per block,
    vectors FLATTENED row-major into a single primitive array.

    Flat arrays, not ``collect_list(struct(id, v))``: a struct per
    vector costs a JVM object tree per element (8000 structs × boxed
    rows per block), which is what blew an 8 g heap at 500k×64-d once
    the blocks flowed through localCheckpoint + a sort-merge join.
    Two primitive arrays per block store the same bytes at ~raw size
    (UnsafeArrayData), and Arrow hands the kernel one contiguous
    numpy array per cell — ``reshape`` instead of a 8000-element
    python ``vstack``."""
    return (
        df.select(
            F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
        )
        .withColumn("blk", F.pmod(F.hash("id"), F.lit(n_blocks)))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("id", "v")).alias("items"))
        .select(
            "blk",
            F.transform("items", lambda x: x["id"]).alias("ids"),
            F.flatten(F.transform("items", lambda x: x["v"])).alias("vecs"),
        )
        # consumed twice (both sides of the block-pair join) — eager
        # materialization beats re-running the pack per consumer
        .localCheckpoint()
    )


def _block_pair_tasks(
    packed: DataFrame,
    n_blocks: int,
    broadcast_corpus: bool,
    n_rows: int,
    dim: int,
) -> DataFrame:
    """One row per block pair (i ≤ j):
    (blk_a, blk_b, ids_a, vecs_a, ids_b, vecs_b).

    ``broadcast_corpus=True`` ships the whole packed table to every
    task via broadcast — cheapest when the corpus fits the budget.
    ``False`` NEVER broadcasts anything: each block explodes into its
    pair assignments map-side (block i emits an a-side row for every
    j ≥ i and a b-side row for every i ≤ j), both sides are
    hash-partitioned by the (blk_a, blk_b) pair key at one partition
    per task, and a sort-merge join (pinned by hint so Catalyst can't
    promote a side to broadcast) zips the exactly-one-row-per-side
    keys back together. One shuffle per side, ×B per-block
    replication through it — the price of exact all-pairs without a
    corpus broadcast — and the join's output partitioning IS the task
    grid, so no second repartition shuffle is needed."""
    n_tasks = n_blocks * (n_blocks + 1) // 2
    if broadcast_corpus:
        return (
            packed.alias("a")
            .crossJoin(F.broadcast(packed.alias("b")))
            .filter(F.col("a.blk") <= F.col("b.blk"))
            .select(
                F.col("a.blk").alias("blk_a"),
                F.col("b.blk").alias("blk_b"),
                F.col("a.ids").alias("ids_a"),
                F.col("a.vecs").alias("vecs_a"),
                F.col("b.ids").alias("ids_b"),
                F.col("b.vecs").alias("vecs_b"),
            )
            .repartition(n_tasks)
        )
    # 4× over-partitioning: hashing n_tasks pair keys into exactly
    # n_tasks partitions is balls-in-bins at load factor 1 — ~1/e of
    # partitions land empty while stragglers carry 2-4 sequential
    # GEMMs. At load factor 1/4 the max load is almost surely 1; AQE
    # coalesces the empties so the extra partitions cost nothing.
    # The low-load argument only matters while the grid is SMALL
    # relative to the cluster — once n_tasks ≫ slots, per-partition
    # task counts average out and more partitions just add scheduler
    # and shuffle-file pressure (B~490 near the 2M exact ceiling
    # would mean ~480k partitions uncapped) — so cap at a multiple of
    # cluster parallelism, BUT never below the byte floor: each pair
    # row carries TWO packed blocks (~2·(n/B)·dim·8 bytes), and a
    # partition's rows are buffered through the sort-merge join and
    # the Arrow hand-off, so packing many pairs into one partition
    # multiplies the per-task working set (observed: 500k×64-d OOM'd
    # an 8g heap at 8 pairs/partition where 1 pair/partition ran in
    # ~300 MB). Budget ~32 MB of pair payload per partition.
    spark_par = packed.sparkSession.sparkContext.defaultParallelism
    pair_bytes = max(1, 2 * (n_rows // max(n_blocks, 1)) * dim * 8)
    tasks_per_part = max(1, (32 << 20) // pair_bytes)
    byte_floor = -(-n_tasks // tasks_per_part)  # ceil
    n_parts = min(n_tasks * 4, max(byte_floor, 8 * spark_par, 256))
    a_ex = packed.select(
        F.col("blk").alias("blk_a"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("blk_b"),
        F.col("ids").alias("ids_a"),
        F.col("vecs").alias("vecs_a"),
    ).repartition(n_parts, "blk_a", "blk_b")
    b_ex = packed.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("blk_a"),
        F.col("blk").alias("blk_b"),
        F.col("ids").alias("ids_b"),
        F.col("vecs").alias("vecs_b"),
    ).repartition(n_parts, "blk_a", "blk_b")
    return a_ex.join(b_ex.hint("shuffle_merge"), ["blk_a", "blk_b"]).select(
        "blk_a", "blk_b", "ids_a", "vecs_a", "ids_b", "vecs_b"
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_blocks: int | None = None,
    rows_per_block: int = 8_000,
    route: str = "exact",
    broadcast_budget_bytes: int = BROADCAST_BUDGET_BYTES,
    ivf_above_rows: int = IVF_ROUTE_ABOVE_ROWS,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Exact cosine near-dup pairs (id_a < id_b, round(sim,6) ≥ t) by
    blocked matrix multiply.

    Vectors are hashed into ``n_blocks`` blocks; every block pair
    (i ≤ j) becomes one task that runs a dense normalized GEMM in
    numpy and emits only above-threshold pairs. Work is still
    O(N²·dim) — exactness costs that — but each task is a
    vectorized matmul instead of 2M interpreted higher-order-function
    evaluations, and the N²/2B² task grid spreads evenly across
    executors.

    ``n_blocks=None`` sizes the grid from the input, balancing two
    constraints: enough block pairs to spread across the cluster
    (≥ ⌈N/1000⌉ up to 32), and per-task score matrices bounded to
    ~(rows_per_block)² doubles so a task never allocates a huge
    fresh buffer (large first-touch allocations are the observed
    hot spot — page-fault cost, not FLOPs).

    Routing contract (``route``):

    - ``"exact"`` (default) — the exact blocked GEMM. The packed
      corpus is broadcast only while its raw bytes (n·dim·8) fit
      ``broadcast_budget_bytes``; above that the block-pair grid is
      built by shuffle replication with NO full-corpus broadcast
      (see ``_block_pair_tasks``) — output pairs are byte-identical
      either way, only the join strategy changes. Above
      ``ivf_above_rows`` rows (the O(N²) FLOPs wall, not a memory
      limit) this route RAISES rather than silently degrading:
      callers must explicitly pick ``route="ivf"`` (sub-quadratic,
      approximate) or raise ``ivf_above_rows`` to force the exact
      quadratic run.
    - ``"ivf"`` — sub-quadratic: pre-bucket on nearest centroid and
      emit intra-bucket pairs only (``embedding_neardup_pairs_ivf``).
      Approximate by contract — cross-bucket pairs are missed.
      ``centroids=None`` trains k = ⌈n/rows_per_block⌉ (min 16)
      seeds with one Lloyd refinement.
    - ``"auto"`` — explicit opt-in to size-adaptive routing: exact
      below ``ivf_above_rows``, IVF above (with a ``RuntimeWarning``
      naming the switch). Not the default precisely because the
      switch changes result completeness with corpus size; pipelines
      that opt in accept that and should surface the warning.
    """
    import pandas as pd

    if route not in ("auto", "exact", "ivf"):
        raise ValueError(f"unknown route {route!r}")
    if route == "ivf" and centroids is not None:
        # nothing below needs the corpus shape — skip the count job
        return embedding_neardup_pairs_ivf(
            df, centroids, id_col=id_col, vec_col=vec_col, threshold=threshold
        )
    n, dim = _corpus_shape(df, vec_col)
    if route == "exact" and n > ivf_above_rows:
        raise RuntimeError(
            f"embedding_neardup_pairs: n={n} exceeds ivf_above_rows="
            f"{ivf_above_rows} — the exact route is O(N²·dim) FLOPs and "
            "past this wall the quadratic cost, not memory, dominates. "
            "Pass route='ivf' for the sub-quadratic intra-bucket pairs "
            "(approximate: cross-bucket pairs are missed), raise "
            "ivf_above_rows to force the exact quadratic run, or "
            "route='auto' to opt in to size-adaptive switching."
        )
    if route == "ivf" or (route == "auto" and n > ivf_above_rows):
        if route == "auto":
            warnings.warn(
                f"embedding_neardup_pairs: n={n} exceeds ivf_above_rows="
                f"{ivf_above_rows}; auto-routing to the sub-quadratic IVF "
                "intra-bucket pairs (cross-bucket pairs are missed — pass "
                "route='exact' to force the O(N²) blocked GEMM)",
                RuntimeWarning,
                stacklevel=2,
            )
        if centroids is None:
            from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
                lloyd_refine,
                seed_centroids,
            )

            k = max(16, -(-n // rows_per_block))
            centroids = lloyd_refine(
                df,
                seed_centroids(df, k, id_col=id_col, vec_col=vec_col),
                iters=1,
                metric="cosine",
                vec_col=vec_col,
            )
        return embedding_neardup_pairs_ivf(
            df, centroids, id_col=id_col, vec_col=vec_col, threshold=threshold
        )

    if n_blocks is None:
        n_blocks = _auto_blocks(n, rows_per_block, dim)
    broadcast_corpus = n * dim * 8 <= broadcast_budget_bytes
    packed = _pack_blocks(df, id_col, vec_col, n_blocks)
    pairs = _block_pair_tasks(packed, n_blocks, broadcast_corpus, n, dim)

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            out_a, out_b, out_s = [], [], []
            for blk_a, blk_b, ia, va, ib, vb in zip(
                pdf["blk_a"], pdf["blk_b"],
                pdf["ids_a"], pdf["vecs_a"], pdf["ids_b"], pdf["vecs_b"],
            ):
                ida = np.asarray(ia, dtype=np.int64)
                A = np.asarray(va, dtype=np.float64).reshape(len(ida), -1)
                idb = np.asarray(ib, dtype=np.int64)
                B = np.asarray(vb, dtype=np.float64).reshape(len(idb), -1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    An = A / np.linalg.norm(A, axis=1, keepdims=True)
                    Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
                    S = An @ Bn.T
                # pre-filter with an epsilon-widened threshold, then
                # round only the surviving entries: rounding the full
                # matrix would allocate a second (N/B)² buffer for
                # values that are thrown away
                ii, jj = np.where(S >= threshold - 1e-6)
                sel = np.round(S[ii, jj], 6)
                ok = sel >= threshold
                ii, jj, sel = ii[ok], jj[ok], sel[ok]
                lo, hi = ida[ii], idb[jj]
                keep = lo != hi
                if blk_a == blk_b:
                    keep &= lo < hi
                lo, hi, sv = lo[keep], hi[keep], sel[keep]
                swap = lo > hi
                lo2 = np.where(swap, hi, lo)
                hi2 = np.where(swap, lo, hi)
                out_a.append(lo2)
                out_b.append(hi2)
                out_s.append(sv)
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cosine": np.concatenate(out_s),
                    }
                )

    return pairs.mapInPandas(kernel, "id_a long, id_b long, cosine double")


def substring_span_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_len: int = 40,
    stride: int = 10,
    df_cap: int = 1000,
) -> DataFrame:
    """Span-level exact-substring duplication (the ExactSubstr dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better" — suffix arrays there, a distributed shingle inverted
    index here): slide a ``span_len``-char window every ``stride``
    chars, hash each window, and report every document pair sharing
    >= 1 window hash with the shared-window count as evidence mass.
    Catches copied passages inside otherwise-distinct documents — the
    case whole-doc fingerprints and document-grained MinHash both
    dilute away.

    ``stride=1`` is exact for any shared span >= ``span_len``;
    larger strides are the sampled variant (a shared passage is
    caught when its two copies' offsets agree mod ``stride``) — the
    standard recall/cost dial, cutting shingle volume by ``stride``×.

    Scale shape: inverted-index join on the span hash — never
    all-pairs. ``df_cap`` drops hashes present in more than that many
    documents BEFORE the pair join: boilerplate spans are precisely
    the quadratic hot keys here (df docs -> df^2/2 pairs), and past
    the cap they are a boilerplate report (the hash's doc list), not
    a pair problem. Same guard as the lexical index's df-capping
    (operators/hybrid.py).
    """
    if span_len <= 0 or stride <= 0:
        raise ValueError(f"span_len/stride must be positive, got {span_len}/{stride}")
    t = F.col(text_col)
    spans = (
        df.filter(F.length(t) >= span_len)
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.sequence(
                    F.lit(1), F.length(t) - F.lit(span_len - 1), F.lit(stride)
                )
            ).alias("pos"),
            t.alias("__t"),
        )
        .select(
            "id",
            F.md5(
                F.col("__t").substr(F.col("pos"), F.lit(span_len)).cast("binary")
            ).alias("h"),
        )
        .distinct()  # a span repeated inside ONE doc counts once
        .localCheckpoint()  # consumed by df-count and both join sides
    )
    keep = (
        spans.groupBy("h")
        .agg(F.count("*").alias("span_df"))
        .filter(F.col("span_df") <= df_cap)
        .select("h")
    )
    sp = spans.join(keep, "h")
    a, b = sp.alias("a"), sp.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_shared_spans"))
    )


def eval_overlap(
    corpus: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: for every corpus document, count the
    distinct word ``n``-grams it shares with ANY eval-set document —
    the standard train/test contamination check (GPT-3 used 13-gram
    overlap; PaLM/Llama use 8–10). Docs with a count > 0 are the
    contamination candidates a pipeline drops or span-scrubs before
    training; span-level removal composes via ``substring_span_pairs``
    on the flagged docs.

    Scale shape: the corpus side is an exploded shingle inverted index
    (shuffle ∝ distinct (doc, shingle), the same cost as one LSH pass);
    the eval side collapses to DISTINCT shingles — eval sets are tiny
    next to a 100 TB corpus, so ``broadcast_eval=True`` (default) makes
    the probe a broadcast-hash semi-join with NO shuffle of the corpus
    shingles. Set it False when the eval shingle set outgrows the
    broadcast budget; the join degrades to a plain shuffle equi-join on
    the shingle key (still never all-pairs).

    Returns (``id_col``, n_overlapping_ngrams) for flagged docs only —
    at 100 TB the clean >99% of the corpus never leaves the filter.
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    ev = (
        exploded_shingles(evalset, id_col, text_col, n)
        .select("shingle")
        .distinct()
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    cs = exploded_shingles(corpus, id_col, text_col, n)
    return (
        cs.join(ev, "shingle")
        .groupBy(F.col("id").alias(id_col))
        # (id, shingle) rows are already distinct (exploded_shingles
        # array_distincts per doc), so a plain count has full map-side
        # partial aggregation — no second dedup shuffle needed
        .agg(F.count("*").alias("n_overlapping_ngrams"))
    )


def embedding_neardup_pairs_jl(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    out_dim: int = 16,
    slack: float = 2.5,
    seed: int = 7919,
    n_blocks: int | None = None,
    rows_per_block: int = 8_000,
    broadcast_budget_bytes: int = BROADCAST_BUDGET_BYTES,
) -> DataFrame:
    """``embedding_neardup_pairs`` with a Johnson–Lindenstrauss
    pre-filter inside each block-pair task: the (N/B)² score matrix is
    computed on ``out_dim``-d projections (``out_dim``/dim of the
    FLOPs — 4× at 16/64), and only pairs whose PROJECTED squared
    distance clears ``slack × 2(1-threshold)`` get the exact full-d
    cosine (a sparse gather below 5% survivor density, a chunked
    full-d GEMM above it — dense survivor sets mean the prefilter
    isn't buying anything, and gathering them costs more than the
    GEMM it was avoiding). Precision is exact by
    construction (every emitted pair is verified at full precision);
    recall is probabilistic in ``slack`` — the projection is the same
    deterministic Rademacher matrix as
    ``functions.vector.random_projection`` (pure function of (i, j,
    seed)), so recall is a FIXED, re-measurable property of the data,
    not a per-run coin flip. For m=16 the squared-distance estimate is
    chi-square-like with ~m dof: P[ratio > 2.5] ≈ 5e-4 per true pair
    (the fixture keeps 14/14 at slack 2.5). That bound only holds
    with an INDEPENDENT sign matrix — see random_projection's
    docstring for why the signs are md5-derived; audit recall against
    the exact twin on a sample before trusting a slack at scale.

    Identity with the exact operator's output: emitted (id_a, id_b,
    cosine) rows carry the full-precision score, so on any pair the
    filter keeps, the row is byte-identical to the exact path's.

    Join strategy follows the same budget rule as the exact twin: the
    packed corpus is broadcast only below ``broadcast_budget_bytes``
    raw bytes; above it the block-pair grid is shuffle-replicated
    with no full-corpus broadcast (output unchanged either way).
    """
    import pandas as pd

    n, dim = _corpus_shape(df, vec_col)
    if n_blocks is None:
        n_blocks = _auto_blocks(n, rows_per_block, dim)
    broadcast_corpus = n * dim * 8 <= broadcast_budget_bytes
    packed = _pack_blocks(df, id_col, vec_col, n_blocks)
    pairs = _block_pair_tasks(packed, n_blocks, broadcast_corpus, n, dim)
    d2_bound = slack * 2.0 * (1.0 - threshold)

    def kernel(batches):
        import numpy as np

        signs = None
        for pdf in batches:
            out_a, out_b, out_s = [], [], []
            for blk_a, blk_b, ia, va, ib, vb in zip(
                pdf["blk_a"], pdf["blk_b"],
                pdf["ids_a"], pdf["vecs_a"], pdf["ids_b"], pdf["vecs_b"],
            ):
                ida = np.asarray(ia, dtype=np.int64)
                A = np.asarray(va, dtype=np.float64).reshape(len(ida), -1)
                idb = np.asarray(ib, dtype=np.int64)
                B = np.asarray(vb, dtype=np.float64).reshape(len(idb), -1)
                if signs is None:
                    import hashlib

                    dim = A.shape[1]
                    # same deterministic md5 Rademacher matrix as
                    # functions.vector.random_projection(seed) — see
                    # its docstring for why md5 (column independence)
                    signs = np.array(
                        [
                            [
                                1.0
                                if hashlib.md5(
                                    f"{seed}:{i}:{j}".encode()
                                ).hexdigest()[0] in "01234567"
                                else -1.0
                                for j in range(out_dim)
                            ]
                            for i in range(dim)
                        ]
                    ) / np.sqrt(out_dim)
                with np.errstate(divide="ignore", invalid="ignore"):
                    An = A / np.linalg.norm(A, axis=1, keepdims=True)
                    Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
                Pa, Pb = An @ signs, Bn @ signs
                nb2 = (Pb * Pb).sum(axis=1)[None, :]
                na2 = (Pa * Pa).sum(axis=1)
                # row-chunked distance filter: the naive full d2
                # matrix plus its matmul temporary doubles the exact
                # kernel's peak (2 x (N/B)^2 doubles per task) and
                # with 32 concurrent workers that OOM-kills the
                # executors; chunking caps temporaries at
                # chunk x (N/B) regardless of block size
                chunk = 2048
                ii_parts, jj_parts, sel_parts = [], [], []
                for s0 in range(0, Pa.shape[0], chunk):
                    pa = Pa[s0 : s0 + chunk]
                    d2 = na2[s0 : s0 + chunk, None] + nb2 - 2.0 * (pa @ Pb.T)
                    ci, cj = np.where(d2 <= d2_bound)
                    if not len(ci):
                        continue
                    # adaptive exact verification at full dimension.
                    # The gather-einsum path copies the survivor rows
                    # (2 x k x dim doubles) — at 15 µs/pair for dense
                    # survivor sets its allocations dwarf every GEMM
                    # in the operator AND wander 3x with host memory
                    # pressure (the round-7..10 bench-drift root
                    # cause: at threshold 0.45 / slack 2.5 the d²
                    # bound is 2.75 while unrelated pairs sit at
                    # ~2.0, so ~85% of the fixture's pairs "survive"
                    # the prefilter). Past 5% density a full-d BLAS
                    # GEMM on the chunk (no gather, one bounded
                    # chunk x nb temporary) is ~300x cheaper; below
                    # it the sparse gather wins. Same dot products
                    # either way — output rows are unchanged.
                    if len(ci) > 0.05 * d2.size:
                        S = An[s0 : s0 + chunk] @ Bn.T
                        sel = np.round(S[ci, cj], 6)
                    else:
                        sel = np.round(
                            np.einsum("ij,ij->i", An[ci + s0], Bn[cj]), 6
                        )
                    ii_parts.append(ci + s0)
                    jj_parts.append(cj)
                    sel_parts.append(sel)
                if not ii_parts:
                    continue
                ii = np.concatenate(ii_parts)
                jj = np.concatenate(jj_parts)
                sel = np.concatenate(sel_parts)
                ok = sel >= threshold
                ii, jj, sel = ii[ok], jj[ok], sel[ok]
                lo, hi = ida[ii], idb[jj]
                keep = lo != hi
                if blk_a == blk_b:
                    keep &= lo < hi
                lo, hi, sv = lo[keep], hi[keep], sel[keep]
                swap = lo > hi
                lo2 = np.where(swap, hi, lo)
                hi2 = np.where(swap, lo, hi)
                out_a.append(lo2)
                out_b.append(hi2)
                out_s.append(sv)
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cosine": np.concatenate(out_s),
                    }
                )

    return pairs.mapInPandas(kernel, "id_a long, id_b long, cosine double")


def scrub_eval_spans(
    corpus: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_len: int = 40,
    stride: int = 1,
    marker: str = "",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Span-level contamination REMOVAL — the surgical complement of
    :func:`eval_overlap`'s doc-level flag: every ``span_len``-char
    window of a corpus doc whose hash appears anywhere in the eval set
    is cut out of the text (overlapping matches merge into one
    excision; ``marker`` is spliced in per excision, e.g. ``" … "``),
    keeping the rest of the document for training instead of dropping
    it — the Lee et al. ExactSubstr treatment applied to benchmark
    decontamination. ``stride=1`` removes every contaminated char of
    any shared span >= ``span_len``; larger strides sample (cheaper,
    may leave ragged edges).

    Everything after the window explode is JVM-side: matched
    positions aggregate per doc (a doc's own window list — bounded by
    its length, the same bound as the doc text itself), interval
    merge and text surgery are HOF ``aggregate`` folds, and the eval
    hash set is broadcast (no corpus shuffle beyond the per-doc
    position groupBy). Returns the corpus frame with ``text_col``
    scrubbed plus ``n_scrubbed_spans`` / ``n_scrubbed_chars`` audit
    columns (0 for untouched docs).
    """
    if span_len <= 0 or stride <= 0:
        raise ValueError(f"span_len/stride must be positive, got {span_len}/{stride}")
    L = span_len

    def windows(df: DataFrame) -> DataFrame:
        t = F.col(text_col)
        return (
            df.filter(F.length(t) >= L)
            .select(
                F.col(id_col).alias("id"),
                F.explode(
                    F.sequence(F.lit(1), F.length(t) - F.lit(L - 1), F.lit(stride))
                ).alias("pos"),
                t.alias("__t"),
            )
            .select(
                "id",
                "pos",
                F.md5(F.col("__t").substr(F.col("pos"), F.lit(L)).cast("binary")).alias("h"),
            )
        )

    ev = windows(evalset).select("h").distinct()
    if broadcast_eval:
        ev = F.broadcast(ev)
    hits = (
        windows(corpus)
        .join(ev, "h")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("__pp"))
    )
    # merge sorted start positions into disjoint [s, e) islands: fold
    # appending or extending the last island (all JVM, no UDF)
    islands = F.aggregate(
        F.col("__pp"),
        F.array().cast("array<struct<s:int,e:int>>"),
        lambda acc, p: F.when(
            (F.size(acc) == 0) | (p > F.element_at(acc, -1)["e"]),
            F.concat(acc, F.array(F.struct(p.alias("s"), (p + L).alias("e")))),
        ).otherwise(
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.greatest(F.element_at(acc, -1)["e"], p + L).alias("e"),
                    )
                ),
            )
        ),
    )
    joined = corpus.join(
        hits.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn("__isl", F.when(F.col("__pp").isNotNull(), islands))
    t = F.col(text_col)
    # splice: walk the islands left-to-right, copying the clean text
    # between cursor and each island start, then jumping the cursor
    rebuilt = F.aggregate(
        F.col("__isl"),
        F.struct(F.lit(1).alias("cur"), F.lit("").alias("out")),
        lambda acc, isl: F.struct(
            isl["e"].alias("cur"),
            F.concat(
                acc["out"],
                t.substr(acc["cur"], F.greatest(isl["s"] - acc["cur"], F.lit(0))),
                F.lit(marker),
            ).alias("out"),
        ),
        lambda acc: F.concat(
            acc["out"], t.substr(acc["cur"], F.length(t) - acc["cur"] + 1)
        ),
    )
    n_chars = F.aggregate(
        F.col("__isl"),
        F.lit(0),
        lambda acc, isl: acc + (isl["e"] - isl["s"]),
    )
    return joined.select(
        *[c for c in corpus.columns if c != text_col],
        F.when(F.col("__isl").isNotNull(), rebuilt).otherwise(t).alias(text_col),
        F.coalesce(F.size("__isl"), F.lit(0)).alias("n_scrubbed_spans"),
        F.coalesce(n_chars, F.lit(0)).alias("n_scrubbed_chars"),
    )


def mirror_host_pairs(
    docs: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    min_shared: int = 5,
    max_hosts: int = 5,
) -> DataFrame:
    """Mirror-HOST detection: pairs of hosts serving ≥ ``min_shared``
    byte-identical documents — ``(host_a, host_b, n_shared)``,
    ``host_a < host_b``. Mirrors (mass-copied sites, CDN aliases the
    canonicalizer cannot collapse because the hostnames genuinely
    differ) waste crawl budget and skew corpus statistics; a curation
    pipeline crawls one of the pair and maps the other.

    The quadratic trap and its cap: a content signature shared by MANY
    hosts is boilerplate (empty pages, parked-domain templates, "404"
    bodies), not mirroring — and exploding its host set would be the
    all-pairs join this module never does. Signatures on more than
    ``max_hosts`` hosts are EXCLUDED (the df-cap rule the substring
    and lexical paths already use), so the per-signature pair
    expansion is bounded by ``max_hosts²`` and the plan is: one
    (host, sig) dedup shuffle → one sig groupBy collecting the
    (bounded) host set → in-row pair expansion via HOFs → one pair
    count. No join ever carries the corpus side."""
    sig = F.md5(F.col(text_col).cast("binary"))
    sigs = docs.select(F.col(host_col).alias("host"), sig.alias("sig")).distinct()
    hostsets = (
        sigs.groupBy("sig")
        .agg(F.sort_array(F.collect_set("host")).alias("hosts"))
        .filter(
            (F.size("hosts") >= 2) & (F.size("hosts") <= int(max_hosts))
        )
    )
    hosts = F.col("hosts")
    combos = F.flatten(
        F.transform(
            hosts,
            lambda x, i: F.transform(
                F.slice(hosts, i + F.lit(2), F.greatest(F.size(hosts) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("host_a"), y.alias("host_b")),
            ),
        )
    )
    return (
        hostsets.select(F.explode(combos).alias("p"))
        .groupBy(
            F.col("p.host_a").alias("host_a"), F.col("p.host_b").alias("host_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )
