"""Dedup queries over the ``documents`` fixture (operators.dedup),
each mirrored in DuckDB SQL. Hashing is md5-based on both sides so
signatures match bit-for-bit (FIXTURES.md conventions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
    dedup,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries import (
    load,
    register,
)

# shared SQL fragments (DuckDB)
_SH_CTE = """
toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS arr
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id AS id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
  FROM toks, unnest(range(1, greatest(len(arr)-1, 1))) AS t(i)
  WHERE len(arr) >= 3
)
"""


@register(
    "dedup_exact",
    r"""
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
  FROM documents
)
SELECT min(doc_id) AS doc_id, fingerprint, count(*) AS n_copies
FROM fp GROUP BY fingerprint
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content hash; survivor = min doc_id."""
    return dedup.exact_dedup(load(spark, sf_dir, "documents"))


@register(
    "dedup_jaccard_pairs",
    f"""
WITH {_SH_CTE},
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, n_inter, sa.sz AS sz_a, sb.sz AS sz_b,
       round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
WHERE n_inter * 1.0 / (sa.sz + sb.sz - n_inter) >= 0.2
""",
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (inverted-index join)."""
    return dedup.jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.2)


@register(
    "dedup_minhash_signatures",
    f"""
WITH {_SH_CTE},
seeds AS (SELECT range AS seed FROM range(0, 16)),
mh AS (
  SELECT id, seed, min(md5(seed::VARCHAR || ':' || shingle)) AS mh
  FROM sh, seeds GROUP BY id, seed
)
SELECT id AS doc_id, string_agg(mh, '|' ORDER BY seed) AS signature
FROM mh GROUP BY id
""",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-hash MinHash signature per doc (string-min over md5 space)."""
    sig = dedup.minhash_signatures(load(spark, sf_dir, "documents"), n_hashes=16)
    return sig.select(
        F.col("id").alias("doc_id"),
        F.concat_ws("|", *[F.col(f"h{i}") for i in range(16)]).alias("signature"),
    )


@register(
    "dedup_minhash_lsh_pairs",
    f"""
WITH {_SH_CTE},
seeds AS (SELECT range AS seed FROM range(0, 16)),
mh AS (
  SELECT id, seed, min(md5(seed::VARCHAR || ':' || shingle)) AS mh
  FROM sh, seeds GROUP BY id, seed
),
sig AS (SELECT id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY id),
bands AS (
  SELECT id, b,
         md5(sig[b*4+1] || '|' || sig[b*4+2] || '|' || sig[b*4+3] || '|' || sig[b*4+4]) AS bk
  FROM sig, (SELECT range AS b FROM range(0, 4)) bs
),
cand AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b
  FROM bands a JOIN bands c ON a.b = c.b AND a.bk = c.bk AND a.id < c.id
)
SELECT cand.id_a, cand.id_b,
       round(len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) / 16.0, 6) AS est_jaccard
FROM cand JOIN sig sa ON sa.id = cand.id_a JOIN sig sb ON sb.id = cand.id_b
WHERE len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) / 16.0 >= 0.25
""",
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates (4 bands × 4 rows) + estimated Jaccard ≥ 0.25 —
    the scalable near-dup path (band-key join, never all-pairs)."""
    return dedup.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), n_hashes=16, bands=4, min_est=0.25
    )


@register(
    "dedup_simhash_candidates",
    """
WITH tok AS (
  SELECT doc_id AS id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
  FROM documents
),
cnt AS (SELECT id, tok, count(*) AS w FROM tok GROUP BY id, tok),
h AS (SELECT id, w, md5(tok) AS h FROM cnt),
bits AS (SELECT id, w, h, range AS b FROM h, range(0, 64) r),
bv AS (
  SELECT id, b,
         CASE WHEN sum((((strpos('0123456789abcdef', h[(b//4)+1]) - 1) >> (3 - (b % 4))) % 2 * 2 - 1) * w) > 0
              THEN '1' ELSE '0' END AS bitval
  FROM bits GROUP BY id, b
),
sig AS (SELECT id, string_agg(bitval, '' ORDER BY b) AS simhash FROM bv GROUP BY id),
bands AS (
  SELECT id, simhash, b, substr(simhash, b*16 + 1, 16) AS bk
  FROM sig, (SELECT range AS b FROM range(0, 4)) bs
),
cand AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b, a.simhash AS sh_a, c.simhash AS sh_b
  FROM bands a JOIN bands c ON a.b = c.b AND a.bk = c.bk AND a.id < c.id
)
SELECT id_a, id_b,
       len(list_filter(range(1, 65), i -> sh_a[i] <> sh_b[i]))::INT AS hamming
FROM cand
WHERE len(list_filter(range(1, 65), i -> sh_a[i] <> sh_b[i])) <= 8
""",
)
def dedup_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signatures, 16-bit band match →
    exact Hamming ≤ 8."""
    return dedup.simhash_candidates(
        load(spark, sf_dir, "documents"), max_hamming=8
    ).withColumn("hamming", F.col("hamming").cast("int"))


@register(
    "dedup_embedding_pairs",
    """
SELECT * FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
) WHERE cosine >= 0.45
""",
)
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute-force correctness
    baseline; IVF bounds the pair space at scale)."""
    return dedup.embedding_neardup_pairs(
        load(spark, sf_dir, "embeddings"), threshold=0.45
    )


_DUP_GROUPS_ORACLE = f"""
WITH RECURSIVE {_SH_CTE},
seeds AS (SELECT range AS seed FROM range(0, 16)),
mh AS (
  SELECT id, seed, min(md5(seed::VARCHAR || ':' || shingle)) AS mh
  FROM sh, seeds GROUP BY id, seed
),
sig AS (SELECT id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY id),
bands AS (
  SELECT id, b,
         md5(sig[b*4+1] || '|' || sig[b*4+2] || '|' || sig[b*4+3] || '|' || sig[b*4+4]) AS bk
  FROM sig, (SELECT range AS b FROM range(0, 4)) bs
),
cand AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b
  FROM bands a JOIN bands c ON a.b = c.b AND a.bk = c.bk AND a.id < c.id
),
lshp AS (
  SELECT cand.id_a, cand.id_b
  FROM cand JOIN sig sa ON sa.id = cand.id_a JOIN sig sb ON sb.id = cand.id_b
  WHERE len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) / 16.0 >= 0.25
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM lshp
  UNION
  SELECT id_b AS a, id_a AS b FROM lshp
),
reach AS (
  SELECT a AS id, a AS r FROM edges
  UNION
  SELECT e.a AS id, reach.r AS r FROM edges e JOIN reach ON e.b = reach.id
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
SELECT component, count(*) AS n_members,
       string_agg(id::VARCHAR, ',' ORDER BY id) AS members
FROM comp GROUP BY component
"""


@register("dedup_duplicate_groups", _DUP_GROUPS_ORACLE)
def dedup_duplicate_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate GROUPS: LSH candidate pairs (est Jaccard >= 0.25)
    clustered into connected components via large-star/small-star —
    the keep/drop decision stage of corpus dedup (keep = component
    id, drop the rest). The oracle mirrors the closure with a
    recursive CTE."""
    pairs = dedup.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), n_hashes=16, bands=4, min_est=0.25
    )
    return dedup.duplicate_groups(pairs)


# the same query under the name the registry and driver contract list
register("dedup_duplicate_groups_star", _DUP_GROUPS_ORACLE)(dedup_duplicate_groups)


@register(
    "dedup_embedding_pairs_ivf",
    """
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
  FROM embeddings WHERE vec_id < 16
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC,
                                       c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1
)
SELECT * FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS cosine
  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
) WHERE cosine >= 0.45
""",
)
def dedup_embedding_pairs_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via IVF bucketing — the sub-quadratic scale
    route (intra-centroid pairs only, single shuffle on centroid_id);
    the exact brute-force twin is dedup_embedding_pairs."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
        ann,
    )

    emb = load(spark, sf_dir, "embeddings")
    cents = ann.seed_centroids(emb, 16)
    return dedup.embedding_neardup_pairs_ivf(emb, cents, threshold=0.45)


@register(
    "dedup_simhash_groups",
    """
WITH RECURSIVE tok AS (
  SELECT doc_id AS id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
  FROM documents
),
cnt AS (SELECT id, tok, count(*) AS w FROM tok GROUP BY id, tok),
h AS (SELECT id, w, md5(tok) AS h FROM cnt),
bits AS (SELECT id, w, h, range AS b FROM h, range(0, 64) r),
bv AS (
  SELECT id, b,
         CASE WHEN sum((((strpos('0123456789abcdef', h[(b//4)+1]) - 1) >> (3 - (b % 4))) % 2 * 2 - 1) * w) > 0
              THEN '1' ELSE '0' END AS bitval
  FROM bits GROUP BY id, b
),
sig AS (SELECT id, string_agg(bitval, '' ORDER BY b) AS simhash FROM bv GROUP BY id),
bands AS (
  SELECT id, simhash, b, substr(simhash, b*16 + 1, 16) AS bk
  FROM sig, (SELECT range AS b FROM range(0, 4)) bs
),
cand AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b, a.simhash AS sh_a, c.simhash AS sh_b
  FROM bands a JOIN bands c ON a.b = c.b AND a.bk = c.bk AND a.id < c.id
),
pairs AS (
  SELECT id_a, id_b FROM cand
  WHERE len(list_filter(range(1, 65), i -> sh_a[i] <> sh_b[i])) <= 8
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a AS id, a AS r FROM edges
  UNION
  SELECT e.a AS id, reach.r AS r FROM edges e JOIN reach ON e.b = reach.id
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
SELECT component, count(*) AS n_members,
       string_agg(id::VARCHAR, ',' ORDER BY id) AS members
FROM comp GROUP BY component
""",
)
def dedup_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups from the SIMHASH candidate generator (Hamming
    <= 8) — the clustering stage composes across candidate sources
    (same connected-components core as dedup_duplicate_groups)."""
    pairs = dedup.simhash_candidates(
        load(spark, sf_dir, "documents"), max_hamming=8
    ).select("id_a", "id_b")
    return dedup.duplicate_groups(pairs)


@register(
    "dedup_signal_agreement",
    f"""
WITH RECURSIVE {_SH_CTE},
seeds AS (SELECT range AS seed FROM range(0, 16)),
mh AS (
  SELECT id, seed, min(md5(seed::VARCHAR || ':' || shingle)) AS mh
  FROM sh, seeds GROUP BY id, seed
),
msig AS (SELECT id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY id),
mbands AS (
  SELECT id, b,
         md5(sig[b*4+1] || '|' || sig[b*4+2] || '|' || sig[b*4+3] || '|' || sig[b*4+4]) AS bk
  FROM msig, (SELECT range AS b FROM range(0, 4)) bs
),
mcand AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b
  FROM mbands a JOIN mbands c ON a.b = c.b AND a.bk = c.bk AND a.id < c.id
),
mpairs AS (
  SELECT mcand.id_a, mcand.id_b
  FROM mcand JOIN msig sa ON sa.id = mcand.id_a JOIN msig sb ON sb.id = mcand.id_b
  WHERE len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) / 16.0 >= 0.25
),
tok AS (
  SELECT doc_id AS id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
  FROM documents
),
cnt AS (SELECT id, tok, count(*) AS w FROM tok GROUP BY id, tok),
hh AS (SELECT id, w, md5(tok) AS h FROM cnt),
bits AS (SELECT id, w, h, range AS b FROM hh, range(0, 64) r),
bv AS (
  SELECT id, b,
         CASE WHEN sum((((strpos('0123456789abcdef', h[(b//4)+1]) - 1) >> (3 - (b % 4))) % 2 * 2 - 1) * w) > 0
              THEN '1' ELSE '0' END AS bitval
  FROM bits GROUP BY id, b
),
ssig AS (SELECT id, string_agg(bitval, '' ORDER BY b) AS simhash FROM bv GROUP BY id),
sbands AS (
  SELECT id, simhash, b, substr(simhash, b*16 + 1, 16) AS bk
  FROM ssig, (SELECT range AS b FROM range(0, 4)) bs
),
scand AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b, a.simhash AS sh_a, c.simhash AS sh_b
  FROM sbands a JOIN sbands c ON a.b = c.b AND a.bk = c.bk AND a.id < c.id
),
spairs AS (
  SELECT id_a, id_b FROM scand
  WHERE len(list_filter(range(1, 65), i -> sh_a[i] <> sh_b[i])) <= 8
),
u AS (
  SELECT id_a, id_b,
         max(src = 'm')::INT AS in_minhash,
         max(src = 's')::INT AS in_simhash
  FROM (
    SELECT id_a, id_b, 'm' AS src FROM mpairs
    UNION ALL
    SELECT id_a, id_b, 's' AS src FROM spairs
  ) GROUP BY id_a, id_b
)
SELECT count(*) FILTER (in_minhash = 1) AS n_minhash,
       count(*) FILTER (in_simhash = 1) AS n_simhash,
       count(*) FILTER (in_minhash = 1 AND in_simhash = 1) AS n_both,
       round(count(*) FILTER (in_minhash = 1 AND in_simhash = 1) * 1.0
             / count(*), 6) AS pair_jaccard
FROM u
""",
)
def dedup_signal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-signal dedup evaluation — the sanity check a curation
    team runs before trusting a near-dup sweep: how much do the
    MinHash-LSH (est Jaccard >= 0.25) and SimHash (Hamming <= 8) pair
    sets agree? Emits each signal's pair count, the intersection, and
    the pair-set Jaccard. Both candidate pipelines are the existing
    oracle-verified operators; this query only composes and compares
    them (a full-outer merge of two pair sets + one 1-row aggregate)."""
    docs = load(spark, sf_dir, "documents")
    mp = dedup.minhash_lsh_pairs(docs, n_hashes=16, bands=4, min_est=0.25).select(
        "id_a", "id_b", F.lit(1).alias("in_minhash")
    )
    sp = dedup.simhash_candidates(docs, max_hamming=8).select(
        "id_a", "id_b", F.lit(1).alias("in_simhash")
    )
    u = mp.join(sp, ["id_a", "id_b"], "full_outer").select(
        F.coalesce("in_minhash", F.lit(0)).alias("in_minhash"),
        F.coalesce("in_simhash", F.lit(0)).alias("in_simhash"),
    )
    return u.agg(
        F.sum("in_minhash").alias("n_minhash"),
        F.sum("in_simhash").alias("n_simhash"),
        F.sum(
            F.when((F.col("in_minhash") == 1) & (F.col("in_simhash") == 1), 1)
            .otherwise(0)
        ).alias("n_both"),
        F.round(
            F.sum(
                F.when(
                    (F.col("in_minhash") == 1) & (F.col("in_simhash") == 1), 1
                ).otherwise(0)
            )
            / F.count("*"),
            6,
        ).alias("pair_jaccard"),
    )


@register(
    "dedup_substring_spans",
    """
WITH s AS (
  SELECT doc_id AS id, md5(substr(text, p, 40)) AS h
  FROM documents, unnest(generate_series(1, length(text) - 39, 10)) t(p)
  WHERE length(text) >= 40
),
d AS (SELECT DISTINCT id, h FROM s),
keep AS (
  SELECT h FROM (SELECT h, count(*) AS span_df FROM d GROUP BY h)
  WHERE span_df <= 1000
),
k AS (SELECT d.id, d.h FROM d JOIN keep USING (h))
SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared_spans
FROM k a JOIN k b ON a.h = b.h AND a.id < b.id
GROUP BY 1, 2
""",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring duplication (Lee et al. ExactSubstr,
    distributed shingle form — operators.dedup.substring_span_pairs):
    40-char windows every 10 chars, inverted-index join on the window
    hash, df-capped against boilerplate hot keys. Finds copied
    passages document-grained signals dilute away."""
    docs = load(spark, sf_dir, "documents")
    return dedup.substring_span_pairs(
        docs, span_len=40, stride=10, df_cap=1000
    )


_LEAKAGE_SPLIT_ORACLE = f"""
WITH RECURSIVE {_SH_CTE},
seeds AS (SELECT range AS seed FROM range(0, 16)),
mh AS (
  SELECT id, seed, min(md5(seed::VARCHAR || ':' || shingle)) AS mh
  FROM sh, seeds GROUP BY id, seed
),
sig AS (SELECT id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY id),
bands AS (
  SELECT id, b,
         md5(sig[b*4+1] || '|' || sig[b*4+2] || '|' || sig[b*4+3] || '|' || sig[b*4+4]) AS bk
  FROM sig, (SELECT range AS b FROM range(0, 4)) bs
),
cand AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b
  FROM bands a JOIN bands c ON a.b = c.b AND a.bk = c.bk AND a.id < c.id
),
lshp AS (
  SELECT cand.id_a, cand.id_b
  FROM cand JOIN sig sa ON sa.id = cand.id_a JOIN sig sb ON sb.id = cand.id_b
  WHERE len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) / 16.0 >= 0.25
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM lshp
  UNION
  SELECT id_b AS a, id_a AS b FROM lshp
),
reach AS (
  SELECT a AS id, a AS r FROM edges
  UNION
  SELECT e.a AS id, reach.r AS r FROM edges e JOIN reach ON e.b = reach.id
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
asg AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_id
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
),
spl AS (
  SELECT doc_id, group_id,
         CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT doc_id, group_id,
               ((group_id * 2654435761) % 4294967296 + 0.5) / 4294967296.0 AS u
        FROM asg)
),
leak AS (
  SELECT count(*) AS n
  FROM lshp p JOIN spl a ON p.id_a = a.doc_id JOIN spl b ON p.id_b = b.doc_id
  WHERE a.split <> b.split
)
SELECT split, count(*) AS n_docs, count(DISTINCT group_id) AS n_groups,
       (SELECT n FROM leak) = 0 AS no_leakage
FROM spl GROUP BY split
"""


@register("corpus_leakage_safe_split", _LEAKAGE_SPLIT_ORACLE)
def corpus_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-proof train/val/test split
    (operators.sampling.leakage_safe_split): MinHash-LSH near-dup
    pairs -> connected components -> split as a pure integer function
    of the GROUP id (80/10/10), so near-copies always land in the
    same split. ``no_leakage`` re-verifies the property end to end
    against the pair set itself — the oracle pins it TRUE alongside
    the exact per-split doc/group counts."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.sampling import (
        leakage_safe_split,
    )

    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, n_hashes=16, bands=4, min_est=0.25
    ).localCheckpoint()
    split = leakage_safe_split(docs, pairs.select("id_a", "id_b"))
    s = split.select("doc_id", "group_id", "split").localCheckpoint()
    a = s.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    b = s.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    n_leak = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .count()
    )
    return s.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("group_id").alias("n_groups"),
        F.lit(n_leak == 0).alias("no_leakage"),
    )


_SEMANTIC_KEEP_ORACLE = """
WITH RECURSIVE pairs AS (
  SELECT * FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  ) WHERE cosine >= 0.45
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a AS id, a AS r FROM edges
  UNION
  SELECT e.a AS id, reach.r AS r FROM edges e JOIN reach ON e.b = reach.id
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
SELECT e.vec_id,
       coalesce(c.component, e.vec_id) AS component,
       (c.component IS NULL OR e.vec_id = c.component) AS keep
FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id
"""


@register("dedup_semantic_keep", _SEMANTIC_KEEP_ORACLE)
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup, end to end: embedding-cosine
    near-dup pairs -> connected components -> per-doc keep/drop
    (survivor = the component's min id; singletons keep themselves).
    This query runs the brute-force pair source so the recursive-CTE
    oracle verifies every slot full-value; the 100 TB form swaps in
    ``embedding_neardup_pairs_ivf`` (cluster-bucketed, sub-quadratic
    — the SemDeDup recipe: k-means buckets, intra-bucket cosine,
    keep one per semantic group), which is pairwise-identical on the
    fixtures per ``dedup_embedding_pairs_ivf``'s own oracle."""
    emb = load(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_neardup_pairs(emb, threshold=0.45)
    comps = dedup.connected_components(pairs)
    return (
        emb.select("vec_id")
        .join(comps.withColumnRenamed("id", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("component", F.col("vec_id")).alias("component"),
            (
                F.col("component").isNull()
                | (F.col("vec_id") == F.col("component"))
            ).alias("keep"),
        )
    )


@register(
    "dedup_embedding_pairs_jl",
    """
WITH nn AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum')) AS nrm
  FROM embeddings
),
nv AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM nn WHERE nrm > 0),
proj AS (
  SELECT vec_id, u,
         list_transform(range(0, 16), j ->
           list_aggregate(
             list_transform(range(1, len(u) + 1),
               i -> u[i] * (CASE WHEN substr(md5('7919:' || CAST(i - 1 AS VARCHAR)
                                             || ':' || CAST(j AS VARCHAR)), 1, 1)
                               IN ('0','1','2','3','4','5','6','7')
                          THEN 1.0 ELSE -1.0 END)),
             'sum') / sqrt(16.0)) AS p
  FROM nv
),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.u AS ua, b.u AS ub
  FROM proj a JOIN proj b ON a.vec_id < b.vec_id
  WHERE list_aggregate(
          list_transform(range(1, 17),
            i -> (a.p[i] - b.p[i]) * (a.p[i] - b.p[i])), 'sum') <= 2.75
)
SELECT id_a, id_b, cosine FROM (
  SELECT id_a, id_b,
         round(list_aggregate(
           list_transform(range(1, len(ua) + 1), i -> ua[i] * ub[i]),
           'sum'), 6) AS cosine
  FROM cand
) WHERE cosine >= 0.45
""",
)
def dedup_embedding_pairs_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with the Johnson–Lindenstrauss
    pre-filter (operators/dedup.embedding_neardup_pairs_jl): the
    block-pair score matrices run at 16-d instead of 64-d (4× the
    FLOPs saved on the quadratic stage), survivors exact-verified at
    full dimension. Because the Rademacher matrix is a pure integer
    function, the ORACLE replays the whole pipeline — projection,
    distance filter (slack 2.5 → bound 2.75 on squared distance),
    exact verification — so this is a FULL-VALUE check of an
    approximate algorithm's exact output, not a recall bound. (At
    slack 2.5 the filter keeps all 14 exact pairs on the fixture.)"""
    return dedup.embedding_neardup_pairs_jl(
        load(spark, sf_dir, "embeddings"),
        threshold=0.45,
        out_dim=16,
        slack=2.5,
    )


_CASCADE_ORACLE = r"""
WITH RECURSIVE fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
  FROM documents
),
ex AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fingerprint),
toks AS (
  SELECT d.doc_id,
         list_filter(regexp_split_to_array(lower(d.text), '[^a-z0-9]+'), x -> x <> '') AS arr
  FROM documents d JOIN ex USING (doc_id)
),
sh AS (
  SELECT DISTINCT doc_id AS id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
  FROM toks, unnest(range(1, greatest(len(arr)-1, 1))) AS t(i)
  WHERE len(arr) >= 3
),
seeds AS (SELECT range AS seed FROM range(0, 16)),
mh AS (
  SELECT id, seed, min(md5(seed::VARCHAR || ':' || shingle)) AS mh
  FROM sh, seeds GROUP BY id, seed
),
sig AS (SELECT id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY id),
bands AS (
  SELECT id, b,
         md5(sig[b*4+1] || '|' || sig[b*4+2] || '|' || sig[b*4+3] || '|' || sig[b*4+4]) AS bk
  FROM sig, (SELECT range AS b FROM range(0, 4)) bs
),
cand AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b
  FROM bands a JOIN bands c ON a.b = c.b AND a.bk = c.bk AND a.id < c.id
),
lshp AS (
  SELECT cand.id_a, cand.id_b
  FROM cand JOIN sig sa ON sa.id = cand.id_a JOIN sig sb ON sb.id = cand.id_b
  WHERE len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) / 16.0 >= 0.25
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM lshp
  UNION
  SELECT id_b AS a, id_a AS b FROM lshp
),
reach AS (
  SELECT a AS id, a AS r FROM edges
  UNION
  SELECT e.a AS id, reach.r AS r FROM edges e JOIN reach ON e.b = reach.id
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
dropped AS (SELECT id FROM comp WHERE id <> component)
SELECT (SELECT count(*) FROM documents) AS n_input,
       (SELECT count(*) FROM ex) AS n_after_exact,
       (SELECT count(*) FROM lshp) AS n_neardup_pairs,
       (SELECT count(*) FROM ex) - (SELECT count(*) FROM dropped) AS n_after_neardup
"""


@register("corpus_dedup_cascade", _CASCADE_ORACLE)
def corpus_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup CASCADE as one DAG: exact dedup (cheap,
    kills byte-copies) → MinHash-LSH near-dup over the exact
    survivors only (the expensive signal never sees rows the cheap
    one already killed) → connected components → min-id survivor per
    duplicate group; reported as stage-by-stage corpus counts.

    This ordering is the cost model every corpus build uses: each
    stage shrinks the input of the next, and the banded LSH join is
    the only quadratic-risk step — already restricted to survivors
    and keyed on band buckets. Every stage is individually
    oracle-verified elsewhere (`dedup_exact`,
    `dedup_minhash_lsh_pairs`, `dedup_duplicate_groups`); this query
    pins the COMPOSITION, counts flowing end to end."""
    docs = load(spark, sf_dir, "documents")
    ex = dedup.exact_dedup(docs)
    docs2 = docs.join(ex.select("doc_id"), "doc_id")
    pairs = dedup.minhash_lsh_pairs(docs2, n_hashes=16, bands=4, min_est=0.25)
    comps = dedup.connected_components(pairs)
    dropped = comps.filter(F.col("id") != F.col("component"))
    a = docs.agg(F.count("*").alias("n_input"))
    b = ex.agg(F.count("*").alias("n_after_exact"))
    c = pairs.agg(F.count("*").alias("n_neardup_pairs"))
    d = dropped.agg(F.count("*").alias("__n_dropped"))
    return (
        a.crossJoin(b)
        .crossJoin(c)
        .crossJoin(d)
        .select(
            "n_input",
            "n_after_exact",
            "n_neardup_pairs",
            (F.col("n_after_exact") - F.col("__n_dropped")).alias("n_after_neardup"),
        )
    )


# ------------------------------------------------------------------ 512-d

_D512 = 512
_D512_OUT = 16
_D512_SLACK = 2.5
_D512_THRESHOLD = 0.45


def _d512_weight(hex_char: str) -> float:
    """First md5 hex char -> coordinate weight in {0.5, 1.0, 1.5,
    2.0}: same 4-way split both engines compute from substr(md5, 1, 1)."""
    if hex_char in "0123":
        return 0.5
    if hex_char in "4567":
        return 1.0
    if hex_char in "89ab":
        return 1.5
    return 2.0


def _d512_weights() -> list[float]:
    import hashlib

    return [
        _d512_weight(hashlib.md5(f"d512:{k}".encode()).hexdigest()[0])
        for k in range(_D512)
    ]


def _expand_512(emb: DataFrame) -> DataFrame:
    """Deterministic 512-d embedding derived from the 64-d fixture:
    coordinate k = embedding[k mod 64] × w(k) with md5-derived weights
    — the per-coordinate weights vary with k, so the 512-d cosine
    geometry genuinely differs from the 64-d one (weighted inner
    product with non-uniform per-dimension mass), while staying a pure
    integer function both engines replay (the JL sign-matrix
    convention, cf. functions.vector.random_projection)."""
    w = _d512_weights()
    arr = F.array(
        *[
            (
                F.element_at(F.col("embedding"), k % 64 + 1).cast("double")
                * F.lit(w[k])
            )
            for k in range(_D512)
        ]
    )
    return emb.select("vec_id", arr.alias("embedding"))


_JL512_ORACLE = f"""
WITH wl AS (
  SELECT list(CASE WHEN substr(md5('d512:' || j), 1, 1) IN ('0','1','2','3') THEN 0.5
                   WHEN substr(md5('d512:' || j), 1, 1) IN ('4','5','6','7') THEN 1.0
                   WHEN substr(md5('d512:' || j), 1, 1) IN ('8','9','a','b') THEN 1.5
                   ELSE 2.0 END ORDER BY j) AS w
  FROM (SELECT unnest(range(0, {_D512})) AS j)
),
e512 AS (
  SELECT vec_id,
         list_transform(range(1, {_D512} + 1),
           k -> (embedding::DOUBLE[])[(k - 1) % 64 + 1] * wl.w[k]) AS v
  FROM embeddings, wl
),
nn AS (
  SELECT vec_id, v,
         sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm
  FROM e512
),
nv AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM nn WHERE nrm > 0),
proj AS (
  SELECT vec_id, u,
         list_transform(range(0, {_D512_OUT}), j ->
           list_aggregate(
             list_transform(range(1, len(u) + 1),
               i -> u[i] * (CASE WHEN substr(md5('7919:' || CAST(i - 1 AS VARCHAR)
                                             || ':' || CAST(j AS VARCHAR)), 1, 1)
                               IN ('0','1','2','3','4','5','6','7')
                          THEN 1.0 ELSE -1.0 END)),
             'sum') / sqrt({_D512_OUT}.0)) AS p
  FROM nv
),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.u AS ua, b.u AS ub
  FROM proj a JOIN proj b ON a.vec_id < b.vec_id
  WHERE list_aggregate(
          list_transform(range(1, {_D512_OUT} + 1),
            i -> (a.p[i] - b.p[i]) * (a.p[i] - b.p[i])), 'sum')
        <= {_D512_SLACK} * 2.0 * (1.0 - {_D512_THRESHOLD})
)
SELECT id_a, id_b, cosine FROM (
  SELECT id_a, id_b,
         round(list_aggregate(
           list_transform(range(1, len(ua) + 1), i -> ua[i] * ub[i]),
           'sum'), 6) AS cosine
  FROM cand
) WHERE cosine >= {_D512_THRESHOLD}
"""


@register("dedup_embedding_pairs_jl_512", _JL512_ORACLE)
def dedup_embedding_pairs_jl_512(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JL-prefiltered near-dup pipeline at the REAL embedding-model
    dimension class (r5/r6 verdict: reference models run 384–3072 dims,
    `app/core/embeddings.py:33-39`; SCALE.md's 512-d findings were
    probes outside the oracle harness until this query): the fixture's
    64-d vectors are expanded to a deterministic 512-d frame
    (md5-weighted tiling — genuinely different cosine geometry, see
    ``_expand_512``), then the SAME operator as
    ``dedup_embedding_pairs_jl`` runs: project 512→16 through the
    md5-Rademacher matrix (32× the FLOPs saved on the quadratic
    stage), distance-filter, exact-verify survivors at full 512-d.
    FULL-VALUE oracle — DuckDB replays expansion, projection, filter
    and verification end to end."""
    emb = load(spark, sf_dir, "embeddings")
    return dedup.embedding_neardup_pairs_jl(
        _expand_512(emb),
        threshold=_D512_THRESHOLD,
        out_dim=_D512_OUT,
        slack=_D512_SLACK,
    )
