"""Deterministic stratified sampling — the corpus-mixing stage of a
training-data pipeline (keep X% of stratum A, Y% of B, ...).

Spark's ``sampleBy`` is seeded-random; a 100 TB curation run wants the
keep/drop decision to be a PURE FUNCTION of the row key so that
re-runs, partial backfills, and the DuckDB oracle all agree row for
row. The keep rule is modular arithmetic on the key:
``key % den < num`` keeps num/den of the stratum — a plain filter
(no shuffle, no window, pushes down to the scan when the key is a
stored column).

On dense integer keys (the fixtures) the mod is used directly; for
arbitrary / clustered keys pass ``hashed=True`` to mod over
``xxhash64(key)`` instead (uniform, still deterministic — but not
SQL-oracle-mirrorable, so the oracle queries use the raw-key form).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def stratified_mod_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    rates: dict[str, tuple[int, int]],
    default: tuple[int, int] = (1, 1),
    hashed: bool = False,
) -> DataFrame:
    """Keep ``num/den`` of each stratum (``rates[stratum] = (num,
    den)``); strata not listed use ``default``. Decision =
    ``key % den < num`` per stratum."""
    for num, den in list(rates.values()) + [default]:
        if den <= 0 or num < 0 or num > den:
            raise ValueError(f"invalid rate {num}/{den}")
    key: Column = F.col(key_col).cast("long")
    if hashed:
        key = F.xxhash64(F.col(key_col))
    listed: Column | None = None  # rows whose stratum has an explicit rate
    kept: Column | None = None  # rows kept by an explicit rate
    for stratum, (num, den) in rates.items():
        in_stratum = F.col(strata_col) == stratum
        this = in_stratum & (F.pmod(key, F.lit(den)) < num)
        listed = in_stratum if listed is None else listed | in_stratum
        kept = this if kept is None else kept | this
    dnum, dden = default
    default_keep = F.pmod(key, F.lit(dden)) < dnum
    if listed is None:
        return df.filter(default_keep)
    return df.filter(kept | (~listed & default_keep))


# Knuth multiplicative constant: key -> deterministic uniform in (0,1).
# Pure integer arithmetic so the DuckDB oracle reproduces it digit for
# digit (xxhash64 would be better-mixed but is Spark-only). +0.5 keeps
# u strictly inside (0,1) so pow/ln are well-defined.
_KNUTH = 2654435761


def key_uniform(key_col: str) -> Column:
    """Deterministic pseudo-uniform in (0,1) from an integer key —
    ``((key * 2654435761) % 2^32 + 0.5) / 2^32``. A pure function of
    the key: re-runs, backfills, and the SQL oracle agree row for row
    (same property as stratified_mod_sample, better spread).

    The product is computed in 16-bit halves so no intermediate ever
    leaves signed-long range: a bare ``key * 2654435761`` overflows for
    ``|key| > ~3.4e9``, which under Spark 4's default ANSI mode raises
    ARITHMETIC_OVERFLOW at runtime instead of wrapping. Reducing the
    key mod 2^32 first is not enough (the product can still reach
    ~2^64); the split keeps every term below 2^48. DuckDB evaluates
    the textbook form in hugeint, so the oracle needs no mirroring —
    both sides compute the same ``(key * K) mod 2^32``.
    """
    k = F.pmod(F.col(key_col).cast("long"), F.lit(4294967296))  # < 2^32
    hi = F.floor(k / F.lit(65536))  # < 2^16 (exact: k/65536 < 2^16 in double)
    lo = k - hi * F.lit(65536)  # < 2^16
    # (hi*2^16*K + lo*K) mod 2^32; (x*2^16) mod 2^32 = (x mod 2^16)*2^16
    term_hi = F.pmod(hi * F.lit(_KNUTH), F.lit(65536)) * F.lit(65536)
    term_lo = F.pmod(lo * F.lit(_KNUTH), F.lit(4294967296))
    mixed = F.pmod(term_hi + term_lo, F.lit(4294967296))
    return (mixed + F.lit(0.5)) / F.lit(4294967296.0)


def weighted_priority_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    strata_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-ES): each row gets priority ``u^(1/w)``
    with ``u = key_uniform(key)`` and ``w`` its positive weight; the
    ``k`` highest priorities form an exact weighted-without-replacement
    sample — and because ``u`` is a pure function of the key, the same
    rows win on every run, partial re-run, or engine.

    Scale shape: per-stratum (``strata_col``) the ranking is a
    ``row_number`` window — WindowGroupLimit keeps only k rows per
    stratum per map task before the shuffle; global (``strata_col
    =None``) ranking sorts only the k survivors of a distributed
    ``orderBy(...).limit(k)`` (TakeOrderedAndProject — no global sort
    materializes). Adds ``priority`` and ``rank`` columns.

    Weights must be > 0; rows with NULL or non-positive weight are
    excluded (they have zero inclusion probability in A-ES).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    w = F.col(weight_col).cast("double")
    pri = F.pow(key_uniform(key_col), F.lit(1.0) / w).alias("priority")
    base = df.filter(w.isNotNull() & (w > 0)).select("*", pri)
    order = [F.col("priority").desc(), F.col(key_col).asc()]
    if strata_col is not None:
        win = Window.partitionBy(strata_col).orderBy(*order)
        return (
            base.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
        )
    top = base.orderBy(*order).limit(k)
    # rank the k survivors only — a k-row window, not a global sort
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order))
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    bounds: tuple[float, float] = (0.8, 0.9),
) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates
    across splits: the split is a deterministic pure function of the
    document's DUPLICATE GROUP, not of the document — so a test
    example can never have a near-copy in train (the classic
    contamination bug a per-doc random split commits whenever dedup
    is imperfect; splitting by group is the standard fix).

    ``pairs`` is any near-dup pair set (id_a, id_b) — MinHash-LSH,
    SimHash, embedding — or a union of them; groups are its connected
    components (large-star/small-star, ``operators.dedup``), singleton
    docs form their own group. The group key feeds the same Knuth multiplicative
    uniform as ``weighted_priority_sample`` (pure integer function →
    re-run/backfill stable and SQL-oracle-mirrorable), cut at
    ``bounds`` into train/val/test.

    Scale shape: components are iterative joins over the PAIRS (tiny
    next to the corpus); the assignment itself is one broadcast-sized
    left join + a pure-function filter — no shuffle of the corpus.
    Adds ``group_id`` and ``split``.
    """
    lo, hi = bounds
    if not 0.0 < lo < hi < 1.0:
        raise ValueError(f"bounds must satisfy 0 < lo < hi < 1, got {bounds}")
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
        connected_components,
    )

    comps = connected_components(pairs).select(
        F.col("id").alias(id_col), F.col("component")
    )
    withg = df.join(comps, id_col, "left").withColumn(
        "group_id", F.coalesce("component", F.col(id_col).cast("long"))
    ).drop("component")
    u = key_uniform("group_id")
    return withg.withColumn(
        "split",
        F.when(u < lo, "train").when(u < hi, "val").otherwise("test"),
    )


def temperature_mixture_sample(
    df: DataFrame,
    strata_col: str = "lang",
    key_col: str = "doc_id",
    alpha: float = 0.3,
    total: int = 100,
    redistribute: bool = False,
) -> DataFrame:
    """Temperature-scaled mixture sampling — the multilingual-LM
    data-mixing rule (XLM-R / mBERT / Llama practice): stratum ``l``
    with corpus share ``p_l`` is sampled with probability
    ``q_l ∝ p_l^alpha`` (``alpha < 1`` up-weights low-resource strata,
    ``alpha = 1`` is natural sampling), realized as exact per-stratum
    TARGET COUNTS via largest-remainder apportionment of ``total``
    (deterministic ties: remainder desc, stratum asc; targets cap at
    the stratum's size) and a deterministic within-stratum pick (the
    ``key_uniform`` pseudo-random order — pure function of the key, so
    re-runs, backfills and the SQL oracle choose identical rows).

    Shortfall contract: with ``redistribute=False`` (default) the
    size cap is applied AFTER apportionment without reallocating, so
    when any stratum is exhausted the result totals FEWER than
    ``total`` rows — the natural-mixture reading ("an exhausted
    stratum simply contributes everything it has"). Pass
    ``redistribute=True`` to fill the post-cap deficit from the
    remaining capacity of the other strata, greedily in temperature-
    share order (``q`` desc, stratum asc; one cumulative-sum window
    over the |strata| frame): the result then totals exactly
    ``min(total, count(df))``, still fully deterministic.

    Scale shape: one count aggregate; every apportionment window runs
    over the |strata|-sized dimension frame, never the corpus; the
    per-stratum pick is the WindowGroupLimit top-k shape. Output:
    (strata_col, rank, key_col)."""
    from pyspark.sql import Window

    if total <= 0:
        raise ValueError(f"total must be positive, got {total}")
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    c = df.groupBy(strata_col).agg(F.count("*").alias("__c"))
    wall = Window.partitionBy()
    raw = (
        c.withColumn("__s", F.pow(F.col("__c"), F.lit(float(alpha))))
        .withColumn("__q", F.col("__s") / F.sum("__s").over(wall))
        .withColumn("__raw", F.lit(int(total)) * F.col("__q"))
        .withColumn("__base", F.floor("__raw"))
        .withColumn("__frac", F.col("__raw") - F.col("__base"))
    )
    worder = Window.orderBy(F.col("__frac").desc(), F.col(strata_col).asc())
    targets = (
        raw.withColumn("__left", F.lit(int(total)) - F.sum("__base").over(wall))
        .withColumn("__fr", F.row_number().over(worder))
        .withColumn(
            "__target",
            F.least(
                F.col("__base") + (F.col("__fr") <= F.col("__left")).cast("long"),
                F.col("__c"),
            ),
        )
    )
    if redistribute:
        # fill the post-cap deficit from the other strata's remaining
        # capacity, greedily in temperature-share order: one running
        # capacity sum over the |strata| frame — exactly min(total, N)
        # rows come out, fully deterministic
        gorder = Window.orderBy(F.col("__q").desc(), F.col(strata_col).asc())
        before = gorder.rowsBetween(Window.unboundedPreceding, -1)
        targets = (
            targets.withColumn(
                "__deficit", F.lit(int(total)) - F.sum("__target").over(wall)
            )
            .withColumn("__cap", F.col("__c") - F.col("__target"))
            .withColumn(
                "__taken", F.coalesce(F.sum("__cap").over(before), F.lit(0))
            )
            .withColumn(
                "__target",
                F.col("__target")
                + F.greatest(
                    F.lit(0),
                    F.least(F.col("__cap"), F.col("__deficit") - F.col("__taken")),
                ),
            )
        )
    targets = targets.select(strata_col, "__target")
    pick = Window.partitionBy(strata_col).orderBy(
        key_uniform(key_col).desc(), F.col(key_col).asc()
    )
    return (
        df.join(F.broadcast(targets), strata_col)
        .withColumn("rank", F.row_number().over(pick))
        .filter(F.col("rank") <= F.col("__target"))
        .select(strata_col, "rank", key_col)
    )
