"""Vector similarity metrics as pure SQL higher-order-function Columns.

Reference semantics: Pinecone index metrics ``cosine`` (default),
``euclidean``, ``dotproduct`` — accepted at index creation
(``/root/reference/app/services/pinecone_service.py:33-39``), cosine
chosen by all callers (``app/api/routes.py:139,152``,
``scripts/ingest_documents.py:198-201``).

Everything here stays inside Catalyst whole-stage codegen — no Python
UDFs on the scoring hot path. Inputs are cast to ``array<double>`` so
the fold accumulates in float64 (matches the DuckDB oracle's
``list_cosine_similarity`` / ``list_inner_product`` / ``list_distance``
to well past 6 decimals on float32 inputs).

At 100 TB scale these expressions are the per-row kernel of the
broadcast top-k scan (operators.topk): one pass over the index, no
shuffle, vectorized Parquet read underneath.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

METRICS = ("cosine", "euclidean", "dotproduct")


def _d(col: Column | str) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return col.cast("array<double>")


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Inner product via zip_with + aggregate (left fold, deterministic order)."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(_d(a), F.lit(0.0), lambda s, x: s + x * x)
    )


def cosine_from(dot: Column, a_norm: Column, b_norm: Column) -> Column:
    """The one null-safe cosine: ``dot / (a_norm·b_norm)``, NULL when
    either norm is zero. Callers that pre-project a norm pass its
    column, so each side folds once per row."""
    denom = a_norm * b_norm
    return F.when(denom != 0.0, dot / denom)


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cos(a,b) = <a,b> / (|a||b|); null-safe on zero norms (returns NULL)."""
    return cosine_from(dot_product(a, b), l2_norm(a), l2_norm(b))


def euclidean_distance(a: Column | str, b: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(_d(a), _d(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, x: s + x,
        )
    )


def normalize(a: Column | str) -> Column:
    """Unit-normalize a vector column (array<double> out); NULL for zero vectors."""
    norm = l2_norm(a)
    return F.when(norm != 0.0, F.transform(_d(a), lambda x: x / norm))


def similarity_expr(metric: str, a: Column | str, b: Column | str) -> Column:
    """Score column for a metric name, reference-compatible.

    For ``euclidean`` the natural ordering is ascending (smaller =
    closer); ``topk`` handles the sort direction — this just returns
    the raw metric value.
    """
    check_metric(metric)
    if metric == "cosine":
        return cosine_similarity(a, b)
    if metric == "dotproduct":
        return dot_product(a, b)
    return euclidean_distance(a, b)


def smaller_is_better(metric: str) -> bool:
    """The one metric-order rule: euclidean is a distance (ascending);
    cosine and dotproduct are similarities (descending)."""
    return metric == "euclidean"


def check_metric(metric: str) -> None:
    """Raise on a metric name outside :data:`METRICS` — every kernel
    branches on the name, so a typo would otherwise rank by the wrong
    order in silence (``"l2"`` sorted farthest-first)."""
    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")


def quantization_scale(a: Column | str) -> Column:
    """Symmetric per-vector int8 scale: max|x| / 127. Zero for the
    all-zero vector (its quantized form is all zeros by convention)."""
    return F.array_max(F.transform(_d(a), F.abs)) / F.lit(127.0)


def quantize_int8(a: Column | str, scale: Column) -> Column:
    """array<double> → array<tinyint> under a precomputed ``scale``
    column. Pass the scale as a PROJECTED column, not an inline
    expression — higher-order functions are not common-subexpression
    eliminated, so an inline array_max would re-fold the whole vector
    per element (O(d²)). Rounding is HALF_UP away from zero on both
    Spark and DuckDB, so the oracle matches exactly."""
    return F.when(
        scale > 0.0,
        F.transform(_d(a), lambda x: F.round(x / scale).cast("tinyint")),
    ).otherwise(F.transform(_d(a), lambda x: F.lit(0).cast("tinyint")))


def dequantize_int8(q: Column | str, scale: Column) -> Column:
    """Approximate reconstruction: q * scale (array<double>). Error is
    bounded by scale/2 per coordinate (≤ max|x|/254)."""
    qc = F.col(q) if isinstance(q, str) else q
    return F.transform(qc, lambda x: x.cast("double") * scale)


def hash_embed(text: Column | str, dim: int = 64, seed: int = 42) -> Column:
    """``embed.providers.HashEmbedder`` as a pure Catalyst expression
    (array<double>): vector[j] = centered uniform from md5 bytes of
    ``f"{seed}:{j//4}:{text}"``, L2-normalized with a sequential fold.

    Bit-identical with the Python provider AND with the DuckDB
    mirror (``'0x'||substr(md5(...),..)::UBIGINT`` — see
    ``rag_chat_e2e``'s oracle), so a query that embeds *derived* text
    (e.g. a history-rewritten question) stays fully hash-checkable.
    JVM-side and shuffle-free — on the real provider path this seam is
    replaced by ``embed_text_column``'s Arrow kernel; this expression
    exists so e2e pipelines have a deterministic, engine-reproducible
    stand-in that never leaves codegen."""
    t = F.col(text) if isinstance(text, str) else text
    idx = F.sequence(F.lit(0), F.lit(dim - 1))

    def word(j: Column) -> Column:
        block = F.shiftright(j, 2)  # j // 4
        h = F.md5(
            F.concat(F.lit(f"{seed}:"), block.cast("string"), F.lit(":"), t)
        )
        # bytes 4k..4k+4 of the digest == hex chars 8k+1..8k+8
        hexpart = h.substr(F.pmod(j, F.lit(4)) * 8 + 1, F.lit(8))
        return F.conv(hexpart, 16, 10).cast("double") / 4294967295.0 - 0.5

    raw = F.transform(idx, word)
    n = F.sqrt(F.aggregate(raw, F.lit(0.0), lambda s, x: s + x * x))
    fallback = F.transform(idx, lambda _: F.lit(1.0) / F.sqrt(F.lit(float(dim))))
    return F.when(n == 0.0, fallback).otherwise(
        F.transform(raw, lambda x: x / n)
    )


def dim_check(a: Column | str, dim: int) -> Column:
    """Dimension invariant (reference enforces via index dimension,
    mismatch handling ``scripts/ingest_documents.py:176-195``)."""
    return F.size(_d(a)) == F.lit(dim)


def random_projection(
    a: Column | str, out_dim: int, seed: int = 7919, in_dim: int | None = None
) -> Column:
    """Johnson–Lindenstrauss random projection to ``out_dim`` dims with
    a DETERMINISTIC Rademacher (±1) matrix: ``proj[j] = Σ_i v[i] ·
    s(i,j) / √out_dim`` where ``s(i,j) = ±1`` from the top bit of
    ``md5(f"{seed}:{i}:{j}")`` — a pure function of (i, j), so
    re-runs, backfills, and the SQL oracle reproduce the matrix
    exactly (no RNG state, nothing to persist or broadcast). md5
    because the entries must be INDEPENDENT: a multiplicative-hash
    parity class here leaves ±0.9 correlations between output columns
    (measured), which collapses the effective dimension and inflates
    the variance of every distance estimate ~50×; md5's measured
    column correlation matches a true random matrix (~√(1/d)).

    This is the distance-preserving cheap pre-filter of the embedding
    stack: at 100 TB, scoring candidate pairs on an 8-d projection
    before the full-d kernel cuts the dominant cost ~d/out_dim×, and
    ±1 entries make each output dim one fused add/sub pass (Achlioptas
    2001 — database-friendly random projections). Stays entirely in
    whole-stage codegen: sequence + zip_with + aggregate, no UDF.
    The fold over i is sequential (left fold), matching DuckDB's
    list_aggregate sum order for cross-engine bit agreement at 6 dp.
    """
    if out_dim <= 0:
        raise ValueError(f"out_dim must be positive, got {out_dim}")
    v = _d(a)
    inv = 1.0 / float(out_dim) ** 0.5

    if in_dim is not None:
        # fast path: the input dimension is known, so the whole sign
        # matrix folds to a LITERAL nested array built driver-side —
        # element_at lookups instead of in_dim·out_dim md5 calls per
        # ROW (the md5 sits inside HOF lambdas, so Catalyst cannot
        # constant-fold it away on its own)
        import hashlib

        mat = [
            [
                1.0
                if hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[0]
                in "01234567"
                else -1.0
                for j in range(out_dim)
            ]
            for i in range(in_dim)
        ]
        signs_lit = F.array(
            *[F.array(*[F.lit(x) for x in row]) for row in mat]
        )

        def sign(i: Column, j: Column) -> Column:
            return F.element_at(
                F.element_at(signs_lit, (i + 1).cast("int")),
                (j + 1).cast("int"),
            )

        def one_dim_lit(j: Column) -> Column:
            pairs = F.zip_with(
                v,
                F.sequence(F.lit(0), F.size(v) - 1).cast("array<long>"),
                lambda x, i: x * sign(i, j),
            )
            return F.aggregate(pairs, F.lit(0.0), lambda s, x: s + x) * F.lit(inv)

        proj = F.transform(
            F.sequence(F.lit(0), F.lit(out_dim - 1)).cast("array<long>"),
            one_dim_lit,
        )
        # a vector LONGER than in_dim would index past the literal sign
        # matrix — fail with a message instead of an opaque ANSI
        # element_at error (or a silent NULL with ANSI off)
        return F.when(F.size(v) <= F.lit(in_dim), proj).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("random_projection: vector length "),
                    F.size(v).cast("string"),
                    F.lit(f" exceeds in_dim={in_dim}"),
                )
            )
        )

    def sign(i: Column, j: Column) -> Column:
        h = F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(str(seed)),
                    i.cast("string"),
                    j.cast("string"),
                )
            ),
            1,
            1,
        )
        return F.when(
            h.isin("0", "1", "2", "3", "4", "5", "6", "7"), F.lit(1.0)
        ).otherwise(F.lit(-1.0))

    def one_dim(j: Column) -> Column:
        pairs = F.zip_with(
            v,
            F.sequence(F.lit(0), F.size(v) - 1).cast("array<long>"),
            lambda x, i: x * sign(i, j),
        )
        return F.aggregate(pairs, F.lit(0.0), lambda s, x: s + x) * F.lit(inv)

    return F.transform(
        F.sequence(F.lit(0), F.lit(out_dim - 1)).cast("array<long>"), one_dim
    )
