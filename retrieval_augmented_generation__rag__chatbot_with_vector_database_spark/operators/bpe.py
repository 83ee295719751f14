"""Full merge-table byte-pair encoding (BPE) as DataFrame jobs — the
real-token accounting stage of a training-data pipeline. The reference
budgets chunks by ``len`` (characters) and delegates true tokenization
to its embedding provider (`scripts/ingest_documents.py:67-90` sets the
chunk budget; `app/core/embeddings.py:33-39` maps model -> dimension);
this module carries that budget contract to actual BPE tokens so
packing/chunking can be sized in the units the trainer consumes
(extends ``functions.text.bpe_token_count``, which is only the
pre-tokenizer match-count ESTIMATOR).

Algorithm (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units" — the published BPE):

- TRAIN: pre-tokenize the corpus (GPT-2-style regex), count pretoken
  frequencies, then repeatedly merge the most-frequent adjacent symbol
  pair (ties: count desc, then (left, right) lexicographic asc) until
  ``num_merges`` rules exist or no pair reaches ``min_pair_freq``.
- ENCODE: split a pretoken to characters, then apply the merge rules
  in rank order, each left-to-right non-overlapping.

Scale shape (the 100 TB design):

- Training's distributed part is ONE vocabulary-bounded hash aggregate
  (pretoken -> freq; Heaps' law keeps distinct pretokens ~1e6-1e7 even
  at 100 TB). The table is capped deterministically at ``vocab_cap``
  by (freq desc, token asc) and collected; the merge loop then runs on
  the driver over that bounded table — the same architecture as
  production BPE trainers (corpus-scale counting, word-type-scale
  merging). Nothing corpus-sized ever reaches the driver.
- Encoding is pure Catalyst: merge rules become literal expressions, a
  single ``aggregate`` (fold) HOF applies all of them JVM-side, and
  the fold runs once per DISTINCT pretoken (a dimension frame), which
  is then broadcast-joined back to the pretoken stream. No Python on
  the hot path, no shuffle of document text beyond the distinct-token
  aggregate.

Symbol-list representation: a word is the delimited string
``"|sym||sym||sym|"`` (symbols never contain ``|``; guarded). Merging
pair (l, r) is then ``replace(word, '|l||r|', '|lr|')`` — string
``replace`` is left-to-right non-overlapping in Python, Java/Spark and
DuckDB alike, which is exactly BPE's leftmost-first merge order, and it
gives all three engines an identical one-expression merge step. The
doubled separator makes each occurrence self-delimiting, so replace's
resume-after-replacement scanning still sees the next occurrence's
full pattern (single separators would break on runs like ``a a a``).

Token ids: base alphabet = the corpus' distinct characters in sorted
order (ids 0..B-1); merge #r mints id B+r for its concatenated symbol.
If two merge paths produce the same symbol string, the smallest id
wins (deterministic on both engines); unknown symbols encode as -1.

Reserved-delimiter policy (pretokens containing ``|`` or ``\\x01`` —
markdown tables, code, control chars; near-certain on real corpora):
TRAINING drops them from the vocabulary (counted, logged — never a
job-killing raise by default, that would be denial-of-training), so no
merge rule ever contains a delimiter; ENCODING routes them to a
character-level fallback (the fold's delimited-string representation
cannot carry them), preserving the round-trip invariant
``concat(syms) == tok``. This mirrors byte/char-fallback in production
tokenizers: rare inputs outside the trained vocabulary still encode,
just without merges.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.text import (
    BPE_ISH_PATTERN,
)

#: separates left\x01right inside a serialized merge rule
MERGE_SEP = "\x01"
#: symbol-list delimiter — must never occur inside a symbol
SYM_DELIM = "|"


class Merge(NamedTuple):
    rank: int
    left: str
    right: str
    merged: str
    pair_freq: int


def _apply_merge(
    syms: list[str], left: str, right: str, merged: str
) -> list[str]:
    """Leftmost-first non-overlapping merge of (left, right) in a
    symbol list — identical semantics to ``replace`` on the delimited
    word string (scan resumes AFTER each replacement), which is what
    the Catalyst/DuckDB encode fold runs."""
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def split_reserved_pretokens(
    vocab: list[tuple[str, int]],
) -> tuple[list[tuple[str, int]], list[tuple[str, int]]]:
    """(clean, dropped): partition a (pretoken, freq) table on the
    reserved-delimiter predicate. Exposed so callers can audit exactly
    which word types training excluded."""
    clean, dropped = [], []
    for tok, f in vocab:
        (dropped if SYM_DELIM in tok or MERGE_SEP in tok else clean).append(
            (tok, f)
        )
    return clean, dropped


def train_bpe_local(
    vocab: list[tuple[str, int]],
    num_merges: int = 64,
    min_pair_freq: int = 2,
    on_reserved: str = "drop",
) -> list[Merge]:
    """The driver-side merge loop over a bounded (pretoken, freq)
    table — separated from :func:`train_bpe` so tests can oracle it on
    hand-counted corpora. Pure function of its inputs.

    Pretokens containing a reserved delimiter are DROPPED from the
    vocabulary with a logged count (``on_reserved="drop"``, default —
    see the module docstring's fallback policy) or rejected loudly
    (``on_reserved="raise"``, for callers that need the job to stop on
    unexpected input).

    The merge loop maintains pair counts INCREMENTALLY (Sennrich's
    optimization): after a merge, only the word types that contained
    the merged pair are re-counted, and the best pair comes from a
    lazy-invalidation max-heap instead of a full recount+scan. The
    naive loop is O(merges × corpus word-type symbols) — hours of
    driver Python at production 32k–50k merges; this is
    O(initial symbols + merges×log H + touched-word updates), which
    SCALE.md times at 4k merges (its BPE trainer section). Output is
    identical to the naive recount by construction: counts are exact
    at every step and the heap orders by the same
    (count desc, left asc, right asc) key."""
    import heapq

    if on_reserved not in ("drop", "raise"):
        raise ValueError(
            f"on_reserved must be 'drop' or 'raise', got {on_reserved!r}"
        )
    vocab, dropped = split_reserved_pretokens(vocab)
    if dropped:
        if on_reserved == "raise":
            raise ValueError(
                f"pretoken contains a reserved delimiter: {dropped[0][0]!r} "
                f"({len(dropped)} such word types)"
            )
        import logging

        logging.getLogger(__name__).info(
            "train_bpe: dropped %d reserved-delimiter word types "
            "(mass %d); they encode via the character fallback",
            len(dropped),
            sum(f for _, f in dropped),
        )
    words: list[tuple[list[str], int]] = [
        (list(tok), int(f)) for tok, f in vocab
    ]
    counts: dict[tuple[str, str], int] = {}
    occ: dict[tuple[str, str], set[int]] = {}
    for idx, (syms, f) in enumerate(words):
        for pair in zip(syms, syms[1:]):
            counts[pair] = counts.get(pair, 0) + f
            occ.setdefault(pair, set()).add(idx)
    # heap entries are (-count, left, right): pop order == the naive
    # scan's min key (count desc, then (l, r) lexicographic asc);
    # stale entries (count changed since push) are discarded at pop
    heap = [(-c, p[0], p[1]) for p, c in counts.items()]
    heapq.heapify(heap)
    merges: list[Merge] = []
    while len(merges) < num_merges:
        freq = left = right = None
        while heap:
            negc, l, r = heapq.heappop(heap)
            if counts.get((l, r)) == -negc:
                freq, left, right = -negc, l, r
                break
        if freq is None or freq < min_pair_freq:
            break
        pair = (left, right)
        merged = left + right
        for idx in occ.pop(pair, ()):  # only words CONTAINING the pair
            syms, f = words[idx]
            for p in zip(syms, syms[1:]):
                counts[p] -= f
                if counts[p] <= 0:
                    del counts[p]
                else:
                    # push the decreased value too — a pair is only
                    # pickable while SOME heap entry matches its live
                    # count, and decrements must stay pickable
                    heapq.heappush(heap, (-counts[p], p[0], p[1]))
                s = occ.get(p)
                if s is not None:
                    s.discard(idx)
                    if not s:
                        del occ[p]
            new_syms = _apply_merge(syms, left, right, merged)
            words[idx] = (new_syms, f)
            for p in zip(new_syms, new_syms[1:]):
                c = counts.get(p, 0) + f
                counts[p] = c
                occ.setdefault(p, set()).add(idx)
                heapq.heappush(heap, (-c, p[0], p[1]))
        merges.append(Merge(len(merges), left, right, merged, freq))
    return merges


def pretoken_counts(
    df: DataFrame, text_col: str = "text", pattern: str = BPE_ISH_PATTERN
) -> DataFrame:
    """(tok, f): pretoken frequencies — the single corpus-scale
    aggregate of training. Map-side partial combine applies; shuffle
    volume is distinct-pretoken-bounded."""
    return (
        df.select(
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0))
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("f"))
    )


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 64,
    min_pair_freq: int = 2,
    vocab_cap: int = 65536,
    pattern: str = BPE_ISH_PATTERN,
) -> list[Merge]:
    """Distributed count -> deterministic ``vocab_cap`` head (freq
    desc, token asc) -> driver merge loop. The collect is bounded by
    ``vocab_cap`` rows regardless of corpus size. Reserved-delimiter
    pretokens are filtered BEFORE the cap (JVM-side), so the training
    vocabulary is always ``vocab_cap`` usable word types — a pipe-heavy
    corpus (markdown tables) doesn't waste cap slots on tokens the
    merge loop would drop anyway."""
    rows = (
        pretoken_counts(df, text_col, pattern)
        .filter(
            ~F.col("tok").contains(SYM_DELIM)
            & ~F.col("tok").contains(MERGE_SEP)
        )
        .orderBy(F.col("f").desc(), F.col("tok").asc())
        .limit(vocab_cap)
        .collect()
    )
    return train_bpe_local(
        [(r["tok"], r["f"]) for r in rows], num_merges, min_pair_freq
    )


def corpus_alphabet(df: DataFrame, text_col: str = "text") -> list[str]:
    """Sorted distinct characters of the corpus — the base vocabulary.
    Bounded by the character set (codegen distinct, tiny collect)."""
    rows = (
        df.select(
            F.explode(
                F.filter(F.split(F.col(text_col), ""), lambda x: x != "")
            ).alias("c")
        )
        .distinct()
        .collect()
    )
    return sorted(r["c"] for r in rows)


def vocab_ids(alphabet: list[str], merges: list[Merge]) -> dict[str, int]:
    """symbol -> id. Base chars take 0..B-1 in sorted order; merge #r
    takes B+r. First (smallest) id wins on string collisions."""
    ids: dict[str, int] = {}
    for i, c in enumerate(alphabet):
        ids.setdefault(c, i)
    for m in merges:
        ids.setdefault(m.merged, len(alphabet) + m.rank)
    return ids


def encode_fold(tok: Column, merges: list[Merge]) -> Column:
    """The whole BPE encode of one pretoken as a single Catalyst fold:
    chars -> delimited word string -> ``aggregate`` over merge-rule
    literals, each step one ``replace``. Returns array<string> of
    final symbols. JVM-side end to end.

    Pretokens containing a reserved delimiter (``|`` / ``\\x01`` —
    which the delimited-string representation cannot carry: the fold
    would silently emit wrong/empty symbols) take the CHARACTER
    fallback branch instead: no merges apply (training drops such word
    types, so no rule could match them correctly anyway) and the
    round-trip invariant ``concat(syms) == tok`` holds for every
    input."""
    chars = F.filter(F.split(tok, ""), lambda x: x != "")
    word0 = F.concat(F.lit("|"), F.array_join(chars, "||"), F.lit("|"))
    rules = F.array(
        *[
            F.struct(
                F.lit(f"|{m.left}||{m.right}|").alias("s"),
                F.lit(f"|{m.left}{m.right}|").alias("p"),
            )
            for m in merges
        ]
    )
    if not merges:
        encoded = word0
    else:
        encoded = F.aggregate(
            rules, word0, lambda acc, m: F.replace(acc, m["s"], m["p"])
        )
    folded = F.transform(
        F.split(encoded, r"\|\|"), lambda s: F.btrim(s, F.lit("|"))
    )
    return F.when(
        tok.contains(SYM_DELIM) | tok.contains(MERGE_SEP), chars
    ).otherwise(folded)


def _encoded_dim(pre: DataFrame, merges: list[Merge], ids: dict[str, int]) -> DataFrame:
    """(tok, syms, ids): the distinct-pretoken dimension frame with
    its encoding — the only place the fold runs."""
    id_map = F.create_map(
        *[F.lit(x) for kv in ids.items() for x in kv]
    )
    dim = pre.select("tok").distinct().select(
        "tok", encode_fold(F.col("tok"), merges).alias("syms")
    )
    return dim.select(
        "tok",
        "syms",
        F.transform(
            F.col("syms"),
            lambda s: F.coalesce(id_map[s], F.lit(-1)).cast("bigint"),
        ).alias("ids"),
    )


def bpe_encode(
    df: DataFrame,
    merges: list[Merge],
    alphabet: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    pattern: str = BPE_ISH_PATTERN,
) -> DataFrame:
    """Token stream: (id_col, tok_pos, sym_pos, token, token_id) — one
    row per emitted BPE token, positions 0-based. Distinct pretokens
    are encoded once and broadcast back; the document side never
    shuffles."""
    pre = df.select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0))
        ).alias("tok_pos", "tok"),
    )
    dim = _encoded_dim(pre, merges, vocab_ids(alphabet, merges))
    return (
        pre.join(F.broadcast(dim), "tok")
        .select(
            id_col,
            "tok_pos",
            F.posexplode(F.arrays_zip(F.col("syms"), F.col("ids"))).alias(
                "sym_pos", "z"
            ),
        )
        .select(
            id_col,
            "tok_pos",
            "sym_pos",
            F.col("z.syms").alias("token"),
            F.col("z.ids").alias("token_id"),
        )
    )


def bpe_token_counts(
    df: DataFrame,
    merges: list[Merge],
    id_col: str = "doc_id",
    text_col: str = "text",
    pattern: str = BPE_ISH_PATTERN,
) -> DataFrame:
    """(id_col, n_bpe_tokens): the REAL token count per document under
    the trained merge table (vs the pre-tokenizer estimator
    ``functions.text.bpe_token_count``). Docs with no pretokens count
    0. One broadcast join + one groupBy(id) sum."""
    pre = df.select(
        F.col(id_col),
        F.explode_outer(
            F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0))
        ).alias("tok"),
    )
    dim = pre.select("tok").distinct().where(F.col("tok").isNotNull()).select(
        "tok", F.size(encode_fold(F.col("tok"), merges)).alias("n_syms")
    )
    return (
        pre.join(F.broadcast(dim), "tok", "left")
        .groupBy(id_col)
        .agg(
            F.coalesce(F.sum("n_syms"), F.lit(0)).cast("bigint").alias(
                "n_bpe_tokens"
            )
        )
    )
