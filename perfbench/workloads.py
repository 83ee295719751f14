"""The two workloads and the layer calls they share.

Each workload sets up (session once, then ``PREPARES`` repetitions of its
preparation, reporting the median), measures for ``Bench.seconds``, and
then checks its outputs outside the measured time. Every call into an
engine layer is wrapped in a span named ``<layer>.<call>``.

- ``serve``: set-up is the batch build of a generated corpus with planted
  duplicates, PII and repetitive documents (curation: pii → exact dedup →
  MinHash LSH + groups → Gopher gate; then chunk+embed →
  ``VectorIndex.upsert``; then the IVFPQ layout) plus a lexical index,
  followed by one warm-up request of each kind. The measured window is a read-only closed loop of ``CLIENTS`` clients with a
  fixed request mix.
- ``refresh``: set-up builds an index and layout over a clean corpus. One
  closed-loop client then upserts batches of edited and new documents
  into both, and after each batch asks about a just-written chunk and an
  untouched old one.
"""

from __future__ import annotations

import importlib
import os
import random
import re
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from types import SimpleNamespace

from pyspark.sql import functions as F

from pyspark import InheritableThread

import gen
from stats import percentile

PKG = "retrieval_augmented_generation__rag__chatbot_with_vector_database_spark"

DIM = 64
N_LISTS = 16  # coarse centroids = layout partitions
NPROBE = 4
FETCH_K = 50
PQ_M, PQ_K = 8, 16
K = 5
NEAR_DUP_JACCARD = 0.6

#: set-up repetitions. The first runs on a cold JVM and cold Python
#: workers (12-17 s slower on 4 cores), the second warm; the median of
#: the two keeps half of that one-time cost in setup_s
PREPARES = 2
SERVE_DOCS = 240
REFRESH_DOCS = 300
REFRESH_BATCH = 50  # half edits, half new documents
#: known-answer questions asked as one batch after the window; recall_at_5
#: is measured on them, as on the served questions it would rest on
#: twenty-odd questions and move with the seed
VERIFY_QUESTIONS = 128
#: a rank-1 hit alone gives 1/K; with the other K-1 neighbours found at
#: about the probed share NPROBE/N_LISTS (README) recall is near 0.4, and
#: measures about 0.59, so a probe or recall regression falls below this
RECALL_FLOOR = 1.0 / K + (K - 1) / K * NPROBE / N_LISTS
CLIENTS = 2
BATCH_QUESTIONS = 16
UNKNOWN_SHARE = 0.1  # questions with no indexed answer
ZIPF_S = 1.1
ZIPF_POOL = 400
#: one cycle of serve requests, in a fixed order so that every run, whatever
#: its seed, sends the same mix: 50% single, 20% filtered, 15% batch, 15%
#: hybrid. Client c starts the cycle at c * len(MIX) // CLIENTS. A 10 s
#: window holds only the first three or four requests of each client, so
#: each half of the cycle opens with the rarer kinds: client 0 sends a
#: batch first and client 1 a hybrid request, and both then a filtered one
MIX = [
    "batch", "single", "filtered", "single", "hybrid",
    "single", "batch", "single", "single", "filtered",
    "hybrid", "single", "filtered", "single", "batch",
    "single", "hybrid", "single", "single", "filtered",
]


def _modules() -> SimpleNamespace:
    def m(name):
        return importlib.import_module(f"{PKG}.{name}")

    return SimpleNamespace(
        documents=m("sources.documents"),
        index_table=m("sources.index_table"),
        lexical=m("sources.lexical_index"),
        ingest=m("streaming.ingest"),
        pii=m("operators.pii"),
        dedup=m("operators.dedup"),
        textstats=m("operators.textstats"),
        pq=m("operators.pq"),
        search=m("operators.search"),
        topk=m("operators.topk"),
        hybrid=m("operators.hybrid"),
        rag=m("operators.rag"),
        providers=m("embed.providers"),
    )


@dataclass
class Result:
    e2e: dict  # name -> (value, samples)
    extra: dict  # name -> (value or None, unit, samples)
    checks: list  # (name, ok, detail)
    attempted: int
    failed: int
    prepare_samples: list = field(default_factory=list)
    warmup_s: float = 0.0  # after the preparations, part of set-up

    @property
    def prepare_s(self) -> float:
        return statistics.median(self.prepare_samples)


class Bench:
    """What one run shares: session, tracer, generator, counters."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.trace = tracer.sc is not None
        self.work = work
        self.seconds = seconds
        self.gen = gen.Generator(seed)
        self.rng = random.Random(seed * 7919 + 17)
        self.m = _modules()
        self.provider = self.m.providers.HashEmbedder(DIM)
        self.layout_path = ""
        self.layout_bytes = 0
        self.layout_files = 0
        self.lexical = None
        self._lock = threading.Lock()
        self.attempted = 0
        self.failed = 0

    def op(self, ok: bool, what: str) -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                print(f"# failed: {what}", file=sys.stderr)

    def span(self, name: str, rid: str | None = None):
        return self.tracer.span(name, rid)

    def stage(self, df):
        """Materialize ``df`` inside the open span when tracing, so its
        work is charged to that layer and not to the next one's action.
        Untraced runs leave the plan lazy, as the engine's serving path
        does; the extra jobs are part of the tracing overhead."""
        return df.localCheckpoint(eager=True) if self.trace else df


# -- files ------------------------------------------------------------
def files_under(path: str) -> dict[str, tuple[int, int, int]]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_ino, st.st_mtime_ns)
    return out


def du(path: str) -> int:
    return sum(v[0] for v in files_under(path).values())


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, partition dirs) of files that are new in ``after``."""
    new = [p for p, v in after.items() if before.get(p) != v]
    parts = {os.path.dirname(p) for p in new if "=" in os.path.basename(os.path.dirname(p))}
    return sum(after[p][0] for p in new), len(parts)


# -- layer calls ------------------------------------------------------
def load_docs(b: Bench, path: str):
    docs = b.m.documents.load_text_documents(b.spark, path)
    return docs.select(F.xxhash64("source").alias("doc_id"), "text", "source")


def record_bytes(df) -> int:
    """Payload bytes of index records: id, text and source as UTF-8,
    4 bytes per vector component, 4 + 8 for chunk index and batch."""
    row = df.agg(F.sum(
        F.octet_length("id") + F.octet_length("text") + F.octet_length("source")
        + F.size("embedding") * 4 + 12
    ).alias("n")).first()
    return int(row["n"] or 0)


def curate(b: Bench, docs_dir: str, out: str) -> dict:
    """Stage 1, written to ``out`` as parquet (text, source)."""
    m = b.m
    # document numbers from the file names, not 64-bit hashes: the
    # connected-components convergence test sums ids and would overflow
    docs = load_docs(b, docs_dir).withColumn(
        "doc_id", F.regexp_extract("source", r"d(\d+)\.txt$", 1).cast("long")
    )
    with b.span("pii.scrub"):
        scrubbed = docs.select(
            "doc_id", m.pii.pii_scrub("text").alias("text"), "source"
        ).localCheckpoint(eager=True)
    with b.span("dedup.exact"):
        keep = m.dedup.exact_dedup(scrubbed).select("doc_id")
        distinct = scrubbed.join(keep, "doc_id", "left_semi").localCheckpoint(eager=True)
    with b.span("dedup.minhash") as s:
        cand = m.dedup.minhash_lsh_pairs(distinct, min_est=0.0).localCheckpoint(eager=True)
        confirmed = cand.filter(F.col("est_jaccard") >= NEAR_DUP_JACCARD)
        s.counts["candidate_pairs"] = cand.count()
        s.counts["confirmed_pairs"] = confirmed.count()
    with b.span("dedup.groups"):
        groups = m.dedup.duplicate_groups(confirmed).collect()
    drop = sorted(
        int(x) for g in groups for x in g["members"].split(",")
        if int(x) != int(g["component"])
    )
    with b.span("textstats.gopher"):
        ok = b.stage(
            m.textstats.gopher_repetition_gate(distinct)
            .filter("gopher_ok").select("doc_id")
        )
    curated = distinct.join(ok, "doc_id", "left_semi").filter(
        ~F.col("doc_id").isin(drop)
    )
    curated.select("text", "source").write.parquet(out)
    return {"near_dup_dropped": len(drop)}


def ingest(b: Bench, docs, vi, batch: int):
    """chunk+embed then keyed upsert; returns (records, index rows,
    bytes the upsert wrote)."""
    before = files_under(vi.path)
    with b.span("ingest.docs_to_records"):
        # materialized here so the chunk+embed kernel is charged to
        # ingest and not to the upsert's first job
        recs = b.m.ingest.docs_to_records(docs, b.provider).localCheckpoint(eager=True)
    with b.span("index_table.upsert") as s:
        n = vi.upsert(recs, batch=batch)
    s.counts["bytes_rewritten"], s.counts["buckets_touched"] = written(
        before, files_under(vi.path)
    )
    return recs, n, s.counts["bytes_rewritten"]


def index_frame(vi):
    return vi.read().select(
        F.xxhash64("id").alias("vec_id"), "embedding", "text", "source"
    )


def build_layout(b: Bench, vi, path: str) -> int:
    """IVFPQ layout over the index; returns the sidecar's rows_at_build."""
    frame = index_frame(vi).select("vec_id", "embedding", "source")
    with b.span("pq.train"):
        books, cents = b.m.pq.train_books_and_centroids(frame, PQ_M, PQ_K, N_LISTS)
    # centroids come labelled with their seed vectors' ids, but the layout
    # stores centroid ids as 32-bit ints; 64-bit hashed ids would overflow
    cents = [(i, v) for i, (_, v) in enumerate(cents)]
    with b.span("pq.write"):
        # the embedder's vectors are unit length, so quantizers trained on
        # them already live in the normalized layout's space
        b.m.pq.write_ivfpq_index(
            frame, path, cents, books, normalize=True, meta_cols=["source"]
        )
    set_layout(b, path)
    return int(b.m.pq.load_ivfpq_meta(path)["rows_at_build"])


def set_layout(b: Bench, path: str) -> None:
    files = files_under(path)
    b.layout_path = path
    b.layout_bytes = sum(v[0] for v in files.values())
    b.layout_files = sum(1 for p in files if p.endswith(".parquet"))


def topic_filter(topic: int | None):
    return None if topic is None else F.col("source").contains(f"/t{topic:02d}/")


def ask(b: Bench, vi, kind: str, questions: list[str], rid: str,
        topic: int | None = None, top: bool = False) -> list[dict]:
    """One RAG request: embed → top-k (IVFPQ probe, or BM25 + vector RRF
    for ``hybrid``) → context → answer, collected once. Returns, per
    question, the text of the answer's first document and, with ``top``,
    its vector top-k ids (a second job, for the recall check only)."""
    m = b.m
    spark = b.spark
    qdf = spark.createDataFrame(
        [(i, q, v) for i, (q, v) in enumerate(zip(questions, b.provider.embed(questions)))],
        "query_id long, question string, qvec array<double>",
    )
    k_vec = 2 * K if kind == "hybrid" else K
    with b.span("search.search", rid) as s:
        s.counts["layout_bytes"] = b.layout_bytes
        vec = b.stage(m.search.search(
            qdf, layout_path=b.layout_path, k=k_vec, metric="cosine",
            nprobe=NPROBE, fetch_k=FETCH_K, pre_filter=topic_filter(topic),
        ))
    matches = vec
    if kind == "hybrid":
        with b.span("lexical.bm25", rid):
            lex = b.stage(b.lexical.bm25_topk(
                qdf.select("query_id", F.col("question").alias("text")), k=k_vec
            ).select(
                "query_id", "doc_id", F.col("bm25_rank").alias("lex_rank")
            ))
        with b.span("hybrid.rrf", rid):
            fused = b.stage(m.hybrid.rrf_fuse(
                lex,
                vec.select("query_id", F.col("vec_id").alias("doc_id"),
                           F.col("rank").alias("vec_rank")),
                k=K,
            ))
        matches = fused.select(
            "query_id", F.col("doc_id").alias("vec_id"),
            F.col("fused").alias("score"), "rank",
        )
    with b.span("rag.answers", rid):
        texts = index_frame(vi).select("vec_id", "text", "source")
        projected = m.rag.project_matches(matches.join(texts, "vec_id"))
        answers = m.rag.assemble_answers(
            qdf.select("query_id", "question"), m.rag.build_context(projected)
        ).collect()
    out = [{"question": q, "top": [], "first": None} for q in questions]
    for a in answers:
        lines = a["context"].split("\n")
        out[a["query_id"]]["first"] = lines[1] if len(lines) > 1 else None
    if top:
        ranked: dict[int, list[tuple[int, int]]] = {}
        for r in vec.collect():
            ranked.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
        for qid, pairs in ranked.items():
            out[qid]["top"] = [v for _, v in sorted(pairs)[:K]]
    return out


def exact_top(b: Bench, vi, questions: list[str]) -> dict[str, set[int]]:
    """Ground truth: exact cosine top-k by ``topk_search_gemm``."""
    uniq = sorted(set(questions))
    if not uniq:
        return {}
    with b.span("verify.exact"):
        qdf = b.spark.createDataFrame(
            list(enumerate(b.provider.embed(uniq))), "query_id long, qvec array<double>"
        )
        rows = b.m.topk.topk_search_gemm(
            qdf, index_frame(vi).select("vec_id", "embedding"), k=K, metric="cosine"
        ).collect()
    out: dict[str, set[int]] = {q: set() for q in uniq}
    for r in rows:
        out[uniq[r["query_id"]]].add(r["vec_id"])
    return out


def completed(ops: list[tuple[float, float, float]], t0: float, t1: float) -> float:
    """Units of work done inside [t0, t1]: each op (start, end, units)
    counts its units times the share of its run time inside the window,
    so a run's throughput does not jump with the op in flight at t1."""
    done = 0.0
    for a, b, units in ops:
        if b <= a:
            continue
        inside = min(b, t1) - max(a, t0)
        done += units * max(0.0, inside) / (b - a)
    return done


def recall(answers: list[dict], truth: dict[str, set[int]]) -> tuple[float, int]:
    scores = [
        len(set(a["top"]) & truth[a["question"]]) / K
        for a in answers if truth.get(a["question"])
    ]
    return (statistics.fmean(scores) if scores else 0.0), len(scores)


def answered_first(a: dict, known: bool) -> bool:
    return (not known) or a["first"] == a["question"]


def prepared(b: Bench, fn, name: str):
    """Run ``fn(i)`` PREPARES times; keep the last state, time each."""
    samples, state = [], None
    for i in range(PREPARES):
        t = time.perf_counter()
        state = fn(i)
        samples.append(time.perf_counter() - t)
        prev = os.path.join(b.work, name, f"p{i - 1}")
        shutil.rmtree(prev, ignore_errors=True)
    return state, samples


def verify_build(b: Bench, vi, rows_at_build: int, checks: list) -> None:
    n = vi.read().count()
    checks.append(("layout rows_at_build equals index rows",
                   n == rows_at_build, f"{rows_at_build} vs {n}"))
    b.op(n == rows_at_build, "layout rows_at_build differs from index rows")


def verify_answers(b: Bench, vi, questions: list[str], rid: str, checks: list,
                   label: str) -> tuple[float, int]:
    """One batch request of known-answer questions after the window:
    every answer at rank 1, and recall against exact search."""
    try:
        ans = ask(b, vi, "batch", questions, rid, top=True)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        b.op(False, f"{label} request raised")
        checks.append((label, False, "raised"))
        return 0.0, 0
    misses = sum(1 for a in ans if not answered_first(a, True))
    b.op(misses == 0, f"{label}: {misses} answers not at rank 1")
    checks.append((label, misses == 0, f"{len(ans) - misses}/{len(ans)} at rank 1"))
    rec, n = recall(ans, exact_top(b, vi, questions))
    checks.append(("recall_at_5 against exact top-5", rec >= RECALL_FLOOR,
                   f"{rec:.3f} over {n} questions (floor {RECALL_FLOOR:.2f})"))
    return rec, n


def space_amp(b: Bench, vi) -> float:
    return (du(vi.path) + du(b.layout_path)) / record_bytes(vi.read())


# -- build ------------------------------------------------------------
def build(b: Bench, docs_dir: str, out: str) -> dict:
    """The batch build, each stage written to disk like a separate job:
    curation → chunk+embed + ``VectorIndex.upsert`` → IVFPQ layout."""
    m = b.m
    t0 = time.perf_counter()
    cur = curate(b, docs_dir, os.path.join(out, "curated"))
    t1 = time.perf_counter()
    vi = m.index_table.VectorIndex(b.spark, out, "index").create(DIM)
    _, n_chunks, _ = ingest(b, b.spark.read.parquet(os.path.join(out, "curated")), vi, 0)
    t2 = time.perf_counter()
    rows = build_layout(b, vi, os.path.join(out, "layout"))
    t3 = time.perf_counter()
    return {"vi": vi, "rows_at_build": rows, "chunks": n_chunks,
            "curate_s": t1 - t0, "ingest_s": t2 - t1, "layout_s": t3 - t2,
            "out": out, **cur}


def check_build(b: Bench, man: dict, docs_dir: str, built: dict, checks: list) -> set[str]:
    """Curation and build checks; returns the surviving documents."""
    vi = built["vi"]
    verify_build(b, vi, built["rows_at_build"], checks)
    prefix = docs_dir.rstrip("/") + "/"
    kept = {
        r["source"].split(prefix, 1)[-1]
        for r in b.spark.read.parquet(os.path.join(built["out"], "curated"))
        .select("source").collect()
    }
    both = [p for p in man["exact_dups"] if p[0] in kept and p[1] in kept]
    checks.append(("planted exact duplicates removed", not both,
                   f"{len(man['exact_dups']) - len(both)}/{len(man['exact_dups'])}"))
    rep = [p for p in man["repetitive"] if p in kept]
    checks.append(("repetitive documents gated", not rep,
                   f"{len(man['repetitive']) - len(rep)}/{len(man['repetitive'])}"))
    texts = [r["text"] for r in vi.read().select("text").collect()]
    pii_res = [s for s in man["pii"].values() if any(s in t for t in texts)]
    pats = [re.compile(p) for _, p, _ in b.m.pii.PII_PATTERNS]
    pat_res = sum(1 for t in texts if any(p.search(t) for p in pats))
    checks.append(("zero PII residual in indexed chunks", not pii_res and not pat_res,
                   f"{len(pii_res)} planted strings, {pat_res} chunks matching a pattern"))
    for ok, what in ((not both, "exact duplicates kept"), (not rep, "repetitive kept"),
                     (not pii_res and not pat_res, "PII in index")):
        b.op(ok, what)
    return kept


# -- serve ------------------------------------------------------------
def _zipf_pool(b: Bench, pool: list[str]) -> tuple[list[str], list[float]]:
    picked = b.rng.sample(pool, min(ZIPF_POOL, len(pool)))
    return picked, [1.0 / (r + 1) ** ZIPF_S for r in range(len(picked))]


def _schedule(b: Bench, rng: random.Random, known: list[str], weights: list[float],
              topic_of: dict[str, int], n: int, offset: int) -> list[tuple]:
    """``n`` requests: (kind, questions, known flags, topic filter)."""
    def question() -> tuple[str, bool]:
        if rng.random() < UNKNOWN_SHARE:
            return b.gen.paragraph(rng.randrange(gen.N_TOPICS)), False
        return rng.choices(known, weights)[0], True

    out = []
    for i in range(n):
        kind = MIX[(offset + i) % len(MIX)]
        if kind == "batch":
            qs = [question() for _ in range(BATCH_QUESTIONS)]
            out.append((kind, [q for q, _ in qs], [k for _, k in qs], None))
        elif kind == "single":
            q, k = question()
            out.append((kind, [q], [k], None))
        else:  # filtered and hybrid ask indexed chunks
            q = rng.choices(known, weights)[0]
            out.append((kind, [q], [True], topic_of[q] if kind == "filtered" else None))
    return out


def warm_up(b: Bench, vi) -> None:
    """One request of each kind, two clients at a time, before the window.
    The build never runs search, BM25 or RRF, and their first calls in a
    process pay one-time costs that would otherwise land in the measured
    window. The questions are fresh paragraphs that are
    not indexed and never asked again, so a cache gains nothing here."""
    plans = []
    for kinds in (("batch", "filtered"), ("hybrid", "single")):
        reqs = []
        for kind in kinds:
            topic = b.rng.randrange(gen.N_TOPICS)
            n = BATCH_QUESTIONS if kind == "batch" else 1
            reqs.append((kind, [b.gen.paragraph(topic) for _ in range(n)],
                         topic if kind == "filtered" else None))
        plans.append(reqs)

    def client(c: int) -> None:
        for kind, qs, topic in plans[c]:
            try:
                ask(b, vi, kind, qs, f"warmup{c}", topic)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                b.op(False, f"warm-up {kind} raised")

    threads = [InheritableThread(target=client, args=(c,)) for c in range(len(plans))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def serve(b: Bench) -> Result:
    m = b.m
    root = os.path.join(b.work, "serve")
    docs_dir = os.path.join(root, "docs")
    man = gen.write_corpus(b.gen, docs_dir, SERVE_DOCS)

    def prepare(i: int):
        out = os.path.join(root, f"p{i}")
        built = build(b, docs_dir, out)
        with b.span("lexical.create"):
            lex = m.lexical.LexicalIndex(b.spark, os.path.join(out, "lexical")).create(
                index_frame(built["vi"]).select(F.col("vec_id").alias("doc_id"), "text")
            )
        return built, lex

    (built, b.lexical), prep = prepared(b, prepare, "serve")
    vi = built["vi"]
    t = time.perf_counter()
    warm_up(b, vi)
    warmup_s = time.perf_counter() - t
    checks: list = []
    kept = check_build(b, man, docs_dir, built, checks)
    near_both = sum(1 for p in man["near_dups"] if p[0] in kept and p[1] in kept)

    # known answers: paragraphs of clean documents that survived curation
    topic_of = {
        p: int(rel[1:3]) for rel, ps in man["chunks"].items() if rel in kept for p in ps
    }
    known, weights = _zipf_pool(b, sorted(topic_of))
    schedules = [
        _schedule(b, random.Random(b.rng.random()), known, weights, topic_of, 500,
                  c * len(MIX) // CLIENTS)
        for c in range(CLIENTS)
    ]
    results: list[tuple] = []
    raised: list[str] = []

    def client(c: int, deadline: float) -> None:
        for i, (kind, qs, known_f, topic) in enumerate(schedules[c]):
            if time.perf_counter() >= deadline:
                return
            rid = f"c{c}-{i}"
            t = time.perf_counter()
            try:
                with b.span("serve.request", rid):
                    ans = ask(b, vi, kind, qs, rid, topic)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                b.op(False, f"{rid} {kind} raised")
                raised.append(rid)
                continue
            t_done = time.perf_counter()
            ok = all(answered_first(a, k) for a, k in zip(ans, known_f))
            b.op(ok, f"{rid} {kind}: known answer not at rank 1")
            results.append((kind, t, t_done, ans, ok))

    t0 = time.perf_counter()
    deadline = t0 + b.seconds
    threads = [InheritableThread(target=client, args=(c, deadline)) for c in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    pool = sorted(topic_of)
    rec, n_rec = verify_answers(b, vi, b.rng.sample(pool, min(VERIFY_QUESTIONS, len(pool))),
                                "verify", checks, "verification batch at rank 1")
    misses = sum(1 for r in results if not r[4]) + len(raised)
    checks.append(("known answers at rank 1", misses == 0,
                   f"{misses} of {len(results) + len(raised)} requests missed or raised"))
    amp = space_amp(b, vi)
    lat = [t1 - t for _, t, t1, _, _ in results]
    n_q = sum(len(ans) for _, _, _, ans, _ in results)
    q_done = completed([(t, t1, len(ans)) for _, t, t1, ans, _ in results], t0, deadline)
    r_done = completed([(t, t1, 1) for _, t, t1, _, _ in results], t0, deadline)
    seen: set[str] = set()
    repeats = 0
    for _, _, _, ans, _ in results:
        for a in ans:
            repeats += a["question"] in seen
            seen.add(a["question"])
    extra = {
        "requests": (len(results), "count", len(results)),
        "request_p50_s": (percentile(lat, 0.5), "s", len(lat)),
        "request_p90_s": (percentile(lat, 0.9), "s", len(lat)),
        # a 16-question batch is one request: questions/s jumps by a
        # third with each batch that does or does not finish in the window
        "questions_per_s": (q_done / b.seconds, "questions/s", n_q),
        "repeat_share": (repeats / max(n_q, 1), "ratio", n_q),
        "failed_ratio": (b.failed / max(b.attempted, 1), "ratio", b.attempted),
        # the build in set-up, from the last (warm) preparation
        "curate_docs_per_s": (len(man["files"]) / built["curate_s"], "docs/s", 1),
        "ingest_chunks_per_s": (built["chunks"] / built["ingest_s"], "chunks/s", 1),
        "layout_vectors_per_s": (built["rows_at_build"] / built["layout_s"], "vectors/s", 1),
        "near_dups_collapsed": (len(man["near_dups"]) - near_both, "count",
                                len(man["near_dups"])),
    }
    # the mix actually measured: requests of each kind done in the window
    for kind in sorted(set(MIX)):
        ops = [(t, t1, 1) for k, t, t1, _, _ in results if k == kind]
        extra[f"{kind}_in_window"] = (completed(ops, t0, deadline), "requests", len(ops))
    e2e = {
        "throughput_per_s": (r_done / b.seconds, len(results)),
        "recall_at_5": (rec, n_rec),
        "space_amp": (amp, 1),
    }
    return Result(e2e, extra, checks, b.attempted, b.failed, prep, warmup_s)


# -- refresh ----------------------------------------------------------
def refresh(b: Bench) -> Result:
    m = b.m
    root = os.path.join(b.work, "refresh")
    docs_dir = os.path.join(root, "docs")
    man = gen.write_corpus(b.gen, docs_dir, REFRESH_DOCS, 0.0, 0.0, 0.0, 0.0)

    def prepare(i: int):
        out = os.path.join(root, f"p{i}")
        vi = m.index_table.VectorIndex(b.spark, out, "index").create(DIM)
        ingest(b, load_docs(b, docs_dir), vi, 0)
        return vi, build_layout(b, vi, os.path.join(out, "layout"))

    (vi, rows), prep = prepared(b, prepare, "refresh")
    checks: list = []
    verify_build(b, vi, rows, checks)

    current = {rel: list(ps) for rel, ps in man["chunks"].items()}
    untouched = set(current)
    fresh_all: list[str] = []
    steps: list[dict] = []
    misses = 0
    next_doc = REFRESH_DOCS
    t_start = time.perf_counter()
    t_end = t_start + b.seconds
    # a step takes about as long as the window; one started with less
    # than half a step of window left would mostly run past it and add
    # its whole length to the run for a sliver of measurement
    while not steps or t_end - time.perf_counter() > 0.5 * statistics.fmean(
        st["t3"] - st["t0"] for st in steps
    ):
        n = len(steps)
        batch_dir = os.path.join(root, f"b{n:03d}")
        fresh: list[str] = []
        for rel in b.rng.sample(sorted(current), REFRESH_BATCH // 2):
            paras = current[rel]
            j = b.rng.randrange(len(paras))
            paras[j] = b.gen.paragraph(int(rel[1:3]))
            fresh.append(paras[j])
            untouched.discard(rel)
            gen.write_file(os.path.join(batch_dir, rel), "\n\n".join(paras))
        for _ in range(REFRESH_BATCH - REFRESH_BATCH // 2):
            rel = gen.doc_path(next_doc)
            current[rel] = b.gen.document(next_doc % gen.N_TOPICS)
            next_doc += 1
            fresh.extend(current[rel])
            gen.write_file(os.path.join(batch_dir, rel), "\n\n".join(current[rel]))
        q_new = b.rng.choice(fresh)
        q_old = b.rng.choice(current[b.rng.choice(sorted(untouched))])
        fresh_all.extend(fresh)
        layout_before = files_under(b.layout_path)
        rid = f"step{n}"
        try:
            t0 = time.perf_counter()
            with b.span("refresh.step", rid):
                recs, _, idx_written = ingest(b, load_docs(b, batch_dir), vi, n + 1)
                with b.span("pq.upsert", rid) as s:
                    res = m.pq.upsert_ivfpq_index(
                        b.spark, b.layout_path,
                        recs.select(F.xxhash64("id").alias("vec_id"), "embedding", "source"),
                    )
                t1 = time.perf_counter()
                set_layout(b, b.layout_path)
                a_new = ask(b, vi, "single", [q_new], rid)[0]
                t2 = time.perf_counter()
                a_old = ask(b, vi, "single", [q_old], rid)[0]
                t3 = time.perf_counter()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            b.op(False, f"{rid} raised")
            break
        s.counts["partitions_touched"] = len(res["touched"])
        s.counts["bytes_rewritten"], _ = written(layout_before, files_under(b.layout_path))
        b.op(True, "upsert")
        for a, what in ((a_new, "fresh"), (a_old, "old")):
            ok = answered_first(a, True)
            misses += not ok
            b.op(ok, f"{rid}: {what} chunk not at rank 1")
        steps.append({
            "t0": t0, "t3": t3, "upsert_s": t1 - t0, "reads": [t2 - t1, t3 - t2],
            "record_bytes": record_bytes(recs),
            "written": idx_written + s.counts["bytes_rewritten"],
        })
        shutil.rmtree(batch_dir, ignore_errors=True)

    checks.append(("fresh and old chunks at rank 1 after each upsert",
                   misses == 0 and len(steps) > 0,
                   f"{misses} of {2 * len(steps)} missed in {len(steps)} steps"))
    n_idx = vi.read().count()
    n_lay = b.spark.read.parquet(b.layout_path).count()
    checks.append(("layout rows equal index rows after upserts", n_idx == n_lay,
                   f"{n_lay} vs {n_idx}"))
    b.op(n_idx == n_lay, "layout rows differ from index rows")
    half = VERIFY_QUESTIONS // 2
    old_pool = [p for rel in sorted(untouched) for p in current[rel]]
    qs = b.rng.sample(fresh_all, min(half, len(fresh_all))) + b.rng.sample(old_pool, half)
    rec, n_rec = verify_answers(b, vi, qs, "verify", checks, "fresh and old answers at rank 1")
    amp = space_amp(b, vi)

    # the loop may stop before the deadline, so divide by the time it ran
    t_stop = min(t_end, steps[-1]["t3"]) if steps else t_end
    docs_done = completed([(st["t0"], st["t3"], REFRESH_BATCH) for st in steps], t_start, t_stop)
    ups = [st["upsert_s"] for st in steps]
    reads = [r for st in steps for r in st["reads"]]
    extra = {
        "steps": (len(steps), "count", len(steps)),
        "upsert_p50_s": (percentile(ups, 0.5), "s", len(ups)),
        "upsert_mean_s": (statistics.fmean(ups) if ups else None, "s", len(ups)),
        "request_p50_s": (percentile(reads, 0.5), "s", len(reads)),
        "request_mean_s": (statistics.fmean(reads) if reads else None, "s", len(reads)),
        "write_amp": (sum(st["written"] for st in steps)
                      / max(sum(st["record_bytes"] for st in steps), 1), "ratio", len(steps)),
        "failed_ratio": (b.failed / max(b.attempted, 1), "ratio", b.attempted),
    }
    e2e = {
        "throughput_per_s": (docs_done / (t_stop - t_start), len(steps)),
        "recall_at_5": (rec, n_rec),
        "space_amp": (amp, 1),
    }
    return Result(e2e, extra, checks, b.attempted, b.failed, prep)


WORKLOADS = {"serve": serve, "refresh": refresh}


def layer_report(b: Bench, tracer, session_s: float) -> dict[str, float]:
    """Per-layer metrics of a traced run: span accounting plus the
    counts and ratios measured at the layer boundaries."""
    out = tracer.layer_metrics()
    out["session.start_s"] = session_s
    cand = out.get("dedup.candidate_pairs", 0.0)
    out["dedup.useful_pair_ratio"] = out.get("dedup.confirmed_pairs", 0.0) / cand if cand else 0.0
    lay = out.get("search.layout_bytes", 0.0)
    out["search.probed_fraction"] = out.get("search.search.input_bytes", 0.0) / lay if lay else 0.0
    out["layout.files_live"] = b.layout_files
    out["trace.bookkeeping_s"] = tracer.bookkeeping_s
    out["trace.spans"] = len(tracer.spans)
    return out
