"""Frontier admission (streaming/frontier_admit.py): the crawl-loop
closure — discovered URLs become pending frontier rows exactly once,
robots-gated and host-capped, with replay convergence; the ingest
stream admits its extracted links per micro-batch."""

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.frontier_admit import (
    admit_frontier_candidates,
    pending_fetch_list,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.web_ingest import (
    read_frontier,
)


def _urls(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def _pending_rows(spark, pending_dir):
    return {
        (r["canonical_url"], r["host"])
        for r in read_frontier(spark, pending_dir).collect()
    }


def test_admission_canonicalizes_dedups_and_anti_joins(spark, tmp_path):
    fdir, pdir = f"{tmp_path}/frontier", f"{tmp_path}/pending"
    # the fetched set: one page already ingested
    spark.createDataFrame(
        [("http://a.example/fetched", "a.example")],
        "canonical_url string, host string",
    ).write.parquet(f"{fdir}/batch_id=0")

    stats = admit_frontier_candidates(
        spark,
        fdir,
        pdir,
        _urls(
            spark,
            [
                "HTTP://A.EXAMPLE:80/new?utm_source=x",  # canon collapses
                "http://a.example/new",  # ... into one candidate
                "http://a.example/fetched#frag",  # already fetched
                "http://b.example/seed",
                "/relative/never-admitted",  # non-absolute: dropped
                "junk not a url",
            ],
        ),
        wave=0,
    )
    assert stats == {"wave": 0, "n_candidates": 3, "n_admitted": 2}
    assert _pending_rows(spark, pdir) == {
        ("http://a.example/new", "a.example"),
        ("http://b.example/seed", "b.example"),
    }
    # the fetch list is pending ANTI fetched
    assert {
        r["canonical_url"] for r in pending_fetch_list(spark, fdir, pdir).collect()
    } == {"http://a.example/new", "http://b.example/seed"}


def test_admission_exactly_once_across_waves_and_replays(spark, tmp_path):
    """No URL is admitted twice: a replayed wave overwrites its own
    rows (identical recompute — its dir is excluded from the read),
    and later waves anti-join everything already admitted or fetched."""
    fdir, pdir = f"{tmp_path}/frontier", f"{tmp_path}/pending"
    cand0 = _urls(spark, ["http://h.example/1", "http://h.example/2"])

    s1 = admit_frontier_candidates(spark, fdir, pdir, cand0, wave=0)
    assert s1["n_admitted"] == 2
    before = _pending_rows(spark, pdir)

    # replay of wave 0 (crash after the write): identical end state
    s2 = admit_frontier_candidates(spark, fdir, pdir, cand0, wave=0)
    assert s2["n_admitted"] == 2
    assert _pending_rows(spark, pdir) == before
    assert read_frontier(spark, pdir).count() == 2  # rows, not 4

    # wave 1 re-discovers wave-0 URLs plus one new: only the new lands
    s3 = admit_frontier_candidates(
        spark,
        fdir,
        pdir,
        _urls(spark, ["http://h.example/1", "http://h.example/3"]),
        wave=1,
    )
    assert s3["n_admitted"] == 1
    assert _pending_rows(spark, pdir) == before | {
        ("http://h.example/3", "h.example")
    }


def test_admission_robots_gate_and_host_cap(spark, tmp_path):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
        RobotsGate,
        parse_robots_rules,
    )

    fdir, pdir = f"{tmp_path}/frontier", f"{tmp_path}/pending"
    # host already has 1 fetched page: it consumes quota
    spark.createDataFrame(
        [("http://cap.example/0", "cap.example")],
        "canonical_url string, host string",
    ).write.parquet(f"{fdir}/batch_id=0")
    rules = parse_robots_rules(
        spark.createDataFrame(
            [("cap.example", "User-agent: *\nDisallow: /private/")],
            "host string, body string",
        )
    )
    stats = admit_frontier_candidates(
        spark,
        fdir,
        pdir,
        _urls(
            spark,
            [
                "http://cap.example/private/x",  # gated: no quota used
                "http://cap.example/a",
                "http://cap.example/b",
                "http://cap.example/c",  # over cap (1 fetched + 2 admitted)
                "http://free.example/y",
            ],
        ),
        wave=0,
        robots_gate=RobotsGate(rules, agent="*"),
        host_cap=3,
    )
    assert stats["n_admitted"] == 3
    # cap ranks bytewise on canonical_url: /a, /b in; /c out
    assert _pending_rows(spark, pdir) == {
        ("http://cap.example/a", "cap.example"),
        ("http://cap.example/b", "cap.example"),
        ("http://free.example/y", "free.example"),
    }
    # the pending rows consume quota for the NEXT wave too
    s2 = admit_frontier_candidates(
        spark,
        fdir,
        pdir,
        _urls(spark, ["http://cap.example/d"]),
        wave=1,
        host_cap=3,
    )
    assert s2["n_admitted"] == 0


def test_host_cap_counts_overlapping_fetched_and_pending_once(spark, tmp_path):
    """Quota counts distinct LOGICAL urls (r14 advice): in the closed
    loop every fetched URL keeps its superseded pending row, so a
    UNION ALL count would charge it twice and erode the effective cap
    toward cap/2 — here the host has 2 such urls (4 state rows) under
    cap 4, which must leave room for 2 more, not 0."""
    fdir, pdir = f"{tmp_path}/frontier", f"{tmp_path}/pending"
    both = [
        ("http://o.example/1", "o.example"),
        ("http://o.example/2", "o.example"),
    ]
    schema = "canonical_url string, host string"
    # fetched AND still-pending (superseded rows stay on disk)
    spark.createDataFrame(both, schema).write.parquet(f"{fdir}/batch_id=0")
    spark.createDataFrame(both, schema).write.parquet(f"{pdir}/batch_id=0")

    stats = admit_frontier_candidates(
        spark,
        fdir,
        pdir,
        _urls(
            spark,
            ["http://o.example/3", "http://o.example/4", "http://o.example/5"],
        ),
        wave=1,
        host_cap=4,
    )
    assert stats["n_admitted"] == 2
    assert _pending_rows(spark, pdir) == {
        ("http://o.example/1", "o.example"),
        ("http://o.example/2", "o.example"),
        ("http://o.example/3", "o.example"),
        ("http://o.example/4", "o.example"),
    }


def _http(body: bytes) -> bytes:
    return (
        f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body


def _linked_record(url: str, marker: str, hrefs: list[str]) -> bytes:
    anchors = "".join(f'<a href="{h}">l</a>' for h in hrefs)
    body = _http(
        f"<p>page {marker} carrying enough visible words to pass the "
        f"main-content length gate easily</p>{anchors}".encode()
    )
    head = (
        f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
        f"Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode()
    return head + body + b"\r\n\r\n"


def test_stream_admits_extracted_links(spark, tmp_path):
    """start_web_ingest_stream(pending_dir=...): each micro-batch's
    page_links output is admitted — fetched pages (including pages
    fetched in the SAME batch) are never admitted, discovery is
    exactly-once across batches, and a full crash-replay converges."""
    import shutil

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.embed.providers import (
        HashEmbedder,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table import (
        VectorIndex,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.web_ingest import (
        start_web_ingest_stream,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    idx = VectorIndex(spark, str(tmp_path / "idx"), "loop").create(dimension=16)
    fdir, pdir = f"{tmp_path}/frontier", f"{tmp_path}/pending"

    def drain():
        q = start_web_ingest_stream(
            spark,
            str(landing),
            idx,
            HashEmbedder(dimension=16),
            checkpoint_dir=f"{tmp_path}/ckpt",
            frontier_dir=fdir,
            pending_dir=pdir,
        )
        q.awaitTermination(120)

    seg1 = _linked_record(
        "http://l.example/a", "la", ["/b", "http://m.example/ext", "#frag"]
    ) + _linked_record("http://l.example/b", "lb", ["/a", "/c"])
    (landing / "s1.warc").write_bytes(seg1)
    drain()
    # /a and /b are fetched in this batch -> never admitted; /c and
    # the cross-host link are the wave's discoveries
    assert _pending_rows(spark, pdir) == {
        ("http://l.example/c", "l.example"),
        ("http://m.example/ext", "m.example"),
    }

    # batch 2 fetches /c (leaves pending superseded, not rewritten) and
    # re-discovers /a (fetched) and /c (fetched now) plus one new URL
    seg2 = _linked_record("http://l.example/c", "lc", ["/a", "/c2"])
    (landing / "s2.warc").write_bytes(seg2)
    drain()
    assert _pending_rows(spark, pdir) == {
        ("http://l.example/c", "l.example"),  # superseded, still on disk
        ("http://m.example/ext", "m.example"),
        ("http://l.example/c2", "l.example"),
    }
    # ... but the FETCH LIST excludes the superseded row
    assert {
        r["canonical_url"] for r in pending_fetch_list(spark, fdir, pdir).collect()
    } == {"http://m.example/ext", "http://l.example/c2"}

    # crash-replay: lose the checkpoint, replay everything. Batch
    # boundaries may change (both segments in one batch), so a
    # superseded pending row may drop from a rewritten wave dir — the
    # invariants are the FETCH LIST and the fetched frontier (both
    # must converge exactly) and exactly-once admission (no canonical
    # URL pending twice, nothing fetched ever re-admitted).
    frontier_before = {
        (r["canonical_url"], r["host"]) for r in read_frontier(spark, fdir).collect()
    }
    fetch_before = {
        r["canonical_url"] for r in pending_fetch_list(spark, fdir, pdir).collect()
    }
    shutil.rmtree(f"{tmp_path}/ckpt")
    drain()
    assert {
        (r["canonical_url"], r["host"]) for r in read_frontier(spark, fdir).collect()
    } == frontier_before
    assert {
        r["canonical_url"] for r in pending_fetch_list(spark, fdir, pdir).collect()
    } == fetch_before
    pend = read_frontier(spark, pdir)
    assert pend.groupBy("canonical_url").count().filter(F.col("count") > 1).count() == 0
    fetched_urls = {r["canonical_url"] for r in read_frontier(spark, fdir).collect()}
    still_pending = {r["canonical_url"] for r in pend.collect()}
    # a fetched URL may linger as a superseded pending row, but must
    # never re-enter the fetch list (asserted above); the l.example/a
    # and /b pages fetched before ANY admission must never be pending
    assert "http://l.example/a" not in still_pending
    assert "http://l.example/b" not in still_pending
    assert fetch_before & fetched_urls == set()


def test_pending_takedown_hook(spark, tmp_path):
    """The pending frontier is a takedown surface: forgetting a URL
    purges its admitted row (an unfetched discovery is still a
    retained record), idempotently."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.takedown import (
        layout_hooks,
    )

    fdir, pdir = f"{tmp_path}/frontier", f"{tmp_path}/pending"
    admit_frontier_candidates(
        spark,
        fdir,
        pdir,
        _urls(spark, ["http://p.example/keep", "http://p.example/forget"]),
        wave=0,
    )
    hooks = dict(layout_hooks(pending_dir=pdir))
    req = spark.createDataFrame(
        [(1, "HTTP://P.EXAMPLE:80/forget")], "doc_id long, url string"
    )
    res = hooks["web_frontier_pending"](spark, req)
    assert res["n_deleted"] == 1
    assert _pending_rows(spark, pdir) == {
        ("http://p.example/keep", "p.example")
    }
    # idempotent: forgetting again is a converging no-op
    assert hooks["web_frontier_pending"](spark, req)["n_deleted"] == 0


def test_crawl_loop_two_waves_end_to_end(spark, tmp_path):
    """The whole crawler loop, twice around: wave-0 WARC segments are
    ingested (frontier grows), their links are admitted (pending
    grows), the fetch list + politeness scheduler produce wave 1, the
    'fetcher' materializes wave-1 captures as a new WARC segment, the
    stream drains again — wave-1 pages are ingested, their pending
    rows are superseded, and a third turn of the loop discovers
    nothing new (fixed point). Every moving part is the production
    code path: stream, frontier, admission, fetch list, scheduler."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.embed.providers import (
        HashEmbedder,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
        fetch_schedule,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table import (
        VectorIndex,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.web_ingest import (
        start_web_ingest_stream,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    idx = VectorIndex(spark, str(tmp_path / "idx"), "loop2").create(dimension=16)
    fdir, pdir = f"{tmp_path}/frontier", f"{tmp_path}/pending"

    def drain():
        q = start_web_ingest_stream(
            spark,
            str(landing),
            idx,
            HashEmbedder(dimension=16),
            checkpoint_dir=f"{tmp_path}/ckpt",
            frontier_dir=fdir,
            pending_dir=pdir,
        )
        q.awaitTermination(120)

    # wave 0: two seed pages; /w1a and /w1b are the next hop, /w1a is
    # referenced from BOTH seeds (admitted once)
    seg0 = _linked_record(
        "http://site.example/seed1", "s1", ["/w1a", "/w1b"]
    ) + _linked_record("http://site.example/seed2", "s2", ["/w1a"])
    (landing / "wave0.warc").write_bytes(seg0)
    drain()

    to_fetch = pending_fetch_list(spark, fdir, pdir)
    plan = fetch_schedule(
        to_fetch.select(F.col("canonical_url").alias("url")),
        spark.createDataFrame(
            [("site.example", 1.5)], "host string, crawl_delay double"
        ),
    )
    waves = {r["url"]: (r["wave"], r["fetch_at"]) for r in plan.collect()}
    assert waves == {
        "http://site.example/w1a": (0, 0.0),
        "http://site.example/w1b": (1, 1.5),
    }

    # the 'fetcher' executes the plan: wave-1 captures land as a new
    # segment; w1a links BACK to seed1 (already fetched — never
    # re-admitted) and onward to /w2; w1b links nowhere new
    seg1 = _linked_record(
        "http://site.example/w1a", "w1a", ["/seed1", "/w2"]
    ) + _linked_record("http://site.example/w1b", "w1b", ["/w1a"])
    (landing / "wave1.warc").write_bytes(seg1)
    drain()

    fetched = {r["canonical_url"] for r in read_frontier(spark, fdir).collect()}
    assert fetched == {
        "http://site.example/seed1",
        "http://site.example/seed2",
        "http://site.example/w1a",
        "http://site.example/w1b",
    }
    next_fetch = {
        r["canonical_url"] for r in pending_fetch_list(spark, fdir, pdir).collect()
    }
    assert next_fetch == {"http://site.example/w2"}  # the new hop only

    # wave 2 fetches /w2, which only links back into the crawled set:
    # the loop reaches its fixed point — nothing left to fetch
    (landing / "wave2.warc").write_bytes(
        _linked_record("http://site.example/w2", "w2", ["/seed2", "/w1b"])
    )
    drain()
    assert pending_fetch_list(spark, fdir, pdir).count() == 0
    # and the index holds exactly the five fetched pages
    assert idx.read().select("source").distinct().count() == 5
