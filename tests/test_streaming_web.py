"""Streaming web ingest (streaming/web_ingest.py): stream == batch
funnel parity on one drain; cross-batch canonical-URL frontier and
host cap; replay idempotence."""

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.embed.providers import (
    HashEmbedder,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table import (
    VectorIndex,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.warc import (
    load_warc_records,
    web_crawl_documents,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.ingest import (
    docs_to_records,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.web_ingest import (
    read_frontier,
    start_web_ingest_stream,
)


def _http(body: bytes) -> bytes:
    return (
        f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body


def _record(url: str, marker: str) -> bytes:
    body = _http(
        f"<p>page {marker} carrying enough visible words to pass the "
        f"main-content length gate easily</p>".encode()
    )
    head = (
        f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
        f"Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode()
    return head + body + b"\r\n\r\n"


SEG1 = (
    _record("http://a.example/x?utm_source=f", "ax")
    + _record("http://a.example/y", "ay")
    + _record("http://b.example/1", "b1")
)
# seg2: a recapture of a.example/x under a different spelling, a new
# page on a (host already at cap 2), and a genuinely new host
SEG2 = (
    _record("HTTP://A.EXAMPLE:80/x", "ax-recapture")
    + _record("http://a.example/z", "az-overcap")
    + _record("http://c.example/1", "c1")
)


def _drain(spark, landing, tmp, idx, cap=2):
    q = start_web_ingest_stream(
        spark,
        str(landing),
        idx,
        HashEmbedder(dimension=16),
        checkpoint_dir=f"{tmp}/ckpt",
        frontier_dir=f"{tmp}/frontier",
        host_cap=cap,
    )
    q.awaitTermination(120)


@pytest.fixture()
def setup(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    idx = VectorIndex(spark, str(tmp_path / "idx"), "web-stream").create(dimension=16)
    return landing, idx


def _sources(idx):
    return {r["source"] for r in idx.read().select("source").distinct().collect()}


def test_single_drain_matches_batch_funnel(spark, tmp_path, setup):
    landing, idx = setup
    (landing / "seg-0.warc").write_bytes(SEG1)
    _drain(spark, landing, tmp_path, idx)

    batch_docs = web_crawl_documents(
        load_warc_records(spark, str(landing)), host_cap=2
    )
    bidx = VectorIndex(spark, str(tmp_path / "bidx"), "web-batch").create(dimension=16)
    bidx.upsert(
        docs_to_records(
            batch_docs.select("text", "source"), HashEmbedder(dimension=16), scrub=True
        ),
        batch=0,
    )
    stream_rows = {
        (r["id"], r["source"], r["text"])
        for r in idx.read().select("id", "source", "text").collect()
    }
    batch_rows = {
        (r["id"], r["source"], r["text"])
        for r in bidx.read().select("id", "source", "text").collect()
    }
    assert stream_rows == batch_rows and stream_rows


def test_cross_batch_frontier_and_host_cap(spark, tmp_path, setup):
    landing, idx = setup
    (landing / "seg-0.warc").write_bytes(SEG1)
    _drain(spark, landing, tmp_path, idx)
    n_after_1 = idx.read().count()
    assert _sources(idx) == {
        "http://a.example/x?utm_source=f#0",
        "http://a.example/y#1",
        "http://b.example/1#2",
    }

    (landing / "seg-1.warc").write_bytes(SEG2)
    _drain(spark, landing, tmp_path, idx)
    # recapture of a/x: frontier-skipped; a/z: host a already at cap 2
    # from batch 1; only c.example/1 lands
    assert _sources(idx) == {
        "http://a.example/x?utm_source=f#0",
        "http://a.example/y#1",
        "http://b.example/1#2",
        "http://c.example/1#2",
    }
    assert idx.read().count() > n_after_1

    frontier = read_frontier(spark, f"{tmp_path}/frontier")
    kept = {
        (r["canonical_url"], r["host"]) for r in frontier.collect()
    }
    assert ("http://a.example/x", "a.example") in kept
    assert len(kept) == 4  # one frontier row per kept page, no dupes

    # replay with the same checkpoint: nothing new
    before = idx.read().count()
    _drain(spark, landing, tmp_path, idx)
    assert idx.read().count() == before
    assert read_frontier(spark, f"{tmp_path}/frontier").count() == 4


def test_robots_gate_blocks_disallowed(spark, tmp_path, setup):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
        parse_robots_rules,
    )

    landing, idx = setup
    (landing / "s1.warc").write_bytes(SEG1 + SEG2)
    pages = spark.createDataFrame(
        [
            # blocks /y and /z on a.example; /x allowed
            ("a.example", "User-agent: *\nDisallow: /y\nDisallow: /z"),
            # blocks everything on c.example for our agent only
            ("c.example", "User-agent: testbot\nDisallow: /"),
        ],
        "host string, body string",
    )
    rules = parse_robots_rules(pages)
    q = start_web_ingest_stream(
        spark,
        str(landing),
        idx,
        HashEmbedder(dimension=16),
        checkpoint_dir=f"{tmp_path}/ckpt",
        frontier_dir=f"{tmp_path}/frontier",
        host_cap=2,
        robots_rules=rules,
        robots_agent="TestBot",
    )
    q.awaitTermination(120)
    kept_urls = {
        r["source"].rsplit("#", 1)[0]
        for r in idx.read().select("source").collect()
    }
    # a.example: /x kept (first capture), /y and /z robots-blocked;
    # b.example unrestricted; c.example blocked for testbot
    assert kept_urls == {"http://a.example/x?utm_source=f", "http://b.example/1"}
    # blocked pages never entered the frontier or consumed host quota
    frontier = read_frontier(spark, f"{tmp_path}/frontier")
    assert frontier.count() == 2
    assert frontier.filter(F.col("host") == "c.example").count() == 0


def test_full_replay_converges(spark, tmp_path, setup):
    """Crash-replay convergence (r12 review regression): replaying
    already-processed batches (fresh checkpoint, existing frontier +
    index) must leave the frontier and index EXACTLY as they were —
    the replay reads the frontier excluding each batch's own subdir,
    so mode=overwrite rewrites the same rows instead of erasing them."""
    import shutil

    landing, idx = setup
    (landing / "s1.warc").write_bytes(SEG1)
    _drain(spark, landing, tmp_path, idx)
    (landing / "s2.warc").write_bytes(SEG2)
    _drain(spark, landing, tmp_path, idx)

    frontier_before = {
        (r["canonical_url"], r["host"])
        for r in read_frontier(spark, f"{tmp_path}/frontier").collect()
    }
    index_before = {
        (r["id"], r["source"]) for r in idx.read().select("id", "source").collect()
    }
    assert frontier_before  # sanity: state exists

    # simulate losing the streaming checkpoint: every batch replays
    shutil.rmtree(f"{tmp_path}/ckpt")
    _drain(spark, landing, tmp_path, idx)

    frontier_after = {
        (r["canonical_url"], r["host"])
        for r in read_frontier(spark, f"{tmp_path}/frontier").collect()
    }
    index_after = {
        (r["id"], r["source"]) for r in idx.read().select("id", "source").collect()
    }
    assert frontier_after == frontier_before
    assert index_after == index_before


SEG3 = (
    _record("http://d.example/1", "d1")
    + _record("http://d.example/2", "d2")
)


def test_frontier_compaction_preserves_state_and_replay(spark, tmp_path, setup):
    """Round-13 frontier maintenance: after 3 micro-batches, compaction
    folds the settled batch dirs into one batch_id=-1 dir; the read is
    row-identical, and a full crash-replay (checkpoint lost, every
    batch re-runs) still converges to the identical frontier + index —
    folded rows stay visible via -1, so the exclude-own-dir read can't
    hide them and the replay is a no-op."""
    import os
    import shutil

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.web_ingest import (
        compact_frontier,
    )

    landing, idx = setup
    for name, seg in (("s1.warc", SEG1), ("s2.warc", SEG2), ("s3.warc", SEG3)):
        (landing / name).write_bytes(seg)
        _drain(spark, landing, tmp_path, idx)
    fdir = f"{tmp_path}/frontier"
    before = {
        (r["canonical_url"], r["host"])
        for r in read_frontier(spark, fdir).collect()
    }
    index_before = {
        (r["id"], r["source"]) for r in idx.read().select("id", "source").collect()
    }
    assert len(before) == 6  # 4 from SEG1+SEG2 plus d.example/1,2

    stats = compact_frontier(spark, fdir, keep_latest=1)
    assert stats["folded"] == 2 and stats["rows"] > 0
    dirs = {e.name for e in os.scandir(fdir) if e.name.startswith("batch_id=")}
    assert dirs == {"batch_id=-1", "batch_id=2"}
    after = {
        (r["canonical_url"], r["host"])
        for r in read_frontier(spark, fdir).collect()
    }
    assert after == before

    # crash-replay over the compacted frontier: state identical
    shutil.rmtree(f"{tmp_path}/ckpt")
    _drain(spark, landing, tmp_path, idx)
    assert {
        (r["canonical_url"], r["host"])
        for r in read_frontier(spark, fdir).collect()
    } == before
    assert {
        (r["id"], r["source"]) for r in idx.read().select("id", "source").collect()
    } == index_before

    # keep_latest=0 is a replay hazard (could fold a partial batch)
    with pytest.raises(ValueError, match="keep_latest"):
        compact_frontier(spark, fdir, keep_latest=0)


def test_frontier_torn_compaction_is_loud_then_recovers(spark, tmp_path, setup, monkeypatch):
    """Crash MID-compaction (marker still on disk): every frontier
    read — and therefore the ingest stream itself — fails loudly
    instead of serving a shrunken frontier; after the documented
    recovery (swap finished, delete the marker) the state is exactly
    the pre-crash frontier and a replay converges."""
    import shutil

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources import layout
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.web_ingest import (
        compact_frontier,
    )

    landing, idx = setup
    for name, seg in (("s1.warc", SEG1), ("s2.warc", SEG2), ("s3.warc", SEG3)):
        (landing / name).write_bytes(seg)
        _drain(spark, landing, tmp_path, idx)
    fdir = f"{tmp_path}/frontier"
    before = {
        (r["canonical_url"], r["host"])
        for r in read_frontier(spark, fdir).collect()
    }

    # crash at the final marker delete: swap complete, fence left up
    real_remove = layout.os.remove

    def crash_on_marker(path):
        if path.endswith(layout.SWAP_MARKER):
            raise OSError("simulated crash before marker delete")
        return real_remove(path)

    monkeypatch.setattr(layout.os, "remove", crash_on_marker)
    with pytest.raises(OSError, match="simulated crash"):
        compact_frontier(spark, fdir, keep_latest=1)
    monkeypatch.setattr(layout.os, "remove", real_remove)

    with pytest.raises(RuntimeError, match="torn"):
        read_frontier(spark, fdir)
    # the stream refuses to run over a torn frontier too
    (landing / "s4.warc").write_bytes(_record("http://e.example/1", "e1"))
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException):
        _drain(spark, landing, tmp_path, idx)

    # recovery: this crash position is AFTER the swap completed, so
    # the fix is to delete the marker (layout.py's documented protocol)
    real_remove(layout.marker_path_for(fdir))
    assert {
        (r["canonical_url"], r["host"])
        for r in read_frontier(spark, fdir).collect()
    } == before
    shutil.rmtree(f"{tmp_path}/ckpt")
    _drain(spark, landing, tmp_path, idx)
    got = {
        (r["canonical_url"], r["host"])
        for r in read_frontier(spark, fdir).collect()
    }
    assert got == before | {("http://e.example/1", "e.example")}


def test_inline_compaction_rides_the_ingest_loop(spark, tmp_path, setup):
    """compact_every folds settled batches from inside foreachBatch:
    after 4 single-segment drains with compact_every=2, only the
    compacted dir and the newest batch dirs remain, the frontier rows
    are intact, and a further drain keeps working."""
    import os

    landing, idx = setup
    segs = [
        SEG1,
        SEG2,
        SEG3,
        _record("http://f.example/1", "f1"),
    ]
    fdir = f"{tmp_path}/frontier"
    for i, seg in enumerate(segs):
        (landing / f"s{i}.warc").write_bytes(seg)
        q = start_web_ingest_stream(
            spark,
            str(landing),
            idx,
            HashEmbedder(dimension=16),
            checkpoint_dir=f"{tmp_path}/ckpt",
            frontier_dir=fdir,
            host_cap=2,
            compact_every=2,
        )
        q.awaitTermination(120)
    rows = {
        (r["canonical_url"], r["host"])
        for r in read_frontier(spark, fdir).collect()
    }
    assert len(rows) == 7  # 4 + d1,d2 + f1
    dirs = sorted(
        e.name for e in os.scandir(fdir) if e.name.startswith("batch_id=")
    )
    # the fold after batch 1 was a min_fold no-op (one foldable dir);
    # the fold after batch 3 moved 0,1,2 into -1; batch 3 stays
    assert dirs == ["batch_id=-1", "batch_id=3"]


def test_robots_gate_kernel_path_in_stream(spark, tmp_path, setup):
    """A dense rule set (>= the kernel threshold) routes the stream's
    robots gate through the compiled-pattern Arrow kernel inside
    foreachBatch; verdict behavior is unchanged — the kernel and
    expression paths are parity-pinned, this pins the DISPATCH works
    end-to-end in a streaming micro-batch."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
        KERNEL_RULES_PER_HOST,
        parse_robots_rules,
    )

    landing, idx = setup
    (landing / "s1.warc").write_bytes(SEG1)
    # a.example: many dummy disallows (forcing the kernel path) plus
    # the real /y block; b.example unrestricted
    lines = ["User-agent: *"] + [
        f"Disallow: /never{i}/" for i in range(KERNEL_RULES_PER_HOST + 4)
    ] + ["Disallow: /y"]
    rules = parse_robots_rules(
        spark.createDataFrame(
            [("a.example", "\n".join(lines))], "host string, body string"
        )
    )
    q = start_web_ingest_stream(
        spark,
        str(landing),
        idx,
        HashEmbedder(dimension=16),
        checkpoint_dir=f"{tmp_path}/ckpt",
        frontier_dir=f"{tmp_path}/frontier",
        host_cap=2,
        robots_rules=rules,
        robots_agent="TestBot",
    )
    q.awaitTermination(120)
    kept = {
        r["source"].rsplit("#", 1)[0]
        for r in idx.read().select("source").collect()
    }
    assert kept == {"http://a.example/x?utm_source=f", "http://b.example/1"}
