"""Streaming web ingest (SURVEY.md §2k × the web funnel): WARC
segments landing in a directory drive the crawl-curation funnel
incrementally — parse → extract → canonical-URL dedup against a
PERSISTED frontier → cross-batch host cap → scrub → chunk → embed →
``VectorIndex`` upsert.

This is the streaming twin of ``sources.warc.web_crawl_documents`` +
``corpus_web_ingest_funnel``: a real crawl does not arrive as one
batch, and URL dedup / host caps must hold ACROSS micro-batches. The
cross-batch state is a parquet **frontier** table ``(canonical_url,
host)`` of every page ever kept — the streaming/neardup.py persisted-
sidecar pattern:

- arriving pages (already first-capture-deduped within the batch)
  LEFT ANTI join the frontier on ``canonical_url`` — recaptures of
  an already-ingested page never reach the embedder;
- the host cap counts the frontier's kept pages per host, so a host
  that filled its quota in batch 1 admits nothing in batch 9.

Exactly-once end state without transactions, by ORDER of effects per
micro-batch: (1) index upsert (content-addressed ids — idempotent),
(2) frontier write, per-batch ``batch_id=<n>`` subdirectory with
``mode=overwrite``. The replay reads the frontier EXCLUDING the
batch's own subdirectory (``read_frontier(exclude_batch=...)``), so
from every crash position — before (1), between (1) and (2), mid-(2)
with a partial dir, after (2) — the batch recomputes exactly the
original kept set from the same inputs: the upsert re-applies the
same content-addressed ids and the overwrite rewrites the same
frontier rows. The end state converges without the batch ever seeing
(and erasing or shrinking) its own partial output.

Frontier maintenance (round 13): the one-dir-per-micro-batch layout
is replay-correct but accumulates forever — the classic streaming
small-files problem ``sources.compaction`` already solves for the
other ``batch_id=<n>`` sinks. :func:`compact_frontier` folds the
settled batches into one ``batch_id=-1`` dir under the marker-fenced
swap, and :func:`read_frontier` FENCES every read with
``check_not_torn`` — a crash mid-compaction is loud, never a silently
shrunken frontier (which would re-admit already-ingested pages).
Folded rows stay visible to replays of their original batch via the
``-1`` dir; because the replayed batch's rows are no longer under its
own ``batch_id=<n>`` dir, the exclude-own-dir read can't hide them,
and the anti-join simply keeps the replay a no-op. The one state
compaction must never touch is a possibly-PARTIAL latest batch (a
crash mid-(2) leaves a short dir; folding it would freeze the
truncation into ``-1`` where the replay exclusion can't see past it)
— hence ``keep_latest >= 1`` is enforced, which under availableNow /
sequential-trigger semantics covers every batch that can still
replay.

At scale: the frontier is the small table (one 2-string row per KEPT
page, not per capture) but it GROWS with the crawl, so the anti-join
carries no broadcast hint — AQE broadcasts it while it is small and
shuffles on ``canonical_url`` once it is not; either way the cost is
bounded by kept-page count, never by crawl bytes.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.embed.providers import (
    EmbeddingProvider,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.url import (
    url_host,
    with_canonical_url,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table import (
    VectorIndex,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.layout import (
    delete_keys,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.warc import (
    _extracted_pages,
    records_from_binary,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.drive import (
    read_batches,
    start,
    write_batch,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.ingest import (
    docs_to_records,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery

FRONTIER_SCHEMA = "canonical_url string, host string"


def read_frontier(
    spark: SparkSession, frontier_dir: str, exclude_batch: int | None = None
) -> DataFrame:
    """Every (canonical_url, host) ever kept; empty frame if none.
    Fenced: raises loudly if a compaction swap died mid-flight
    (``check_not_torn``) — a torn frontier read would silently shrink
    the kept set and re-admit already-ingested pages.

    ``exclude_batch`` skips that batch's own subdirectory — the replay
    guard: a batch that crashed AFTER its frontier write replays with
    its own rows visible, which would empty the anti-join and make the
    ``mode=overwrite`` rewrite erase the batch's frontier state (and a
    crash MID-write would leave a partial dir that silently shrinks
    the recomputed set). Excluding batch N's dir makes the replay
    recompute exactly the original kept set from the same inputs, so
    the rewrite is idempotent from every crash position. Rows folded
    into the compacted ``batch_id=-1`` dir are never excluded — see
    the module doc for why that preserves replay convergence."""
    return read_batches(
        spark, frontier_dir, FRONTIER_SCHEMA, exclude_batch
    ).drop("batch_id")


def compact_frontier(
    spark: SparkSession,
    frontier_dir: str,
    keep_latest: int = 1,
    min_fold: int = 2,
    target_files: int = 1,
) -> dict:
    """Fold the settled ``batch_id=<n>`` frontier dirs into one
    ``batch_id=-1`` dir (``sources.compaction`` machinery: row-count
    verified, marker-fenced swap; a crash mid-swap is detected by
    every subsequent :func:`read_frontier`).

    ``keep_latest`` must stay >= 1: the newest batch is the only one
    that can be mid-write or replay-pending under availableNow /
    sequential triggers, and folding a PARTIAL dir would freeze its
    truncation into ``-1`` (module doc). Callers running concurrent
    or overlapping triggers should raise it to cover every
    possibly-uncommitted batch. Run every N micro-batches or from a
    maintenance schedule; readers need no change."""
    if keep_latest < 1:
        raise ValueError(
            "compact_frontier requires keep_latest >= 1: the newest "
            "batch may be partial or replay-pending and must never fold"
        )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.compaction import (
        compact_batch_partitions,
    )

    return compact_batch_partitions(
        spark,
        frontier_dir,
        keep_latest=keep_latest,
        min_fold=min_fold,
        target_files=target_files,
    )


def delete_frontier_urls(
    spark: SparkSession, frontier_dir: str, urls: DataFrame | list[str]
) -> dict:
    """Right-to-be-forgotten on the crawl frontier: a URL is personal
    data under the same rationale as the near-dup signature hook
    (``streaming/neardup.py``) — a forget request that purges a page's
    vectors and postings must also purge its ``(canonical_url, host)``
    frontier row, or the engine retains a record that the page was
    ever crawled. Requests arrive as URLs in ANY spelling; they are
    canonicalized here with the same contract the ingest used, so the
    caller doesn't need to know the canonical form.

    Touched-partition discipline (the shape of every layout hook):
    column-pruned discovery scan finds the ``batch_id=<n>`` dirs
    holding the victims, an anti-join rewrites ONLY those dirs, and
    the marker-fenced swap keeps a crash detectable by
    :func:`read_frontier`'s fence. Deleting absent URLs is a no-op, so
    replayed takedown batches converge.

    Quota semantics — FREED, by design: the host-cap counts live
    frontier rows, so forgetting a page returns its slot and a future
    page on that host (including a re-capture of the forgotten URL
    itself) can take it. The engine keeps no memory of a forgotten
    document; a host whose quota must stay burned needs an external
    blocklist, not a takedown.

    Returns ``{"n_deleted": rows_removed, "touched": [batch_ids]}``.
    """
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.url import (
        canonicalize_url,
    )

    if isinstance(urls, (list, tuple)):
        urls = spark.createDataFrame([(u,) for u in urls], "url string")
    victims = (
        urls.select(
            canonicalize_url(F.col(urls.columns[0])).alias("canonical_url")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # the rewrite needs each row's batch_id lineage
    t = read_batches(spark, frontier_dir, FRONTIER_SCHEMA)
    n_deleted, touched = delete_keys(
        t, frontier_dir, "batch_id", victims, "canonical_url"
    )
    return {"n_deleted": n_deleted, "touched": touched}


def start_web_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    index: VectorIndex,
    provider: EmbeddingProvider,
    checkpoint_dir: str,
    frontier_dir: str,
    host_cap: int | None = None,
    main_content: bool = True,
    scrub: bool = True,
    glob: str = "*.warc*",
    robots_rules: DataFrame | None = None,
    robots_agent: str = "*",
    compact_every: int | None = None,
    pending_dir: str | None = None,
    admit_host_cap: int | None = None,
) -> "StreamingQuery":
    """Start the incremental web-crawl ingest on ``landing_dir``
    (module doc: funnel semantics, frontier state, crash ordering).

    The stream drains the directory then stops
    (``streaming.drive.start``); restart with the same
    ``checkpoint_dir`` + ``frontier_dir`` to continue — segments
    already processed are skipped by the checkpoint, pages already
    kept are skipped by the frontier.

    ``robots_rules`` (parsed via ``functions.robots.parse_robots_rules``,
    one row per (host, agent, rule, pattern)) applies the RFC 9309
    crawl-permission gate for ``robots_agent`` between canonical dedup
    and the host cap: disallowed pages never reach the embedder, never
    enter the frontier, and never consume host quota. A polite crawl
    filters BEFORE fetch; this gate is the archive-replay equivalent —
    captures whose current policy forbids them are dropped at ingest.

    ``compact_every=N`` folds the frontier's settled batch dirs every N
    micro-batches (:func:`compact_frontier`, ``keep_latest=1`` — the
    just-written batch is the newest and stays unfolded, so replay
    semantics hold). Maintenance rides the ingest loop instead of
    needing an external schedule; a crash mid-fold is caught by the
    fenced reads either way.

    ``pending_dir`` closes the crawl loop (round 14): each
    micro-batch's extracted links (``functions.links.page_links`` over
    the batch's decoded HTML) are ADMITTED into the pending frontier
    at ``pending_dir`` via
    :func:`streaming.frontier_admit.admit_frontier_candidates` —
    canonical anti-join against fetched + pending, the same robots
    gate, ``admit_host_cap`` quota across waves. Admission runs AFTER
    the batch's frontier write, so a replay always admits against the
    converged fetched set; its own wave dir is excluded from the
    pending read, so the overwrite recomputes the identical set from
    every crash position. ``compact_every`` folds the pending dirs on
    the same cadence."""
    stream = (
        spark.readStream.format("binaryFile")
        # the binaryFile format's fixed schema — streaming file
        # sources require it stated explicitly
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("recursiveFileLookup", True)
        .option("pathGlobFilter", glob)
        .load(landing_dir)
    )

    # the rules table is static across the stream's lifetime: probe
    # the density, select the path, and (kernel path) collect +
    # broadcast the host→rules map ONCE here — not per micro-batch
    robots_gate = None
    if robots_rules is not None:
        from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
            RobotsGate,
        )

        robots_gate = RobotsGate(robots_rules, agent=robots_agent)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        records = records_from_binary(batch_df)
        pages = with_canonical_url(
            _extracted_pages(records, 200, 299, main_content)
        )
        order = F.struct(F.col("segment"), F.col("record_index"))
        payload = F.struct(
            F.col("text"), F.col("url"), F.col("segment"), F.col("record_index")
        )
        first = (
            pages.groupBy("canonical_url")
            .agg(F.min_by(payload, order).alias("s"))
            .select("canonical_url", "s.*")
            .withColumn("host", url_host("url"))
        )
        if robots_gate is not None:
            # size-aware dispatch prepared at stream construction
            # (density probe + kernel collect/broadcast happen once,
            # not per micro-batch)
            first = (
                robots_gate(first)
                .filter(F.col("allowed") == 1)
                .drop("allowed", "matched_rule", "matched_pattern", "target")
            )
        frontier = read_frontier(spark, frontier_dir, exclude_batch=batch_id)
        # no broadcast hint: the frontier is the GROWING side (every
        # page ever kept) — forcing it into a broadcast would collect
        # the whole crawl history to the driver each micro-batch. AQE
        # broadcasts it while it is small and shuffles on
        # canonical_url once it is not.
        fresh = first.join(
            frontier.select("canonical_url"), "canonical_url", "left_anti"
        )
        if host_cap is not None:
            taken = frontier.groupBy("host").agg(F.count("*").alias("_taken"))
            w = Window.partitionBy("host").orderBy("segment", "record_index")
            fresh = (
                fresh.withColumn("_rk", F.row_number().over(w))
                .join(taken, "host", "left")  # grows with hosts: AQE decides
                .filter(
                    F.col("_rk") + F.coalesce(F.col("_taken"), F.lit(0)) <= host_cap
                )
                .drop("_rk", "_taken")
            )
        kept = fresh.localCheckpoint(eager=True)  # one computation, two sinks
        docs = kept.select(
            "text",
            F.concat_ws(
                "#", F.col("url"), F.col("record_index").cast("string")
            ).alias("source"),
        )
        index.upsert(docs_to_records(docs, provider, scrub=scrub), batch=batch_id)
        # frontier LAST (crash ordering, module doc); overwrite makes
        # a replayed batch rewrite the same path instead of doubling
        # host counts
        write_batch(kept.select("canonical_url", "host"), frontier_dir, batch_id)
        if pending_dir is not None:
            # crawl-loop closure: the batch's extracted links become
            # pending frontier candidates. After the frontier write
            # (docstring: replay sees the converged fetched set).
            from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.links import (
                page_links,
            )
            from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.warc import (
                html_pages,
            )
            from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.frontier_admit import (
                admit_frontier_candidates,
            )

            links = page_links(html_pages(records))
            admit_frontier_candidates(
                spark,
                frontier_dir,
                pending_dir,
                links.select(F.col("dst").alias("url")),
                wave=batch_id,
                robots_gate=robots_gate,
                host_cap=admit_host_cap,
            )
        if compact_every is not None and (batch_id + 1) % compact_every == 0:
            compact_frontier(spark, frontier_dir, keep_latest=1)
            if pending_dir is not None:
                compact_frontier(spark, pending_dir, keep_latest=1)

    return start(stream, checkpoint_dir, each_batch=_process)
