"""Frontier admission — the edge that closes the crawl loop.

Round 13 built the three sides of a crawler: seed discovery
(``functions.sitemap``), the politeness fetch plan
(``functions.robots.fetch_schedule``), and link extraction
(``functions.links.page_links``) — but nothing ADMITTED discovered
URLs into the persisted frontier, so they were disconnected batch
operators. This module is the feedback edge: discovered URLs
(extracted links, sitemap seeds — any frame with a URL column) become
persisted, fetchable frontier candidates, exactly once.

State layout — status is the DIRECTORY, not a column:

- ``frontier_dir`` (``streaming.web_ingest``): every page ever KEPT
  by the ingest — the *fetched* set;
- ``pending_dir`` (this module): every URL ever ADMITTED and not
  yet known fetched — the *pending* set. Same ``(canonical_url,
  host)`` schema, same ``batch_id=<n>`` per-wave layout, same
  fenced reads, compaction, and takedown machinery
  (:func:`streaming.web_ingest.read_frontier` /
  :func:`compact_frontier` / :func:`delete_frontier_urls` all work
  on either directory).

Keeping the two sets in separate append-only directories instead of
rewriting a status column is the Spark-native choice: a fetch never
UPDATES a pending row — the fetched row lands in ``frontier_dir`` and
supersedes it, and the *fetch list* is simply ``pending ANTI fetched``
(:func:`pending_fetch_list`). No per-row mutation, no compare-and-swap,
no read-modify-write cycle on 100 TB of crawl state.

Admission semantics (:func:`admit_frontier_candidates`):

1. candidates are CANONICALIZED with the crawl's one URL contract
   (``functions.url.with_canonical_url`` — the same key the fetched
   frontier, the seeds, and the edge table use), non-absolute URLs
   dropped;
2. deduped within the wave;
3. anti-joined against ALL existing frontier state — fetched AND
   pending (the pending read excludes the wave's own directory, the
   ``read_frontier(exclude_batch=...)`` replay guard);
4. optionally robots-gated (a polite crawl never admits a URL its
   own permission table forbids — pass a prepared
   :class:`functions.robots.RobotsGate` for streaming reuse, or a
   parsed rules frame for one-shots);
5. optionally host-capped ACROSS waves: existing fetched+pending
   rows consume quota, new candidates rank by bytewise
   ``canonical_url`` (deterministic across replays);
6. written ``mode=overwrite`` under ``batch_id=<wave>`` — a replayed
   wave recomputes the identical admitted set from the same inputs
   (steps 1-5 are deterministic and its own rows are excluded from
   the read), so the rewrite converges from every crash position.
   No URL is ever admitted twice: within a wave by the overwrite,
   across waves by the anti-join.

At scale: the anti-join's big side is the candidate set (bounded by
links/batch); fetched+pending grow with the crawl, so neither side
carries a broadcast hint — AQE broadcasts while small, shuffles on
``canonical_url`` once not. The host-cap window shuffles candidates
once on ``host``; quota counts aggregate the frontier on the same key.

A crawler's fetch plan has TWO wave sources, deliberately separate:

- **discovery waves** — :func:`pending_fetch_list` (this module):
  URLs never fetched; admission's anti-join guarantees each is
  fetched at most once;
- **refresh waves** — ``functions.sitemap.recrawl_candidates``: URLs
  already fetched whose publisher-claimed ``lastmod`` outruns our
  fetch time. Refresh is NOT admission (a recrawl candidate is in the
  fetched set by definition, exactly what the anti-join rejects) and
  never needs the frontier mutated: re-ingesting a recaptured page is
  idempotent by content-addressed ids, and its frontier row already
  exists. Both lists feed the same ``fetch_schedule``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.drive import (
    write_batch,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.web_ingest import (
    FRONTIER_SCHEMA,
    read_frontier,
)


def admit_frontier_candidates(
    spark: SparkSession,
    frontier_dir: str,
    pending_dir: str,
    candidates: DataFrame,
    wave: int,
    url_col: str = "url",
    robots_gate=None,
    robots_rules: DataFrame | None = None,
    robots_agent: str = "*",
    host_cap: int | None = None,
) -> dict:
    """Admit discovered URLs into the pending frontier (module doc for
    the exactly-once semantics). ``candidates`` is any frame with a
    ``url_col`` column — ``page_links`` dsts, ``sitemap_seed_table``
    seeds, operator-supplied URL lists. Returns ``{"wave": wave,
    "n_candidates": distinct-canonical-in, "n_admitted": rows-written}``.

    ``robots_gate`` (a prepared :class:`functions.robots.RobotsGate`)
    takes precedence over ``robots_rules`` + ``robots_agent`` (a
    one-shot parse-rules frame); both gate BEFORE the host cap so a
    forbidden URL never consumes quota, mirroring the ingest funnel.
    """
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.url import (
        with_canonical_url,
    )

    cand = with_canonical_url(
        candidates.select(F.col(url_col).alias("url")),
        url_col="url",
        out_col="canonical_url",
        host_col="host",
    ).filter(
        # non-absolute URLs pass through the canonicalizer unchanged
        # with host='' — junk hrefs and relative leftovers never
        # become frontier rows
        F.col("host") != ""
    )
    cand = cand.select("canonical_url", "host").distinct()
    # counts ride the write job as observed metrics instead of their
    # own count() actions (each count plus its supporting eager
    # localCheckpoint was a separate Spark job — ~15 fixed-overhead
    # jobs per wave at fixture scale; the candidate plan is consumed
    # exactly once below, so no checkpoint is needed either)
    obs_cand = Observation()
    cand = cand.observe(obs_cand, F.count(F.lit(1)).alias("n"))

    fetched = read_frontier(spark, frontier_dir)
    pending = read_frontier(spark, pending_dir, exclude_batch=wave)
    known = fetched.select("canonical_url").union(
        pending.select("canonical_url")
    )
    fresh = cand.join(known, "canonical_url", "left_anti")

    if robots_gate is None and robots_rules is not None:
        from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
            RobotsGate,
        )

        robots_gate = RobotsGate(robots_rules, agent=robots_agent)
    if robots_gate is not None:
        fresh = (
            robots_gate(fresh, url_col="canonical_url")
            .filter(F.col("allowed") == 1)
            .select("canonical_url", "host")
        )

    if host_cap is not None:
        # quota counts distinct LOGICAL urls: in the closed loop a
        # fetched URL deliberately keeps its superseded pending row
        # (module doc), and replayed/compacted dirs may hold more
        # copies — a plain UNION ALL count would charge each such URL
        # twice and erode the effective cap toward cap/2
        taken = (
            fetched.select("canonical_url", "host")
            .union(pending.select("canonical_url", "host"))
            .distinct()
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("_taken"))
        )
        w = Window.partitionBy("host").orderBy("canonical_url")
        fresh = (
            fresh.withColumn("_rk", F.row_number().over(w))
            .join(taken, "host", "left")
            .filter(
                F.col("_rk") + F.coalesce(F.col("_taken"), F.lit(0))
                <= host_cap
            )
            .drop("_rk", "_taken")
        )

    obs_adm = Observation()
    admitted = fresh.select("canonical_url", "host").observe(
        obs_adm, F.count(F.lit(1)).alias("n")
    )
    write_batch(admitted, pending_dir, wave)
    return {
        "wave": wave,
        "n_candidates": obs_cand.get["n"],
        "n_admitted": obs_adm.get["n"],
    }


def pending_fetch_list(
    spark: SparkSession, frontier_dir: str, pending_dir: str
) -> DataFrame:
    """What to fetch next: every admitted URL not yet fetched —
    ``pending ANTI fetched`` on the canonical key (module doc: a fetch
    supersedes its pending row instead of mutating it). Feed this to
    ``functions.robots.fetch_schedule`` (optionally PageRank-ranked)
    for the politeness plan. Distinct: the same URL admitted in two
    waves cannot happen (anti-join), but a compacted dir plus a
    replayed wave's dir may briefly hold duplicate rows — the fetch
    list must never double-fetch."""
    fetched = read_frontier(spark, frontier_dir)
    pending = read_frontier(spark, pending_dir)
    return (
        pending.join(
            fetched.select("canonical_url"), "canonical_url", "left_anti"
        )
        .select("canonical_url", "host")
        .distinct()
    )


__all__ = [
    "FRONTIER_SCHEMA",
    "admit_frontier_candidates",
    "pending_fetch_list",
]
