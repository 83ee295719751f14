"""The full web-crawl ingest funnel (round 12): WARC container →
HTML main-content extraction → canonical-URL dedup → per-host cap →
PII scrub → chunk → embed → vector index — the actual shape of a
100 TB web ingest, end to end, with a full-value DuckDB oracle.

Reference lifecycle analog: ``scripts/ingest_documents.py:108-233``
(load → chunk → embed → upsert); the web stages in front are what a
crawl-scale corpus needs before that lifecycle may run.

Fixture strategy (the ``corpus_scrub_ingest_pipeline`` convention,
extended): a deterministic messy crawl is PLANTED from doc_id
arithmetic — URL case/port/fragment/tracking-param/trailing-slash
variants that collide in pairs after canonicalization, nav-heavy HTML
chrome around each document's text, planted PII, a latin-1 charset
leg, and a chunked transfer-encoding leg — then the Spark side writes
REAL ``.warc.gz`` bytes (per-record gzip members) and runs the actual
container parse + funnel, while the oracle replays every logical
stage in SQL generated from the same shared constants
(``HTML_STRIP_STEPS`` fold, URL canon SQL, ``PII_PATTERNS`` fold,
recursive-CTE chunker twin). Expected reduction at any sf:
60 captures → 30 canonical URLs → 20 after the host cap (hosts carry
3 survivors each, cap = 2).
"""

from __future__ import annotations

import gzip

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries import (
    load,
    register,
)

N_DOCS = 60
HOST_CAP = 2

# --- the planted crawl, Python side (drives the WARC bytes) ---------------


def _plant_url(d: int) -> str:
    scheme = "HTTP" if d % 2 == 0 else "https"
    port = (":80" if d % 2 == 0 else ":443") if d % 4 == 0 else ""
    slash = "/" if d % 8 == 0 else ""
    q = {0: "?utm_source=feed&b=2&a=1&gclid=Z", 1: "?a=1&b=2", 2: ""}[d % 3]
    frag = "#frag" if d % 5 == 0 else ""
    return f"{scheme}://WWW.Example{d % 10}.COM{port}/p/{d % 30}{slash}{q}{frag}"


def _plant_pii_tail(d: int) -> str:
    tail = f" contact user{d}@example.com from 10.{d % 256}.0.{(d * 7) % 256}"
    if d % 3 == 0:
        tail += f" ssn 123-45-{d % 10000:04d}"
    return tail


def _plant_html(d: int, text: str) -> str:
    return (
        f"<html><head><title>T{d}</title></head><body>"
        f'<nav><a href="/">Home</a> <a href="/s{d % 7}">Section</a> '
        f'<a href="/about">About</a></nav>'
        f"<h1>Document {d} heading with enough words to pass the gate</h1>"
        f"<p>{text}{_plant_pii_tail(d)}</p>"
        f'<p>See also <a href="/d{d % 11}">related doc {d % 11}</a> plus '
        f"café résumé prose keeping the link density of this page low.</p>"
        f'<aside><a href="/x">Link one here</a> <a href="/y">Link two here</a> '
        f'<a href="/z">Link three here</a></aside>'
        f'<footer>&#39;24 <a href="/tos">Terms</a> <a href="/p">Privacy</a></footer>'
        f"</body></html>"
    )


def _warc_segment(rows: list[tuple[int, str]]) -> bytes:
    """One ``.warc.gz`` segment (per-record gzip members) serving the
    planted crawl: every 5th capture is ISO-8859-1 with an
    upper-cased charset'd Content-Type (exercises the charset leg —
    the café/résumé bytes differ from UTF-8), every 7th uses
    ``Transfer-Encoding: chunked`` (exercises the dechunker)."""
    members = []
    for d, text in rows:
        page = _plant_html(d, text)
        if d % 5 == 0:
            body = page.encode("iso-8859-1")
            ctype = "Text/HTML; charset=ISO-8859-1"
        else:
            body = page.encode("utf-8")
            ctype = "text/html; charset=utf-8"
        if d % 7 == 0:
            mid = len(body) // 2
            framed = (
                f"{mid:x}\r\n".encode() + body[:mid] + b"\r\n"
                + f"{len(body) - mid:x}\r\n".encode() + body[mid:] + b"\r\n"
                + b"0\r\n\r\n"
            )
            http = (
                f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n"
                f"Transfer-Encoding: chunked\r\n\r\n"
            ).encode() + framed
        else:
            http = (
                f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode() + body
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Target-URI: {_plant_url(d)}\r\n"
            f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            f"Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode()
        members.append(gzip.compress(head + http + b"\r\n\r\n"))
    return b"".join(members)


# --- the same plant, SQL side (drives the oracle) --------------------------

_BASE_SQL = f"""
SELECT doc_id,
       text || ' contact user' || CAST(doc_id AS VARCHAR)
            || '@example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)
            || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
            || CASE WHEN doc_id % 3 = 0
                    THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE '' END AS text,
       CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END
       || '://WWW.Example' || CAST(doc_id % 10 AS VARCHAR) || '.COM'
       || CASE WHEN doc_id % 4 = 0 THEN
               CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END
          ELSE '' END
       || '/p/' || CAST(doc_id % 30 AS VARCHAR)
       || CASE WHEN doc_id % 8 = 0 THEN '/' ELSE '' END
       || CASE doc_id % 3
            WHEN 0 THEN '?utm_source=feed&b=2&a=1&gclid=Z'
            WHEN 1 THEN '?a=1&b=2'
            ELSE '' END
       || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
FROM documents
WHERE doc_id < {N_DOCS}
"""

_WRAP_SQL = """
SELECT doc_id,
       '<html><head><title>T' || CAST(doc_id AS VARCHAR)
       || '</title></head><body><nav><a href="/">Home</a> <a href="/s'
       || CAST(doc_id % 7 AS VARCHAR)
       || '">Section</a> <a href="/about">About</a></nav>'
       || '<h1>Document ' || CAST(doc_id AS VARCHAR)
       || ' heading with enough words to pass the gate</h1><p>' || text
       || '</p><p>See also <a href="/d' || CAST(doc_id % 11 AS VARCHAR)
       || '">related doc ' || CAST(doc_id % 11 AS VARCHAR)
       || '</a> plus café résumé prose keeping the link density of this page low.</p>'
       || '<aside><a href="/x">Link one here</a> <a href="/y">Link two here</a>'
       || ' <a href="/z">Link three here</a></aside>'
       || '<footer>&#39;24 <a href="/tos">Terms</a> <a href="/p">Privacy</a></footer>'
       || '</body></html>' AS html
FROM base
"""


def _pii_fold() -> tuple[str, str]:
    """(scrubbed-text expression over ``text``, residual-count sum) —
    the PII replay shared by the WARC and WET funnel oracles."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.pii import (
        PII_PATTERNS,
    )

    counts, cur = [], "text"
    for _, pat, token in PII_PATTERNS:
        counts.append(f"len(regexp_extract_all({cur}, '{pat}'))")
        cur = f"regexp_replace({cur}, '{pat}', '{token}', 'g')"
    return cur, " + ".join(counts)  # fold end state IS the scrubbed text


def _funnel_curation_ctes() -> str:
    """The shared curation replay (canonical-URL dedup → per-host cap)
    over the ``base`` CTE — used verbatim by both container-flavor
    funnels (WARC and WET), since the planted URLs and the cap
    arithmetic are identical across them."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries.text_queries import (
        _URL_CANON_SQL,
    )

    return f"""
planted AS (SELECT doc_id, url FROM base),
cu AS ({_URL_CANON_SQL} SELECT doc_id, curl FROM canon),
surv AS (SELECT min(doc_id) AS doc_id, curl FROM cu GROUP BY curl),
hosts AS (
  SELECT doc_id,
         regexp_replace(lower(regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':[0-9]+$', '') AS host
  FROM base
),
capped AS (
  SELECT doc_id FROM (
    SELECT s.doc_id,
           row_number() OVER (PARTITION BY h.host ORDER BY s.doc_id) AS rk
    FROM surv s JOIN hosts h ON s.doc_id = h.doc_id
  ) WHERE rk <= {HOST_CAP}
)"""


def _funnel_tail_sql(residual: str) -> str:
    """The shared index-readback stanza over the ``scrubbed`` CTE:
    content-addressed chunk ids + the PII re-scan column."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries.ingest_queries import (
        chunker_merge_oracle_sql,
    )

    chunked = chunker_merge_oracle_sql("SELECT doc_id, text FROM scrubbed")
    return f"""
SELECT DISTINCT
       'doc_' || local_index || '_' || substr(md5(text), 1, 8) AS id,
       CAST(local_index AS INT) AS chunk_index,
       md5(text) AS chunk_md5,
       CAST({residual} AS BIGINT) AS n_pii_residual
FROM ({chunked})
"""


def _funnel_oracle() -> str:
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.text import (
        html_main_content_sql,
    )

    scrub, residual = _pii_fold()
    return f"""
WITH base AS ({_BASE_SQL}),
{_funnel_curation_ctes()},
wrapped AS (
  SELECT w.doc_id, w.html FROM ({_WRAP_SQL}) w
  JOIN capped c ON w.doc_id = c.doc_id
),
extracted AS (
  SELECT doc_id, {html_main_content_sql("html")} AS text FROM wrapped
),
scrubbed AS (SELECT doc_id, {scrub} AS text FROM extracted)
{_funnel_tail_sql(residual)}
"""


@register("corpus_web_ingest_funnel", _funnel_oracle())
def corpus_web_ingest_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC → index, every stage live: real ``.warc.gz`` bytes (gzip
    members, a latin-1 charset leg, a chunked transfer-encoding leg)
    → container parse (``load_warc_records``) → link-density
    main-content extraction → canonical-URL dedup → per-host cap
    (``web_crawl_documents``) → PII scrub → 500/50 chunker → embed →
    ``VectorIndex`` LWW upsert → read back. Chunk ids are
    content-addressed over the scrubbed extracted text and
    ``n_pii_residual`` re-scans every indexed chunk (must be 0), so a
    defect in ANY stage — mis-decoded charset, chunk framing kept,
    boilerplate leaking into chunks, a dropped or duplicated survivor
    — changes the full-value hash. Collected at the fixture slice
    (60 captures → 20 indexed docs); the dataflow under test is the
    same declarative plan at any scale (plan contract:
    ``tests/test_plans.py`` pins the funnel shuffle-free up to the
    dedup groupBy)."""
    import tempfile

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.embed.providers import (
        HashEmbedder,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.pii import (
        pii_counts,
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

    planted = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < N_DOCS)
        .select("doc_id", "text")
        .collect()
    )
    rows = sorted((r["doc_id"], r["text"]) for r in planted)
    with tempfile.TemporaryDirectory() as tmp:
        with open(f"{tmp}/crawl-00000.warc.gz", "wb") as f:
            f.write(_warc_segment(rows))
        docs = web_crawl_documents(
            load_warc_records(spark, tmp), main_content=True, host_cap=HOST_CAP
        )
        idx = VectorIndex(spark, f"{tmp}/idx", "web-funnel").create(dimension=64)
        idx.upsert(
            docs_to_records(
                docs.select("text", "source"), HashEmbedder(dimension=64), scrub=True
            ),
            batch=0,
        )
        back = idx.read().select("id", "chunk_index", "text")
        collected = back.collect()
    out = spark.createDataFrame(collected, back.schema)
    residual = sum(pii_counts(F.col("text")).values())
    return out.select(
        "id",
        F.col("chunk_index").cast("int").alias("chunk_index"),
        F.md5(F.col("text").cast("binary")).alias("chunk_md5"),
        residual.cast("long").alias("n_pii_residual"),
    ).distinct()


def _wet_segment(rows: list[tuple[int, str]]) -> bytes:
    """One ``.warc.wet.gz`` segment (per-record gzip members) over the
    SAME planted crawl as :func:`_warc_segment` — conversion records
    whose body is the crawl's own extracted text (the planted document
    text + PII tail), UTF-8, no HTTP envelope. Common Crawl's WET
    layout: record-level ``Content-Type: text/plain``."""
    members = []
    for d, text in rows:
        body = (text + _plant_pii_tail(d)).encode("utf-8")
        head = (
            f"WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Target-URI: {_plant_url(d)}\r\n"
            f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            f"Content-Type: text/plain\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        members.append(gzip.compress(head + body + b"\r\n\r\n"))
    return b"".join(members)


def _wet_funnel_oracle() -> str:
    scrub, residual = _pii_fold()
    return f"""
WITH base AS ({_BASE_SQL}),
{_funnel_curation_ctes()},
scrubbed AS (
  SELECT b.doc_id, {scrub} AS text
  FROM base b JOIN capped c ON b.doc_id = c.doc_id
)
{_funnel_tail_sql(residual)}
"""


@register("corpus_wet_funnel", _wet_funnel_oracle())
def corpus_wet_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WET-path ingest funnel (round 14, r12 ask #8): real
    ``.warc.wet.gz`` bytes (gzip members, ``conversion`` records —
    the Common Crawl layout most consumers actually start from) →
    container parse → canonical-URL dedup → per-host cap
    (``wet_crawl_documents`` — the SAME curation code as the WARC
    funnel, only the text source differs) → PII scrub → 500/50
    chunker → embed → ``VectorIndex`` LWW upsert → read back. Shares
    the WARC funnel's planted crawl (same URL-collision variants,
    same PII tails, same 60 → 30 → 20 reduction) and its oracle
    staging; the oracle simply skips the HTML wrap/extract stages
    because WET bodies are already text. Reference analog:
    ``scripts/ingest_documents.py:108-233`` — operator-supplied text
    in, chunk/embed/upsert out."""
    import tempfile

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.embed.providers import (
        HashEmbedder,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.pii import (
        pii_counts,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table import (
        VectorIndex,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.warc import (
        load_warc_records,
        wet_crawl_documents,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.ingest import (
        docs_to_records,
    )

    planted = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < N_DOCS)
        .select("doc_id", "text")
        .collect()
    )
    rows = sorted((r["doc_id"], r["text"]) for r in planted)
    with tempfile.TemporaryDirectory() as tmp:
        with open(f"{tmp}/crawl-00000.warc.wet.gz", "wb") as f:
            f.write(_wet_segment(rows))
        docs = wet_crawl_documents(
            load_warc_records(spark, tmp, glob="*.wet*"), host_cap=HOST_CAP
        )
        idx = VectorIndex(spark, f"{tmp}/idx", "wet-funnel").create(dimension=64)
        idx.upsert(
            docs_to_records(
                docs.select("text", "source"), HashEmbedder(dimension=64), scrub=True
            ),
            batch=0,
        )
        back = idx.read().select("id", "chunk_index", "text")
        collected = back.collect()
    out = spark.createDataFrame(collected, back.schema)
    residual = sum(pii_counts(F.col("text")).values())
    return out.select(
        "id",
        F.col("chunk_index").cast("int").alias("chunk_index"),
        F.md5(F.col("text").cast("binary")).alias("chunk_md5"),
        residual.cast("long").alias("n_pii_residual"),
    ).distinct()


# --- robots.txt exclusion (round 12): the crawl-permission gate ------------
#
# Fixture: 8 hosts, 4 robots.txt shapes (exact-agent group that shadows
# '*', wildcard + '$'-anchored rules with an allow/disallow length
# race, a block-all with a stray pre-group rule and an allow carve-out,
# and a rules-free file), frontier URLs planted from doc_id arithmetic
# over 5 path shapes. The body TEXT is a shared constant (it is the
# fixture); the parse (posexplode + window grouping) and the RFC 9309
# longest-match are independently reimplemented in DuckDB SQL.

ROBOTS_AGENT = "sparkbot"

ROBOTS_BODIES = [
    # mode 0: exact-agent group (mixed-case field/agent) + a '*' group
    "# policy\n"
    "User-Agent: SparkBot\n"
    "Disallow: /p/\n"
    "Allow: /p/open\n"
    "\n"
    "User-agent: *\n"
    "Disallow: /private/\n",
    # mode 1: wildcard + anchor, allow-all floor, empty Disallow
    "User-agent: *\n"
    "Disallow: /*.json$\n"
    "Allow: /\n"
    "Disallow:\n",
    # mode 2: stray rule before any group (ignored), block-all with a
    # longer allow carve-out, and a trailing RULE-LESS group (emits a
    # null-rule parse row; its presence shadows '*' for emptybot)
    "Disallow: /ignored\n"
    "User-agent: *\n"
    "Disallow: /\n"
    "Allow: /p/open\n"
    "\n"
    "User-agent: emptybot\n",
    # mode 3: no rules at all
    "# nothing to see\n"
    "Sitemap: https://example.com/sitemap.xml\n",
]

N_ROBOTS_HOSTS = 8


def _robots_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = F.col("h")
    body = F.when(h % 4 == 0, F.lit(ROBOTS_BODIES[0]))
    for m in (1, 2, 3):
        body = body.when(h % 4 == m, F.lit(ROBOTS_BODIES[m]))
    return (
        load(spark, sf_dir, "documents")
        .select((F.col("doc_id") % N_ROBOTS_HOSTS).alias("h"))
        .distinct()
        .select(
            F.concat(F.lit("example"), h.cast("string"), F.lit(".com")).alias(
                "host"
            ),
            body.alias("body"),
        )
    )


def _robots_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.col("doc_id")
    path = (
        F.when(d % 5 == 0, F.concat(F.lit("/p/"), d.cast("string")))
        .when(d % 5 == 1, F.concat(F.lit("/p/open"), d.cast("string")))
        .when(d % 5 == 2, F.concat(F.lit("/private/"), d.cast("string")))
        .when(d % 5 == 3, F.concat(F.lit("/data/f"), d.cast("string"), F.lit(".json")))
        .otherwise(F.concat(F.lit("/ok/"), d.cast("string"), F.lit("?q=1#frag")))
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://example"),
            (d % N_ROBOTS_HOSTS).cast("string"),
            F.lit(".com"),
            path,
        ).alias("url"),
    )


def _robots_bodies_case_sql() -> str:
    arms = "".join(
        f" WHEN {m} THEN '{ROBOTS_BODIES[m]}'" for m in range(4)
    )
    return f"CASE h % 4{arms} END"


_ROBOTS_PAGES_SQL = f"""
SELECT 'example' || CAST(h AS VARCHAR) || '.com' AS host,
       {_robots_bodies_case_sql()} AS body
FROM (SELECT DISTINCT doc_id % {N_ROBOTS_HOSTS} AS h FROM documents)
"""

# independent DuckDB reimplementation of the parse: parallel unnest for
# line position, comment strip, field/value split, running-sum group
# assignment, agents x rules join (pre-group rules fall in grp 0 and
# drop; empty patterns drop)
_ROBOTS_PARSE_SQL = f"""
pages AS ({_ROBOTS_PAGES_SQL}),
rlines AS (
  SELECT host,
         unnest(range(1, len(string_split(body, chr(10))) + 1)) AS pos,
         unnest(string_split(body, chr(10))) AS raw
  FROM pages
),
fv AS (
  SELECT host, pos,
         lower(trim(coalesce(regexp_extract(
           regexp_replace(raw, '#.*$', ''), '^([^:]+):', 1), ''))) AS field,
         trim(coalesce(regexp_extract(
           regexp_replace(raw, '#.*$', ''), '^[^:]*:(.*)$', 1), '')) AS value
  FROM rlines
),
kept AS (
  -- group assembly runs over ALL interpreted fields (crawl-delay
  -- included) so a group whose only lines are delays does not merge
  -- with the next group; rules are filtered AFTER grouping below
  SELECT * FROM fv
  WHERE field IN ('user-agent', 'allow', 'disallow', 'crawl-delay')
),
lagged AS (
  SELECT host, pos, field, value,
         CASE WHEN field = 'user-agent'
               AND coalesce(lag(field) OVER (
                     PARTITION BY host ORDER BY pos), '') <> 'user-agent'
              THEN 1 ELSE 0 END AS is_start
  FROM kept
),
grouped AS (
  SELECT host, pos, field, value,
         sum(is_start) OVER (PARTITION BY host ORDER BY pos) AS grp
  FROM lagged
),
agents AS (
  SELECT host, grp, lower(value) AS agent FROM grouped
  WHERE field = 'user-agent'
),
rrules AS (
  SELECT host, grp, field AS rule, value AS pattern FROM grouped
  WHERE field IN ('allow', 'disallow') AND value <> ''
),
parsed AS (
  -- LEFT JOIN: a rule-less group still emits one null-rule row, so
  -- agent selection sees group PRESENCE (an empty exact group
  -- shadows '*' and allows everything)
  SELECT DISTINCT a.host, a.agent, r.rule, r.pattern
  FROM agents a LEFT JOIN rrules r ON a.host = r.host AND a.grp = r.grp
)
"""


@register(
    "web_robots_parse",
    f"WITH {_ROBOTS_PARSE_SQL} SELECT host, agent, rule, pattern FROM parsed",
)
def web_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt parsing (RFC 9309 grammar subset): bodies → one rule
    row per (host, agent, allow|disallow, pattern). Group assembly —
    the only stateful part of the grammar — is a running sum of
    group-start flags over a per-host window; comments, unknown
    fields, empty patterns, and rules preceding any ``User-agent``
    line drop per the documented scope (``functions/robots.py``).
    One window shuffle on the (tiny) per-host robots table."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
        parse_robots_rules,
    )

    return parse_robots_rules(_robots_pages(spark, sf_dir))


@register(
    "web_robots_filter",
    f"""
WITH {_ROBOTS_PARSE_SQL},
sel AS (
  SELECT host, rule, pattern FROM (
    SELECT *, max(CASE WHEN agent = '{ROBOTS_AGENT}' THEN 1 ELSE 0 END)
             OVER (PARTITION BY host) AS hx
    FROM parsed WHERE agent IN ('{ROBOTS_AGENT}', '*')
  ) WHERE CASE WHEN hx = 1 THEN agent = '{ROBOTS_AGENT}' ELSE agent = '*' END
),
rx AS (
  SELECT host, rule, pattern,
         '^' || replace(regexp_replace(
             CASE WHEN pattern LIKE '%$'
                  THEN substr(pattern, 1, length(pattern) - 1)
                  ELSE pattern END,
             '([.+?()\\[\\]{{}}^|$\\\\])', '\\\\\\1', 'g'), '*', '.*')
         || CASE WHEN pattern LIKE '%$' THEN '$' ELSE '' END AS rxp
  FROM sel WHERE pattern IS NOT NULL
),
frontier AS (
  SELECT doc_id,
         'example' || CAST(doc_id % {N_ROBOTS_HOSTS} AS VARCHAR) || '.com' AS host,
         CASE doc_id % 5
           WHEN 0 THEN '/p/' || CAST(doc_id AS VARCHAR)
           WHEN 1 THEN '/p/open' || CAST(doc_id AS VARCHAR)
           WHEN 2 THEN '/private/' || CAST(doc_id AS VARCHAR)
           WHEN 3 THEN '/data/f' || CAST(doc_id AS VARCHAR) || '.json'
           ELSE '/ok/' || CAST(doc_id AS VARCHAR) || '?q=1'
         END AS target
  FROM documents
),
hits AS (
  SELECT f.doc_id, r.rule, r.pattern,
         row_number() OVER (PARTITION BY f.doc_id
           ORDER BY strlen(r.pattern) DESC, r.rule, r.pattern) AS rk
  FROM frontier f JOIN rx r
    ON f.host = r.host AND regexp_matches(f.target, r.rxp)
)
SELECT f.doc_id, f.host, f.target,
       CAST(CASE WHEN h.rule IS NULL OR h.rule = 'allow'
                 THEN 1 ELSE 0 END AS BIGINT) AS allowed,
       h.rule AS matched_rule, h.pattern AS matched_pattern
FROM frontier f
LEFT JOIN (SELECT * FROM hits WHERE rk = 1) h ON f.doc_id = h.doc_id
""",
)
def web_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-permission gate (RFC 9309 longest-match): every frontier
    URL → allow/deny verdict + the winning rule, for product token
    ``sparkbot``. Exact-agent groups shadow ``*`` groups; most pattern
    octets win, ``allow`` wins length ties; no applicable rule →
    allowed. Plan shape: rules collapse to one array row per host and
    broadcast; the frontier side has no shuffle and no row explosion
    (``functions/robots.py:robots_verdicts``) — at 100 TB the gate
    rides the frontier scan."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
        parse_robots_rules,
        robots_verdicts,
    )

    rules = parse_robots_rules(_robots_pages(spark, sf_dir))
    out = robots_verdicts(
        _robots_frontier(spark, sf_dir), rules, agent=ROBOTS_AGENT
    )
    return out.select(
        "doc_id",
        "host",
        "target",
        F.col("allowed").cast("long").alias("allowed"),
        "matched_rule",
        "matched_pattern",
    )


# --- robots-gated crawl funnel (round 12) -----------------------------------
#
# The permission gate composed INTO the crawl front end: WARC captures
# → extract → canonical-URL dedup → RFC 9309 robots verdicts on each
# survivor's captured URL → per-host cap, reported as per-host stage
# counts. Spark runs the real operators (real .warc.gz bytes, real
# grammar parse of planted robots bodies, `web_crawl_documents` with
# robots_rules); the oracle replays canonicalization (shared canon
# contract SQL), agent selection, longest-match verdicts, and the cap
# in SQL. Bodies are shared constants (the fixture); the parse grammar
# itself is independently oracled by `web_robots_parse`, so here the
# oracle starts from the (host, agent, rule, pattern) table.

ROBOTS_FUNNEL_BODIES = {
    # mode 0 (host % 3 == 0): '*' group blocking the /p/1 prefix —
    # catches /p/1 and /p/10..19 era targets, trailing slash included
    0: "# crawl policy\nUser-agent: *\nDisallow: /p/1\n",
    # mode 1: exact-agent allow-all shadows a '*' block-all
    1: "User-agent: sparkbot\nAllow: /\n\nUser-agent: *\nDisallow: /\n",
    # mode 2: no robots.txt at all (host absent from the rules table)
}

_FUNNEL_RULES_SQL = """
rrules(host, agent, rule, pattern) AS (
  SELECT 'www.example' || CAST(h AS VARCHAR) || '.com', v.agent, v.rule, v.pattern
  FROM (SELECT DISTINCT doc_id % 10 AS h FROM documents WHERE doc_id < 60),
  LATERAL (
    SELECT * FROM (VALUES
      (0, '*', 'disallow', '/p/1'),
      (1, 'sparkbot', 'allow', '/'),
      (1, '*', 'disallow', '/')
    ) AS t(mode, agent, rule, pattern)
    WHERE t.mode = h % 3
  ) v
)
"""


def _robots_funnel_oracle() -> str:
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries.text_queries import (
        _URL_CANON_SQL,
    )

    return f"""
WITH base AS ({_BASE_SQL}),
planted AS (SELECT doc_id, url FROM base),
cu AS ({_URL_CANON_SQL} SELECT doc_id, curl FROM canon),
surv AS (SELECT min(doc_id) AS doc_id FROM cu GROUP BY curl),
{_FUNNEL_RULES_SQL},
rsurv AS (
  SELECT s.doc_id,
         regexp_replace(lower(regexp_extract(p.url,
           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':[0-9]+$', '') AS host,
         CASE WHEN rest = '' THEN '/'
              WHEN rest LIKE '?%' THEN '/' || rest
              ELSE rest END AS target
  FROM surv s JOIN (
    SELECT doc_id, url,
           coalesce(regexp_extract(split_part(url, '#', 1),
             '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1), '') AS rest
    FROM planted
  ) p ON s.doc_id = p.doc_id
),
sel AS (
  SELECT host, rule, pattern FROM (
    SELECT *, max(CASE WHEN agent = 'sparkbot' THEN 1 ELSE 0 END)
             OVER (PARTITION BY host) AS hx
    FROM rrules WHERE agent IN ('sparkbot', '*')
  ) WHERE CASE WHEN hx = 1 THEN agent = 'sparkbot' ELSE agent = '*' END
),
rx AS (
  SELECT host, rule, pattern,
         '^' || replace(regexp_replace(
             CASE WHEN pattern LIKE '%$'
                  THEN substr(pattern, 1, length(pattern) - 1)
                  ELSE pattern END,
             '([.+?()\\[\\]{{}}^|$\\\\])', '\\\\\\1', 'g'), '*', '.*')
         || CASE WHEN pattern LIKE '%$' THEN '$' ELSE '' END AS rxp
  FROM sel
),
hits AS (
  SELECT f.doc_id, r.rule,
         row_number() OVER (PARTITION BY f.doc_id
           ORDER BY strlen(r.pattern) DESC, r.rule, r.pattern) AS rk
  FROM rsurv f JOIN rx r
    ON f.host = r.host AND regexp_matches(f.target, r.rxp)
),
verdicts AS (
  SELECT f.doc_id, f.host,
         CASE WHEN h.rule IS NULL OR h.rule = 'allow' THEN 1 ELSE 0 END AS ok
  FROM rsurv f
  LEFT JOIN (SELECT * FROM hits WHERE rk = 1) h ON f.doc_id = h.doc_id
),
capped AS (
  SELECT host, doc_id,
         row_number() OVER (PARTITION BY host ORDER BY doc_id) AS rk
  FROM verdicts WHERE ok = 1
)
SELECT v.host,
       CAST(count(*) AS BIGINT) AS n_canonical,
       CAST(sum(v.ok) AS BIGINT) AS n_robots_ok,
       CAST(coalesce(k.kept, 0) AS BIGINT) AS n_kept
FROM verdicts v
LEFT JOIN (
  SELECT host, count(*) AS kept FROM capped
  WHERE rk <= {HOST_CAP} GROUP BY host
) k ON v.host = k.host
GROUP BY v.host, k.kept
"""


@register("corpus_web_robots_funnel", _robots_funnel_oracle())
def corpus_web_robots_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl front end with the permission gate composed in: real
    ``.warc.gz`` captures → container parse → main-content extract →
    canonical-URL dedup → RFC 9309 verdicts (real grammar parse of the
    planted robots bodies, exact-agent shadowing) → per-host cap; one
    row per host with canonical / robots-allowed / kept counts. The
    three funnel runs at the fixture slice exercise the SAME
    `web_crawl_documents` declarative plan at each stage depth — the
    shape a 100 TB crawl replay runs once, end to end."""
    import tempfile

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
        parse_robots_rules,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.url import (
        url_host,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.warc import (
        load_warc_records,
        web_crawl_documents,
    )

    planted = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < N_DOCS)
        .select("doc_id", "text")
        .collect()
    )
    rows = sorted((r["doc_id"], r["text"]) for r in planted)
    pages = spark.createDataFrame(
        [
            # the planted crawl's hosts are WWW.Example{h}.COM ->
            # url_host = www.example{h}.com; the rules table must key
            # on exactly that
            (f"www.example{h}.com", ROBOTS_FUNNEL_BODIES[h % 3])
            for h in range(10)
            if h % 3 in ROBOTS_FUNNEL_BODIES
        ],
        "host string, body string",
    )
    rules = parse_robots_rules(pages)

    def _host_counts(docs: DataFrame, name: str) -> DataFrame:
        return (
            docs.select(
                url_host(F.substring_index("source", "#", 1)).alias("host")
            )
            .groupBy("host")
            .agg(F.count("*").alias(name))
        )

    with tempfile.TemporaryDirectory() as tmp:
        with open(f"{tmp}/crawl-00000.warc.gz", "wb") as f:
            f.write(_warc_segment(rows))
        records = load_warc_records(spark, tmp)
        canonical = _host_counts(
            web_crawl_documents(records, main_content=True), "n_canonical"
        )
        robots_ok = _host_counts(
            web_crawl_documents(
                records, main_content=True,
                robots_rules=rules, robots_agent="SparkBot",
            ),
            "n_robots_ok",
        )
        kept = _host_counts(
            web_crawl_documents(
                records, main_content=True,
                robots_rules=rules, robots_agent="SparkBot",
                host_cap=HOST_CAP,
            ),
            "n_kept",
        )
        out = (
            canonical.join(robots_ok, "host", "left")
            .join(kept, "host", "left")
            .select(
                "host",
                "n_canonical",
                F.coalesce("n_robots_ok", F.lit(0)).alias("n_robots_ok"),
                F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            )
        )
        collected = out.collect()
    return spark.createDataFrame(collected, out.schema)


# --- crawl-delay (round 12): the politeness interval -----------------------

DELAY_BODIES = [
    # mode 0: exact-agent group with its own delay shadows the '*' one
    "User-agent: sparkbot\nCrawl-delay: 2\nDisallow: /x\n"
    "\nUser-agent: *\nCrawl-delay: 10\n",
    # mode 1: '*' delay only
    "User-agent: *\nCrawl-delay: 10\nDisallow: /tmp/\n",
    # mode 2: invalid value dropped, max of the valid ones wins
    "User-agent: *\nCrawl-delay: fast\nCrawl-delay: 0.5\nCrawl-delay: 0.25\n",
    # mode 3: no delay at all -> host absent from the output
    "User-agent: *\nDisallow: /private/\n",
]


#: the crawl-delay selection replay (shared by the web_crawl_delay and
#: web_fetch_schedule oracles): robots bodies -> grouped lines ->
#: agent selection -> CTE ``sel(host, delay)``
_DELAY_CTES = f"""
pages AS (
  SELECT 'example' || CAST(h AS VARCHAR) || '.com' AS host,
         CASE h % 4{"".join(f" WHEN {m} THEN '{DELAY_BODIES[m]}'" for m in range(4))} END AS body
  FROM (SELECT DISTINCT doc_id % {N_ROBOTS_HOSTS} AS h FROM documents)
),
rlines AS (
  SELECT host,
         unnest(range(1, len(string_split(body, chr(10))) + 1)) AS pos,
         unnest(string_split(body, chr(10))) AS raw
  FROM pages
),
fv AS (
  SELECT host, pos,
         lower(trim(coalesce(regexp_extract(
           regexp_replace(raw, '#.*$', ''), '^([^:]+):', 1), ''))) AS field,
         trim(coalesce(regexp_extract(
           regexp_replace(raw, '#.*$', ''), '^[^:]*:(.*)$', 1), '')) AS value
  FROM rlines
),
kept AS (
  -- same group-assembly field set as the rule parse (all interpreted
  -- fields), filtered to delays after grouping
  SELECT * FROM fv
  WHERE field IN ('user-agent', 'allow', 'disallow', 'crawl-delay')
),
lagged AS (
  SELECT host, pos, field, value,
         CASE WHEN field = 'user-agent'
               AND coalesce(lag(field) OVER (
                     PARTITION BY host ORDER BY pos), '') <> 'user-agent'
              THEN 1 ELSE 0 END AS is_start
  FROM kept
),
grouped AS (
  SELECT host, pos, field, value,
         sum(is_start) OVER (PARTITION BY host ORDER BY pos) AS grp
  FROM lagged
),
agents AS (
  SELECT host, grp, lower(value) AS agent FROM grouped
  WHERE field = 'user-agent'
),
delays AS (
  SELECT host, grp, TRY_CAST(value AS DOUBLE) AS delay FROM grouped
  WHERE field = 'crawl-delay' AND TRY_CAST(value AS DOUBLE) IS NOT NULL
),
cand AS (
  -- LEFT JOIN: delay-less agent groups still drive selection (an
  -- exact group with no Crawl-delay means NO delay, not '*' fallback)
  SELECT a.host, a.agent, d.delay FROM agents a
  LEFT JOIN delays d ON a.host = d.host AND a.grp = d.grp
  WHERE a.agent IN ('{ROBOTS_AGENT}', '*')
),
sel AS (
  SELECT host, delay FROM (
    SELECT *, max(CASE WHEN agent = '{ROBOTS_AGENT}' THEN 1 ELSE 0 END)
             OVER (PARTITION BY host) AS hx
    FROM cand
  ) WHERE CASE WHEN hx = 1 THEN agent = '{ROBOTS_AGENT}' ELSE agent = '*' END
)
"""


@register(
    "web_crawl_delay",
    f"""
WITH {_DELAY_CTES}
SELECT host, max(delay) AS crawl_delay FROM sel GROUP BY host
HAVING max(delay) IS NOT NULL
""",
)
def web_crawl_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host ``Crawl-delay`` for agent ``sparkbot`` — the
    politeness interval a crawl scheduler's per-host token bucket
    enforces. Exact-agent groups shadow ``*``; non-numeric values
    drop; MAX of applicable values (conservative); hosts without a
    delay are absent (``functions/robots.py:robots_crawl_delays``)."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
        robots_crawl_delays,
    )

    return robots_crawl_delays(_delay_pages(spark, sf_dir), agent=ROBOTS_AGENT)


def _delay_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = F.col("h")
    body = F.when(h % 4 == 0, F.lit(DELAY_BODIES[0]))
    for m in (1, 2, 3):
        body = body.when(h % 4 == m, F.lit(DELAY_BODIES[m]))
    return (
        load(spark, sf_dir, "documents")
        .select((F.col("doc_id") % N_ROBOTS_HOSTS).alias("h"))
        .distinct()
        .select(
            F.concat(F.lit("example"), h.cast("string"), F.lit(".com")).alias(
                "host"
            ),
            body.alias("body"),
        )
    )


@register(
    "web_fetch_schedule",
    f"""
WITH {_DELAY_CTES},
hostdelay AS (
  SELECT host, max(delay) AS crawl_delay FROM sel GROUP BY host
  HAVING max(delay) IS NOT NULL
),
frontier AS (
  SELECT doc_id,
         'example' || CAST(doc_id % {N_ROBOTS_HOSTS} AS VARCHAR) || '.com' AS host,
         'https://example' || CAST(doc_id % {N_ROBOTS_HOSTS} AS VARCHAR) || '.com'
         || CASE doc_id % 5
              WHEN 0 THEN '/p/' || CAST(doc_id AS VARCHAR)
              WHEN 1 THEN '/p/open' || CAST(doc_id AS VARCHAR)
              WHEN 2 THEN '/private/' || CAST(doc_id AS VARCHAR)
              WHEN 3 THEN '/data/f' || CAST(doc_id AS VARCHAR) || '.json'
              ELSE '/ok/' || CAST(doc_id AS VARCHAR) || '?q=1#frag'
            END AS url
  FROM documents
),
ranked AS (
  SELECT host, url,
         CAST(row_number() OVER (PARTITION BY host ORDER BY url) - 1 AS BIGINT) AS wave
  FROM frontier
)
SELECT r.host, r.url, r.wave,
       CAST(r.wave * coalesce(d.crawl_delay, 1.0) AS DOUBLE) AS fetch_at
FROM ranked r LEFT JOIN hostdelay d ON r.host = d.host
""",
)
def web_fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The politeness scheduler materialized (round 13): frontier ×
    per-host ``Crawl-delay`` → deterministic fetch waves, ``fetch_at``
    = wave × delay seconds into the host's crawl (default 1.0 s where
    no delay is declared — e.g. the ``example3/7.com`` hosts whose
    robots declare none). One window shuffle on ``host``; the delay
    join rides the same key (``functions/robots.py:fetch_schedule``).
    This is the consumer `web_crawl_delay`'s output was built for: a
    fetcher partition works through its host's rows in ``fetch_at``
    order and the per-host token bucket falls out of the arithmetic."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
        fetch_schedule,
        robots_crawl_delays,
    )

    delays = robots_crawl_delays(_delay_pages(spark, sf_dir), agent=ROBOTS_AGENT)
    out = fetch_schedule(
        _robots_frontier(spark, sf_dir).select("url"), delays, default_delay=1.0
    )
    return out.select(
        "host", "url", "wave", F.round(F.col("fetch_at"), 6).alias("fetch_at")
    )


# --- sitemap seed discovery (round 13): the crawl-SEED side ----------------
#
# robots.txt `Sitemap:` records -> XML sitemap / sitemapindex bodies ->
# canonicalized page seeds, gated by the same robots rules. The whole
# fixture (robots bodies, urlset/index XML with entity-escaped locs,
# case/port/slash/param-order URL variants that must merge, a one-level
# index recursion) is PLANTED from doc_id arithmetic; Spark builds the
# XML distributively (groupBy + array agg — no collect) and runs the
# real extraction (`functions/sitemap.py`); the oracle rebuilds the
# same bodies in SQL and replays declaration-parse, block extraction,
# entity unescape, recursion, canonicalization, lastmod-max merge, and
# the permission gate independently. (The generic RFC 9309 matcher is
# oracled by `web_robots_filter`; this fixture's one rule per mode is
# applied directly.)

N_SM_DOCS = 120
SM_HOSTS = 6
SM_XMLNS = ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'


def _sm_docs(spark, sf_dir):
    d = F.col("doc_id")
    return (
        load(spark, sf_dir, "documents")
        .filter(d < N_SM_DOCS)
        .select("doc_id", (d % SM_HOSTS).alias("h"))
    )


def _sm_bodies(spark, sf_dir):
    """The fetched-sitemap table ``(url, body)``: per mode-0 host one
    direct urlset; per mode-1 host a sitemapindex plus two child
    urlsets (split by ``doc_id div 6`` parity); mode-2 hosts none."""
    d, h = F.col("doc_id"), F.col("h")
    ds, hs = d.cast("string"), h.cast("string")
    site = F.concat(F.lit("https://site"), hs, F.lit(".com"))
    lastmod_plain = F.when(
        d % 2 == 0,
        F.concat(
            F.lit("<lastmod>2024-01-"),
            F.lpad(((d % 28) + 1).cast("string"), 2, "0"),
            F.lit("</lastmod>"),
        ),
    ).otherwise(F.lit(""))
    plain = F.concat(
        F.lit("<url><loc>"), site, F.lit("/art/"), ds, F.lit("</loc>"),
        lastmod_plain, F.lit("</url>"),
    )
    pair = F.array(
        # two spellings of ONE canonical URL: case+port+slash+param
        # order + entity escapes; lastmods differ so the merge is MAX
        F.concat(
            F.lit("<url><loc>HTTPS://SITE"), hs,
            F.lit(".COM:443/art/"), ds,
            F.lit("/?b=2&amp;a=1</loc><lastmod>2024-06-01</lastmod></url>"),
        ),
        F.concat(
            F.lit("<url><loc>"), site, F.lit("/art/"), ds,
            F.lit("?a=1&amp;b=2</loc><lastmod>2024-03-01</lastmod></url>"),
        ),
    )
    private = F.array(
        F.concat(F.lit("<url><loc>"), site, F.lit("/private/"), ds, F.lit("</loc></url>"))
    )
    entries = (
        F.when(d % 4 == 0, pair)
        .when(d % 4 == 2, private)
        .otherwise(F.array(plain))
    )
    docs = _sm_docs(spark, sf_dir)
    m0b = (
        docs.filter(h % 3 == 0)
        .select("h", entries.alias("e"))
        .groupBy("h")
        .agg(F.array_join(F.flatten(F.collect_list("e")), "").alias("inner"))
        .select(
            F.concat(F.lit("https://site"), hs, F.lit(".com/sitemap.xml")).alias("url"),
            F.concat(F.lit("<urlset" + SM_XMLNS + ">"), F.col("inner"), F.lit("</urlset>")).alias("body"),
        )
    )
    m1 = docs.filter(h % 3 == 1).select(
        "h", "doc_id", (F.expr("doc_id div 6") % 2 + 1).alias("c"), F.array(plain).alias("e")
    )
    m1b = (
        m1.groupBy("h", "c")
        .agg(F.array_join(F.flatten(F.collect_list("e")), "").alias("inner"))
        .select(
            F.concat(
                F.lit("https://site"), hs, F.lit(".com/c"),
                F.col("c").cast("string"), F.lit(".xml"),
            ).alias("url"),
            F.concat(F.lit("<urlset" + SM_XMLNS + ">"), F.col("inner"), F.lit("</urlset>")).alias("body"),
        )
    )
    idxb = (
        m1.select("h")
        .distinct()
        .select(
            F.concat(F.lit("https://site"), hs, F.lit(".com/index.xml")).alias("url"),
            F.concat(
                F.lit("<sitemapindex" + SM_XMLNS + "><sitemap><loc>https://site"),
                hs,
                F.lit(".com/c1.xml</loc></sitemap><sitemap><loc>https://site"),
                hs,
                F.lit(".com/c2.xml</loc><lastmod>2024-02-02</lastmod></sitemap></sitemapindex>"),
            ).alias("body"),
        )
    )
    return m0b.unionByName(m1b).unionByName(idxb)


def _sm_robots(spark, sf_dir):
    h = F.col("h")
    hs = h.cast("string")
    # Crawl-delay lines feed the web_seed_schedule composition; they
    # change neither the rule parse (delay lines only shape group
    # boundaries, which stay identical) nor the sitemap declarations
    body = (
        F.when(
            h % 3 == 0,
            F.concat(
                F.lit(
                    "User-agent: *\nDisallow: /private/\nCrawl-delay: 2\n"
                    "Sitemap: https://site"
                ),
                hs,
                F.lit(".com/sitemap.xml\n"),
            ),
        )
        .when(
            h % 3 == 1,
            F.concat(
                F.lit(
                    "User-agent: *\nCrawl-delay: 0.5\n# discovery only\n"
                    "Sitemap: https://site"
                ),
                hs,
                F.lit(".com/index.xml\n"),
            ),
        )
        .otherwise(F.lit("User-agent: *\nDisallow: /\n"))
    )
    return (
        _sm_docs(spark, sf_dir)
        .select("h")
        .distinct()
        .select(
            F.concat(F.lit("site"), hs, F.lit(".com")).alias("host"),
            body.alias("body"),
        )
    )


def _sitemap_ctes() -> str:
    """The WITH-body of the sitemap replay, ending in CTE
    ``gated(host, url, lastmod)`` — shared by the ``web_sitemap_seeds``
    oracle and the ``web_seed_schedule`` composition oracle."""
    return _sitemap_oracle_parts()[0]


def _sitemap_oracle() -> str:
    ctes, select = _sitemap_oracle_parts()
    return f"WITH {ctes}\n{select}"


def _sitemap_oracle_parts() -> tuple[str, str]:
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.queries.text_queries import (
        _URL_CANON_SQL,
    )

    unescape = (
        "replace(replace(replace(replace(replace({c}, "
        "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), "
        "'&apos;', chr(39)), '&amp;', '&')"
    )
    loc = unescape.format(
        c="trim(coalesce(regexp_extract(blk, '(?s)<loc(?:\\s[^>]*)?>(.*?)</loc>', 1), ''))"
    )
    lastmod = (
        "nullif(trim(coalesce(regexp_extract(blk, "
        "'(?s)<lastmod(?:\\s[^>]*)?>(.*?)</lastmod>', 1), '')), '')"
    )
    ctes = f"""smdocs AS (
  SELECT doc_id, doc_id % {SM_HOSTS} AS h FROM documents WHERE doc_id < {N_SM_DOCS}
),
m0e AS (
  SELECT h,
         CASE
           WHEN doc_id % 4 = 0 THEN
             '<url><loc>HTTPS://SITE' || CAST(h AS VARCHAR) || '.COM:443/art/'
             || CAST(doc_id AS VARCHAR)
             || '/?b=2&amp;a=1</loc><lastmod>2024-06-01</lastmod></url>'
             || '<url><loc>https://site' || CAST(h AS VARCHAR) || '.com/art/'
             || CAST(doc_id AS VARCHAR)
             || '?a=1&amp;b=2</loc><lastmod>2024-03-01</lastmod></url>'
           WHEN doc_id % 4 = 2 THEN
             '<url><loc>https://site' || CAST(h AS VARCHAR) || '.com/private/'
             || CAST(doc_id AS VARCHAR) || '</loc></url>'
           ELSE
             '<url><loc>https://site' || CAST(h AS VARCHAR) || '.com/art/'
             || CAST(doc_id AS VARCHAR) || '</loc>'
             || CASE WHEN doc_id % 2 = 0
                     THEN '<lastmod>2024-01-'
                          || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                          || '</lastmod>'
                     ELSE '' END
             || '</url>'
         END AS entry
  FROM smdocs WHERE h % 3 = 0
),
m1e AS (
  SELECT h, (doc_id // 6) % 2 + 1 AS c,
         '<url><loc>https://site' || CAST(h AS VARCHAR) || '.com/art/'
         || CAST(doc_id AS VARCHAR) || '</loc>'
         || CASE WHEN doc_id % 2 = 0
                 THEN '<lastmod>2024-01-'
                      || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                      || '</lastmod>'
                 ELSE '' END
         || '</url>' AS entry
  FROM smdocs WHERE h % 3 = 1
),
smbodies AS (
  SELECT 'https://site' || CAST(h AS VARCHAR) || '.com/sitemap.xml' AS url,
         '<urlset{SM_XMLNS.replace("'", "''")}>' || string_agg(entry, '') || '</urlset>' AS body
  FROM m0e GROUP BY h
  UNION ALL
  SELECT 'https://site' || CAST(h AS VARCHAR) || '.com/c' || CAST(c AS VARCHAR) || '.xml',
         '<urlset{SM_XMLNS.replace("'", "''")}>' || string_agg(entry, '') || '</urlset>'
  FROM m1e GROUP BY h, c
  UNION ALL
  SELECT DISTINCT 'https://site' || CAST(h AS VARCHAR) || '.com/index.xml',
         '<sitemapindex{SM_XMLNS.replace("'", "''")}><sitemap><loc>https://site'
         || CAST(h AS VARCHAR) || '.com/c1.xml</loc></sitemap><sitemap><loc>https://site'
         || CAST(h AS VARCHAR)
         || '.com/c2.xml</loc><lastmod>2024-02-02</lastmod></sitemap></sitemapindex>'
  FROM m1e
),
smrobots AS (
  SELECT h, 'site' || CAST(h AS VARCHAR) || '.com' AS host,
         CASE h % 3
           WHEN 0 THEN 'User-agent: *' || chr(10) || 'Disallow: /private/' || chr(10)
                       || 'Crawl-delay: 2' || chr(10)
                       || 'Sitemap: https://site' || CAST(h AS VARCHAR)
                       || '.com/sitemap.xml' || chr(10)
           WHEN 1 THEN 'User-agent: *' || chr(10) || 'Crawl-delay: 0.5' || chr(10)
                       || '# discovery only' || chr(10)
                       || 'Sitemap: https://site' || CAST(h AS VARCHAR)
                       || '.com/index.xml' || chr(10)
           ELSE 'User-agent: *' || chr(10) || 'Disallow: /' || chr(10)
         END AS body
  FROM (SELECT DISTINCT h FROM smdocs)
),
smlines AS (
  SELECT host, unnest(string_split(body, chr(10))) AS raw FROM smrobots
),
declared AS (
  SELECT DISTINCT host,
         trim(coalesce(regexp_extract(regexp_replace(raw, '#.*$', ''),
              '^[^:]*:(.*)$', 1), '')) AS sitemap_url
  FROM smlines
  WHERE lower(trim(coalesce(regexp_extract(regexp_replace(raw, '#.*$', ''),
          '^([^:]+):', 1), ''))) = 'sitemap'
    AND trim(coalesce(regexp_extract(regexp_replace(raw, '#.*$', ''),
          '^[^:]*:(.*)$', 1), '')) <> ''
),
level0 AS (
  SELECT d.host, b.url, b.body FROM declared d JOIN smbodies b ON d.sitemap_url = b.url
),
idxblk AS (
  SELECT host, unnest(regexp_extract_all(body,
           '(?s)<sitemap(?:\\s[^>]*)?>(.*?)</sitemap>', 1)) AS blk
  FROM level0
),
childurls AS (
  SELECT host, {loc} AS curl FROM idxblk
),
level1 AS (
  SELECT c.host, b.url, b.body FROM (SELECT DISTINCT host, curl FROM childurls WHERE curl <> '') c
  JOIN smbodies b ON c.curl = b.url
),
allsets AS (
  SELECT host, body FROM level0 UNION ALL SELECT host, body FROM level1
),
urlblk AS (
  SELECT host, unnest(regexp_extract_all(body,
           '(?s)<url(?:\\s[^>]*)?>(.*?)</url>', 1)) AS blk
  FROM allsets
),
rawseeds AS (
  SELECT host, {loc} AS loc, {lastmod} AS lastmod FROM urlblk
),
numbered AS (
  SELECT host, loc, lastmod,
         row_number() OVER (ORDER BY host, loc, coalesce(lastmod, '')) AS rid
  FROM rawseeds WHERE loc <> ''
),
planted AS (SELECT rid AS doc_id, loc AS url FROM numbered),
cu AS ({_URL_CANON_SQL} SELECT doc_id, curl FROM canon),
merged AS (
  SELECT n.host, c.curl AS url, max(n.lastmod) AS lastmod
  FROM numbered n JOIN cu c ON n.rid = c.doc_id
  GROUP BY n.host, c.curl
),
gated AS (
  -- this fixture's permission table is one rule per mode: mode-0
  -- hosts disallow /private/, mode-1 hosts allow all (the generic
  -- longest-match engine is oracled by web_robots_filter)
  SELECT m.host, m.url, m.lastmod
  FROM merged m JOIN smrobots r ON m.host = r.host
  WHERE NOT (r.h % 3 = 0 AND
             coalesce(regexp_extract(m.url,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1), '')
             LIKE '/private/%')
)
"""
    return ctes, "SELECT host, url, lastmod FROM gated"


@register("web_sitemap_seeds", _sitemap_oracle())
def web_sitemap_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap seed discovery (sitemaps.org protocol over RFC 9309
    ``Sitemap:`` records): robots bodies → declared sitemap URLs →
    urlset / one-level sitemapindex XML extraction with entity
    unescape → canonicalized ``(host, url, lastmod)`` seeds, merged
    across duplicate advertisements (max lastmod) and gated by the
    host's own robots rules for agent ``sparkbot``
    (``functions/sitemap.py:sitemap_seed_table``). All extraction is
    codegen regexp; the only row expansion is protocol-bounded
    (50k URLs/sitemap); body joins are exact-URL and AQE-sized."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
        parse_robots_rules,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.sitemap import (
        sitemap_seed_table,
    )

    robots = _sm_robots(spark, sf_dir)
    return sitemap_seed_table(
        robots,
        _sm_bodies(spark, sf_dir),
        robots_rules=parse_robots_rules(robots),
        agent=ROBOTS_AGENT,
    )


def _seed_schedule_oracle() -> str:
    return f"""
WITH {_sitemap_ctes()},
crawled AS (
  -- pages the frontier already holds, planted in canonical spelling
  SELECT 'https://site' || CAST(h AS VARCHAR) || '.com/art/' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 4 = 0 THEN '?a=1&b=2' ELSE '' END AS url
  FROM smdocs WHERE doc_id % 3 = 0 AND h % 3 <> 2 AND doc_id % 4 <> 2
),
fetchable AS (
  SELECT g.host, g.url FROM gated g
  WHERE g.url NOT IN (SELECT url FROM crawled)
),
ranked AS (
  SELECT host, url,
         CAST(row_number() OVER (PARTITION BY host ORDER BY url) - 1 AS BIGINT) AS wave
  FROM fetchable
)
SELECT host, url, wave,
       -- the fixture's Crawl-delay constants hand-applied (the delay
       -- GRAMMAR is independently oracled by web_crawl_delay): mode-0
       -- hosts declare 2, mode-1 hosts 0.5, mode-2 none -> default 1.0
       CAST(wave * CASE CAST(substr(host, 5, 1) AS INT) % 3
                     WHEN 0 THEN 2.0 WHEN 1 THEN 0.5 ELSE 1.0 END
            AS DOUBLE) AS fetch_at
FROM ranked
"""


@register("web_seed_schedule", _seed_schedule_oracle())
def web_seed_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole crawl-seed side composed end to end (round 13):
    sitemap discovery (declaration parse → XML extraction → canon →
    lastmod merge) → robots permission gate → LEFT ANTI against the
    already-crawled frontier (the same dedup key the ingest uses) →
    per-host politeness schedule from the hosts' own ``Crawl-delay``
    declarations. Output is the fetch plan: ``(host, url, wave,
    fetch_at)``. Plan shape: seed extraction is protocol-bounded
    (SCALE.md: 0.22 M entries/s end-to-end at 1M entries); the
    anti-join keys on canonical URL (AQE-sized — the frontier GROWS);
    the schedule adds one host-shuffle window (5.7 M rows/s at 10M)."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
        fetch_schedule,
        parse_robots_rules,
        robots_crawl_delays,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.sitemap import (
        sitemap_seed_table,
    )

    robots = _sm_robots(spark, sf_dir)
    seeds = sitemap_seed_table(
        robots,
        _sm_bodies(spark, sf_dir),
        robots_rules=parse_robots_rules(robots),
        agent=ROBOTS_AGENT,
    )
    d, h = F.col("doc_id"), F.col("h")
    crawled = (
        _sm_docs(spark, sf_dir)
        .filter((d % 3 == 0) & (h % 3 != 2) & (d % 4 != 2))
        .select(
            F.concat(
                F.lit("https://site"), h.cast("string"), F.lit(".com/art/"),
                d.cast("string"),
                F.when(d % 4 == 0, F.lit("?a=1&b=2")).otherwise(F.lit("")),
            ).alias("url")
        )
    )
    fetchable = seeds.join(crawled, "url", "left_anti")
    sched = fetch_schedule(
        fetchable.select("host", "url"),
        robots_crawl_delays(robots, agent=ROBOTS_AGENT),
        default_delay=1.0,
    )
    return sched.select(
        "host", "url", "wave", F.round(F.col("fetch_at"), 6).alias("fetch_at")
    )


# --- link graph + host authority (round 13) --------------------------------
#
# The third thing a crawl does with fetched pages (after indexing text
# and discovering seeds): extract the link graph and score hosts —
# authority priors feed crawl prioritization and spam filtering (the
# role of Common Crawl's published host ranking). Fixture: pages on 8
# ring-linked hosts, hrefs exercising every resolution shape
# (root-relative, sibling-relative, ../ parent, scheme-relative
# cross-host, absolute with canon work, query-only, a self-link, and
# dropped mailto/#). The RESOLVER's generic semantics are pinned by
# unit goldens (tests/test_links.py); the oracles derive each planted
# edge independently from the same doc_id arithmetic — full-value over
# the composed output.

N_LINK_DOCS = 200
N_LINK_HOSTS = 8


def _link_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.col("doc_id")
    ds = d.cast("string")
    h = (d % N_LINK_HOSTS).cast("string")
    base = F.concat(
        F.lit("https://linkhost"), h, F.lit(".com/a"), (d % 5).cast("string"),
        F.lit("/b/page"), ds,
    )
    html = F.concat(
        F.lit('<p><a href="/top'), (d % 7).cast("string"), F.lit('">t</a>'),
        F.lit('<a href="sib'), (d % 3).cast("string"), F.lit('.html">s</a>'),
        F.lit('<a href="../up'), (d % 4).cast("string"), F.lit('">u</a>'),
        F.lit('<a href="//linkhost'), ((d + 1) % N_LINK_HOSTS).cast("string"),
        F.lit('.com/x'), (d % 6).cast("string"), F.lit('">r</a>'),
        F.lit('<a href="https://EXT'), (d % 3).cast("string"),
        F.lit(".COM:443/p/"), (d % 9).cast("string"), F.lit('/">e</a>'),
        F.lit('<a href="?o='), (d % 2).cast("string"), F.lit('">q</a>'),
        # same-host next-page link (round 14): pages d -> d+8 chain the
        # crawl two hops deep — for d+8 < N_LINK_DOCS the target is an
        # already-fetched page (frontier admission must anti-join it
        # out), for the last 8 docs it is a genuinely undiscovered URL
        F.lit('<a href="/a'), ((d + 8) % 5).cast("string"),
        F.lit("/b/page"), (d + 8).cast("string"), F.lit('">n</a>'),
        F.lit('<a href="page'), ds, F.lit('">self</a>'),
        F.lit('<a href="#sec">f</a><a href="mailto:x@y.z">m</a></p>'),
    )
    return (
        load(spark, sf_dir, "documents")
        .filter(d < N_LINK_DOCS)
        .select("doc_id", base.alias("url"), html.alias("html"))
    )


_LINK_EDGES_SQL = f"""
ldocs AS (
  SELECT doc_id, doc_id % {N_LINK_HOSTS} AS h FROM documents
  WHERE doc_id < {N_LINK_DOCS}
),
lsrc AS (
  SELECT doc_id, h,
         'https://linkhost' || CAST(h AS VARCHAR) || '.com/a'
         || CAST(doc_id % 5 AS VARCHAR) || '/b/page' || CAST(doc_id AS VARCHAR) AS src
  FROM ldocs
),
-- each planted href's resolved+canonical form, derived independently
-- from the arithmetic (self-link and non-navigational hrefs absent)
ledges AS (
  SELECT src, 'https://linkhost' || CAST(h AS VARCHAR) || '.com/top'
              || CAST(doc_id % 7 AS VARCHAR) AS dst FROM lsrc
  UNION ALL
  SELECT src, 'https://linkhost' || CAST(h AS VARCHAR) || '.com/a'
              || CAST(doc_id % 5 AS VARCHAR) || '/b/sib'
              || CAST(doc_id % 3 AS VARCHAR) || '.html' FROM lsrc
  UNION ALL
  SELECT src, 'https://linkhost' || CAST(h AS VARCHAR) || '.com/a'
              || CAST(doc_id % 5 AS VARCHAR) || '/up'
              || CAST(doc_id % 4 AS VARCHAR) FROM lsrc
  UNION ALL
  SELECT src, 'https://linkhost' || CAST((doc_id + 1) % {N_LINK_HOSTS} AS VARCHAR)
              || '.com/x' || CAST(doc_id % 6 AS VARCHAR) FROM lsrc
  UNION ALL
  SELECT src, 'https://ext' || CAST(doc_id % 3 AS VARCHAR) || '.com/p/'
              || CAST(doc_id % 9 AS VARCHAR) FROM lsrc
  UNION ALL
  SELECT src, src || '?o=' || CAST(doc_id % 2 AS VARCHAR) FROM lsrc
  UNION ALL
  SELECT src, 'https://linkhost' || CAST(h AS VARCHAR) || '.com/a'
              || CAST((doc_id + 8) % 5 AS VARCHAR) || '/b/page'
              || CAST(doc_id + 8 AS VARCHAR) FROM lsrc
)
"""


@register(
    "web_link_graph",
    f"WITH {_LINK_EDGES_SQL} SELECT DISTINCT src, dst FROM ledges",
)
def web_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-level link extraction (round 13): HTML ``<a href>`` values
    → RFC 3986 resolution (stack-fold dot-segment removal) →
    canonicalized, deduped ``(src, dst)`` edges; self-loops,
    fragments, and non-navigational schemes drop
    (``functions/links.py:page_links``). Everything codegen; the only
    row expansion is hrefs/page. The oracle derives every planted
    edge independently from the fixture arithmetic (the generic
    resolver is golden-tested in ``tests/test_links.py``)."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.links import (
        page_links,
    )

    return page_links(_link_pages(spark, sf_dir))


# NB: inside WITH RECURSIVE, DuckDB (1.0) treats ANY top-level
# `A UNION B` CTE body as a recursive union and corrupts the rows —
# every CTE here that unions keeps the DISTINCT-over-UNION-ALL shape
_HOST_GRAPH_SQL = f"""
hedges AS (
  SELECT DISTINCT src_host, dst_host FROM (
    SELECT 'linkhost' || CAST(h AS VARCHAR) || '.com' AS src_host,
           'linkhost' || CAST((h + 1) % {N_LINK_HOSTS} AS VARCHAR) || '.com' AS dst_host
    FROM ldocs
    UNION ALL
    SELECT 'linkhost' || CAST(h AS VARCHAR) || '.com',
           'ext' || CAST(doc_id % 3 AS VARCHAR) || '.com'
    FROM ldocs
  )
)
"""


@register(
    "web_host_degree",
    f"""
WITH {_LINK_EDGES_SQL},
{_HOST_GRAPH_SQL}
SELECT host,
       CAST(coalesce(o.c, 0) AS BIGINT) AS out_degree,
       CAST(coalesce(i.c, 0) AS BIGINT) AS in_degree
FROM (SELECT DISTINCT host FROM (SELECT src_host AS host FROM hedges
      UNION ALL SELECT dst_host FROM hedges)) hosts
LEFT JOIN (SELECT src_host, count(*) AS c FROM hedges GROUP BY src_host) o
       ON o.src_host = hosts.host
LEFT JOIN (SELECT dst_host, count(*) AS c FROM hedges GROUP BY dst_host) i
       ON i.dst_host = hosts.host
""",
)
def web_host_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph projection + fan-out/fan-in (round 13): page edges →
    distinct cross-host ``(src_host, dst_host)`` edges → per-host
    out/in degrees — the first-order authority signal (a host linked
    by many others is not a link farm's orphan) and the sanity layer
    under PageRank. Two small shuffles past the page-edge dedup."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.links import (
        host_degrees,
        host_graph,
        page_links,
    )

    out = host_degrees(host_graph(page_links(_link_pages(spark, sf_dir))))
    return out.select(
        "host",
        F.col("out_degree").cast("long").alias("out_degree"),
        F.col("in_degree").cast("long").alias("in_degree"),
    )


PAGERANK_K = 10
PAGERANK_DAMPING = 0.85


@register(
    "web_host_pagerank",
    f"""
WITH RECURSIVE {_LINK_EDGES_SQL},
{_HOST_GRAPH_SQL},
hosts AS (
  SELECT DISTINCT host FROM (
    SELECT src_host AS host FROM hedges UNION ALL SELECT dst_host FROM hedges
  )
),
nh AS (SELECT count(*) AS n FROM hosts),
outd AS (SELECT src_host, count(*) AS c FROM hedges GROUP BY src_host),
pr(iter, host, v) AS (
  SELECT 0, host, CAST(1.0 / n AS DOUBLE) FROM hosts, nh
  UNION ALL
  -- LEFT-join shape so every host survives every iteration even when
  -- NO host has out-links (an inner join through outd would emit zero
  -- recursive rows on an all-dangling graph and 'WHERE iter = K'
  -- would select nothing, diverging from the engine's teleport floor)
  SELECT iter + 1, host,
         CAST((1 - {PAGERANK_DAMPING}) / (SELECT n FROM nh)
              + {PAGERANK_DAMPING} * mass AS DOUBLE)
  FROM (
    SELECT p.iter AS iter, hh.host AS host,
           sum(CASE WHEN e.dst_host = hh.host THEN p.v / o.c ELSE 0 END) AS mass
    FROM pr p
    CROSS JOIN hosts hh
    LEFT JOIN outd o ON o.src_host = p.host
    LEFT JOIN hedges e ON e.src_host = p.host
    WHERE p.iter < {PAGERANK_K}
    GROUP BY p.iter, hh.host
  )
)
SELECT host, round(v, 6) AS pagerank FROM pr WHERE iter = {PAGERANK_K}
""",
)
def web_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank over the host graph (round 13), fixed
    ``k={PAGERANK_K}`` power iteration — the authority prior a crawl
    scheduler multiplies into its fetch priorities and a curation
    pipeline uses as a per-host quality feature. Deterministic by
    construction (fixed k, dangling mass dropped — documented in
    ``functions/links.py:host_pagerank``), so the DuckDB oracle
    replays the exact iteration as a recursive CTE and the values
    hash-match to 6 decimals. Each iteration shuffles only the
    host-level edge table."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.links import (
        host_graph,
        host_pagerank,
        page_links,
    )

    pr = host_pagerank(
        host_graph(page_links(_link_pages(spark, sf_dir))),
        k=PAGERANK_K,
        damping=PAGERANK_DAMPING,
    )
    return pr.select("host", F.round(F.col("pagerank"), 6).alias("pagerank"))


# --- frontier admission (round 14): closing the crawl loop ------------------
#
# Round 13 left seed discovery, the fetch plan, and link extraction as
# disconnected operators; admission is the feedback edge that makes
# them a crawler. Fixture: the link fixture's wave-0 pages are the
# FETCHED frontier; their extracted links are the wave-1 candidates.
# The same-host next-page chain (d -> d+8) makes the fetched anti-join
# bite (192 of those targets are already-fetched pages, 8 are new);
# ext0.com is robots-blocked (a polite crawl never admits what it may
# not fetch); the cross-wave host cap charges each host's 25 fetched
# pages against its quota. A second admission of the SAME candidates
# must admit zero rows — pinned in the value hash via `readmitted`.

ADMIT_HOST_CAP = 30
ADMIT_BLOCKED_HOST = "ext0.com"

#: one (session, gate) pair — the admission fixtures' robots gate,
#: prepared once per session and reused across calls/passes. This is
#: RobotsGate's documented purpose (a crawl prepares its permission
#: table once, not per wave): constructing it per query call paid
#: ~1.5 s of tiny-job overhead (rules parse + collect + checkpoint)
#: per bench pass for a one-row rules table that never changes.
_ADMIT_GATE_CACHE: list = []


def _admit_gate(spark: SparkSession):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
        RobotsGate,
        parse_robots_rules,
    )

    for s, g in _ADMIT_GATE_CACHE:
        if s is spark:
            return g
    gate = RobotsGate(
        parse_robots_rules(
            spark.createDataFrame(
                [(ADMIT_BLOCKED_HOST, "User-agent: *\nDisallow: /")],
                "host string, body string",
            )
        ),
        agent="*",
    )
    _ADMIT_GATE_CACHE[:] = [(spark, gate)]
    return gate


def _sql_host(col: str) -> str:
    return (
        "regexp_replace(lower(regexp_extract("
        + col
        + ", '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':[0-9]+$', '')"
    )


@register(
    "web_frontier_admission",
    f"""
WITH {_LINK_EDGES_SQL},
shost AS (
  SELECT {_sql_host('src')} AS host, count(*) AS taken FROM lsrc GROUP BY 1
),
cand AS (SELECT DISTINCT dst FROM ledges),
fresh AS (
  SELECT dst FROM cand WHERE dst NOT IN (SELECT src FROM lsrc)
),
gated AS (
  SELECT dst AS canonical_url, {_sql_host('dst')} AS host FROM fresh
  WHERE {_sql_host('dst')} <> '{ADMIT_BLOCKED_HOST}'
),
ranked AS (
  SELECT canonical_url, host,
         row_number() OVER (PARTITION BY host ORDER BY canonical_url) AS rk
  FROM gated
)
SELECT r.canonical_url, r.host, CAST(0 AS BIGINT) AS readmitted
FROM ranked r LEFT JOIN shost s ON r.host = s.host
WHERE r.rk + coalesce(s.taken, 0) <= {ADMIT_HOST_CAP}
""",
)
def web_frontier_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier admission, exactly once (round 14 — the crawl-loop
    closure): wave-0 pages' canonical URLs seed the persisted FETCHED
    frontier; ``page_links`` over the same pages yields the wave-1
    candidates, which are admitted via
    ``streaming.frontier_admit.admit_frontier_candidates`` —
    canonicalize → dedup → anti-join against fetched + pending →
    robots gate (``ext0.com`` disallowed) → cross-wave host cap
    (fetched pages consume quota) → persisted pending wave. A second
    admission of the identical candidate set must admit NOTHING
    (``readmitted`` pins its count at 0 in the value hash). The oracle
    replays every stage from the planted link arithmetic. At scale the
    anti-join shuffles on ``canonical_url`` with AQE sizing and the
    cap is one window over candidates — the frontier is read, never
    rewritten (status is the directory; see
    ``streaming/frontier_admit.py``)."""
    import tempfile

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.links import (
        page_links,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.url import (
        url_host,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.frontier_admit import (
        admit_frontier_candidates,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.web_ingest import (
        read_frontier,
    )

    pages = _link_pages(spark, sf_dir)
    # consumed by BOTH admission waves — checkpoint so the page_links
    # Arrow kernel + dedup shuffle run once, not once per wave
    cand = (
        page_links(pages)
        .select(F.col("dst").alias("url"))
        # lazy since r16: cand derives from pages only (no frontier
        # state), so the first admission write materializes it and the
        # second wave reads the blocks — no extra eager job
        .localCheckpoint(eager=False)
    )
    gate = _admit_gate(spark)
    with tempfile.TemporaryDirectory() as tmp:
        fdir, pdir = f"{tmp}/frontier", f"{tmp}/pending"
        pages.select(
            F.col("url").alias("canonical_url"), url_host("url").alias("host")
        ).write.parquet(f"{fdir}/batch_id=0")
        admit_frontier_candidates(
            spark, fdir, pdir, cand, wave=1,
            robots_gate=gate, host_cap=ADMIT_HOST_CAP,
        )
        again = admit_frontier_candidates(
            spark, fdir, pdir, cand, wave=2,
            robots_gate=gate, host_cap=ADMIT_HOST_CAP,
        )
        pending = read_frontier(spark, pdir)
        collected = pending.collect()
    out = spark.createDataFrame(collected, pending.schema)
    return out.select(
        "canonical_url",
        "host",
        F.lit(again["n_admitted"]).cast("long").alias("readmitted"),
    )


# --- PageRank-prioritized fetch scheduling (round 14) -----------------------

#: planted per-host crawl delays for the ranked schedule (hosts not
#: listed use the scheduler default 1.0 s)
RANKED_DELAYS = [("linkhost0.com", 2.0), ("linkhost1.com", 0.25), ("ext1.com", 3.0)]

_PAGERANK_CTE = f"""
hosts AS (
  SELECT DISTINCT host FROM (
    SELECT src_host AS host FROM hedges UNION ALL SELECT dst_host FROM hedges
  )
),
nh AS (SELECT count(*) AS n FROM hosts),
outd AS (SELECT src_host, count(*) AS c FROM hedges GROUP BY src_host),
pr(iter, host, v) AS (
  SELECT 0, host, CAST(1.0 / n AS DOUBLE) FROM hosts, nh
  UNION ALL
  SELECT iter + 1, host,
         CAST((1 - {PAGERANK_DAMPING}) / (SELECT n FROM nh)
              + {PAGERANK_DAMPING} * mass AS DOUBLE)
  FROM (
    SELECT p.iter AS iter, hh.host AS host,
           sum(CASE WHEN e.dst_host = hh.host THEN p.v / o.c ELSE 0 END) AS mass
    FROM pr p
    CROSS JOIN hosts hh
    LEFT JOIN outd o ON o.src_host = p.host
    LEFT JOIN hedges e ON e.src_host = p.host
    WHERE p.iter < {PAGERANK_K}
    GROUP BY p.iter, hh.host
  )
)
"""


@register(
    "web_fetch_schedule_ranked",
    f"""
WITH RECURSIVE {_LINK_EDGES_SQL},
{_HOST_GRAPH_SQL},
{_PAGERANK_CTE},
srchosts AS (SELECT DISTINCT {_sql_host('src')} AS src_host, dst FROM ledges),
prio AS (
  SELECT s.dst AS url, round(sum(r.v), 6) AS priority
  FROM srchosts s
  JOIN (SELECT host, v FROM pr WHERE iter = {PAGERANK_K}) r
    ON r.host = s.src_host
  GROUP BY s.dst
),
frontier AS (SELECT DISTINCT dst AS url FROM ledges),
delays(host, crawl_delay) AS (
  VALUES {", ".join(f"('{h}', CAST({d} AS DOUBLE))" for h, d in RANKED_DELAYS)}
),
ranked AS (
  SELECT {_sql_host('f.url')} AS host, f.url, p.priority,
         CAST(row_number() OVER (
           PARTITION BY {_sql_host('f.url')}
           ORDER BY p.priority DESC, f.url) - 1 AS BIGINT) AS wave
  FROM frontier f JOIN prio p ON f.url = p.url
)
SELECT r.host, r.url, r.priority, r.wave,
       CAST(round(r.wave * coalesce(d.crawl_delay, 1.0), 6) AS DOUBLE) AS fetch_at
FROM ranked r LEFT JOIN delays d ON r.host = d.host
""",
)
def web_fetch_schedule_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank-prioritized politeness scheduling (round 14): the
    discovered-URL frontier (the link fixture's distinct dsts) is
    scheduled by ``fetch_schedule(priority=...)`` where each URL's
    priority is ``url_link_authority`` — the summed host-PageRank of
    its distinct linking hosts. Within a host, waves go authority
    DESC (URL bytewise on ties); host wave SPACING stays the planted
    crawl-delays (authority decides what a host's next token buys,
    never how fast tokens come). Priorities are rounded to 6 dp
    BEFORE ranking on both sides so double-summation order can't flip
    a wave between engines. The oracle replays the full composition —
    recursive-CTE PageRank → per-URL authority → ranked waves —
    independently. Plan: one host shuffle for the window (the
    ``fetch_schedule`` contract), the priority join rides ahead of
    it on the URL key."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.links import (
        host_graph,
        host_pagerank,
        page_links,
        url_link_authority,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
        fetch_schedule,
    )

    edges = page_links(_link_pages(spark, sf_dir)).localCheckpoint(
        eager=False  # lazy since r16: pagerank's first job materializes it
    )
    ranks = host_pagerank(
        host_graph(edges), k=PAGERANK_K, damping=PAGERANK_DAMPING
    )
    prio = url_link_authority(edges, ranks).select(
        "url", F.round(F.col("priority"), 6).alias("priority")
    )
    frontier = edges.select(F.col("dst").alias("url")).distinct()
    delays = spark.createDataFrame(RANKED_DELAYS, "host string, crawl_delay double")
    out = fetch_schedule(frontier, delays, default_delay=1.0, priority=prio)
    return out.select(
        "host", "url", "priority", "wave",
        F.round(F.col("fetch_at"), 6).alias("fetch_at"),
    )


# --- dangling-mass PageRank (round 14) --------------------------------------


@register(
    "web_host_pagerank_dangling",
    f"""
WITH RECURSIVE {_LINK_EDGES_SQL},
{_HOST_GRAPH_SQL},
hosts AS (
  SELECT DISTINCT host FROM (
    SELECT src_host AS host FROM hedges UNION ALL SELECT dst_host FROM hedges
  )
),
nh AS (SELECT count(*) AS n FROM hosts),
outd AS (SELECT src_host, count(*) AS c FROM hedges GROUP BY src_host),
pr(iter, host, v) AS (
  SELECT 0, host, CAST(1.0 / n AS DOUBLE) FROM hosts, nh
  UNION ALL
  -- same association order as the engine: (base + d*dang/n) + d*mass
  SELECT iter + 1, host,
         CAST(((1 - {PAGERANK_DAMPING}) / (SELECT n FROM nh)
               + {PAGERANK_DAMPING} * dang / (SELECT n FROM nh))
              + {PAGERANK_DAMPING} * mass AS DOUBLE)
  FROM (
    SELECT p.iter AS iter, hh.host AS host,
           sum(CASE WHEN e.dst_host = hh.host THEN p.v / o.c ELSE 0 END) AS mass,
           sum(CASE WHEN o.src_host IS NULL THEN p.v ELSE 0 END) AS dang
    FROM pr p
    CROSS JOIN hosts hh
    LEFT JOIN outd o ON o.src_host = p.host
    LEFT JOIN hedges e ON e.src_host = p.host
    WHERE p.iter < {PAGERANK_K}
    GROUP BY p.iter, hh.host
  )
)
SELECT host, round(v, 6) AS pagerank FROM pr WHERE iter = {PAGERANK_K}
""",
)
def web_host_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank with per-iteration DANGLING-MASS redistribution
    (round 14): the fixture's three ``ext*`` hosts have no out-links,
    so the droppable form leaks their rank each iteration; this form
    sums it and spreads it uniformly — total rank conserved at 1.0,
    the convention behind Common Crawl's published host ranks. Same
    fixed-k deterministic iteration, replayed value-exact by the
    recursive CTE (the dangling sum rides the same grouped pass on
    both sides — in the engine as a one-row cross-joined aggregate
    inside each iteration job, ``functions/links.py:host_pagerank``)."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.links import (
        host_graph,
        host_pagerank,
        page_links,
    )

    pr = host_pagerank(
        host_graph(page_links(_link_pages(spark, sf_dir))),
        k=PAGERANK_K,
        damping=PAGERANK_DAMPING,
        dangling="redistribute",
    )
    return pr.select("host", F.round(F.col("pagerank"), 6).alias("pagerank"))


# --- link extraction over the live WARC funnel (round 14) -------------------


@register(
    "web_link_graph_warc",
    f"""
WITH base AS ({_BASE_SQL}),
{_funnel_curation_ctes()},
roots AS (
  SELECT cu.doc_id AS doc_id, cu.curl AS src,
         CASE WHEN cu.doc_id % 2 = 0 THEN 'http' ELSE 'https' END
         || '://www.example' || CAST(cu.doc_id % 10 AS VARCHAR) || '.com' AS root
  FROM cu
),
hrefs AS (
  SELECT src, root || '/' AS dst FROM roots
  UNION ALL SELECT src, root || '/s' || CAST(doc_id % 7 AS VARCHAR) FROM roots
  UNION ALL SELECT src, root || '/about' FROM roots
  UNION ALL SELECT src, root || '/d' || CAST(doc_id % 11 AS VARCHAR) FROM roots
  UNION ALL SELECT src, root || '/x' FROM roots
  UNION ALL SELECT src, root || '/y' FROM roots
  UNION ALL SELECT src, root || '/z' FROM roots
  UNION ALL SELECT src, root || '/tos' FROM roots
  UNION ALL SELECT src, root || '/p' FROM roots
)
SELECT DISTINCT src, dst FROM hrefs
""",
)
def web_link_graph_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link extraction over the LIVE WARC funnel (round 14): the same
    planted ``.warc.gz`` bytes the ingest funnel parses — charset leg,
    chunked transfer-encoding leg, nav/aside/footer boilerplate —
    flow container parse → decoded HTML (``sources.warc.html_pages``)
    → ``page_links`` (href extraction, RFC 3986 resolution, URL
    canonicalization, dedup). Unlike ``web_link_graph``'s synthesized
    pages, this exercises extraction against real-shaped captures:
    the canonical SRC collapses the fixture's case/port/fragment/
    tracking-param variants (60 captures → 30 canonical sources), and
    every planted href is root-relative, so the oracle derives each
    edge from the capture arithmetic + the shared canonicalizer
    replay. Same scan-shape as the funnel: the only Python is the
    container framing and the measured resolve+canonicalize kernel."""
    import tempfile

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.links import (
        page_links,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.warc import (
        html_pages,
        load_warc_records,
    )

    planted = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < N_DOCS)
        .select("doc_id", "text")
        .collect()
    )
    rows = sorted((r["doc_id"], r["text"]) for r in planted)
    with tempfile.TemporaryDirectory() as tmp:
        with open(f"{tmp}/crawl-00000.warc.gz", "wb") as f:
            f.write(_warc_segment(rows))
        edges = page_links(html_pages(load_warc_records(spark, tmp)))
        collected = edges.collect()
    return spark.createDataFrame(collected, "src string, dst string")


# --- authority as a curation prior (round 14) --------------------------------

AUTHORITY_SAMPLE_K = 30


@register(
    "corpus_authority_weighted_sample",
    f"""
WITH RECURSIVE {_LINK_EDGES_SQL},
{_HOST_GRAPH_SQL},
{_PAGERANK_CTE},
ranks AS (
  SELECT host, round(v, 6) AS authority FROM pr WHERE iter = {PAGERANK_K}
),
docs AS (
  SELECT doc_id,
         'linkhost' || CAST(doc_id % {N_LINK_HOSTS} AS VARCHAR) || '.com' AS host
  FROM documents WHERE doc_id < {N_LINK_DOCS}
),
pri AS (
  SELECT d.doc_id, d.host, r.authority,
         pow(((d.doc_id * 2654435761) % 4294967296 + 0.5) / 4294967296.0,
             1.0 / r.authority) AS priority
  FROM docs d JOIN ranks r ON r.host = d.host
  WHERE r.authority > 0
)
SELECT doc_id, host, authority, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS rank
  FROM pri
) WHERE rank <= {AUTHORITY_SAMPLE_K}
""",
)
def corpus_authority_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link authority as a CURATION prior (round 14): training docs
    sampled weighted-without-replacement by their host's PageRank —
    the standard "prefer content that the web vouches for" recipe
    (host ranks as a per-host quality feature, the second consumer of
    ``host_pagerank`` after the fetch scheduler). Composition:
    fixed-k PageRank over the link fixture's host graph (rounded to
    6 dp on BOTH sides so the weight is bit-identical across engines)
    → per-doc weight by host → Efraimidis–Spirakis A-ES top-K
    (``operators.sampling.weighted_priority_sample``, global form:
    TakeOrderedAndProject, no global sort, the deterministic
    Knuth-hash uniform so the oracle replays the exact sample).
    Priorities are ranked but not emitted (pow ULP is
    engine-specific; rank order is not)."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.links import (
        host_graph,
        host_pagerank,
        page_links,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.sampling import (
        weighted_priority_sample,
    )

    ranks = host_pagerank(
        host_graph(page_links(_link_pages(spark, sf_dir))),
        k=PAGERANK_K,
        damping=PAGERANK_DAMPING,
    ).select("host", F.round(F.col("pagerank"), 6).alias("authority"))
    d = F.col("doc_id")
    docs = (
        load(spark, sf_dir, "documents")
        .filter(d < N_LINK_DOCS)
        .select(
            "doc_id",
            F.concat(
                F.lit("linkhost"),
                (d % N_LINK_HOSTS).cast("string"),
                F.lit(".com"),
            ).alias("host"),
        )
    )
    top = weighted_priority_sample(
        docs.join(ranks, "host"), "doc_id", "authority", k=AUTHORITY_SAMPLE_K
    )
    return top.select(
        "doc_id", "host", "authority", F.col("rank").cast("int").alias("rank")
    )


# --- freshness-driven recrawl (round 14) -------------------------------------

N_RECRAWL_DOCS = 160
RECRAWL_HOSTS = 5


@register(
    "web_recrawl_candidates",
    f"""
WITH docs AS (SELECT doc_id AS d FROM documents WHERE doc_id < {N_RECRAWL_DOCS}),
seeds AS (
  SELECT 'fresh' || CAST(d % {RECRAWL_HOSTS} AS VARCHAR) || '.example' AS host,
         'https://fresh' || CAST(d % {RECRAWL_HOSTS} AS VARCHAR)
         || '.example/p/' || CAST(d AS VARCHAR) AS url,
         CASE d % 4
           WHEN 0 THEN '2024-06-' || lpad(CAST(1 + d % 28 AS VARCHAR), 2, '0')
           WHEN 1 THEN '2024-06-' || lpad(CAST(1 + d % 28 AS VARCHAR), 2, '0')
                       || CASE WHEN d % 8 = 5 THEN 'T06:30:00.25Z'
                               ELSE 'T06:30:00Z' END
           WHEN 2 THEN NULL
           ELSE '2024-06-20T10:00:00+02:00'
         END AS lastmod,
         d
  FROM docs
),
fetched AS (
  SELECT url,
         strptime('2024-06-' || CAST(15 + d % 3 AS VARCHAR), '%Y-%m-%d') AS fetched_at
  FROM seeds
)
-- NB: DuckDB's %f reads the fractional DIGITS as micros (.25Z ->
-- .000025), not as a decimal fraction like the engine's normalized
-- parse — harmless here because only the strictly-newer comparison
-- matters and the fixture's claims differ from fetches at day
-- granularity; what the fractional leg pins is that a .25Z claim
-- PARSES (non-NULL) and triggers, the r14-advice recrawl hole
SELECT s.host, s.url, s.lastmod
FROM seeds s JOIN fetched f ON s.url = f.url
WHERE coalesce(try_strptime(s.lastmod, '%Y-%m-%dT%H:%M:%SZ'),
               try_strptime(s.lastmod, '%Y-%m-%dT%H:%M:%S.%fZ'),
               try_strptime(s.lastmod, '%Y-%m-%d')) > f.fetched_at
""",
)
def web_recrawl_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-driven recrawl (round 14): sitemap ``lastmod`` claims
    vs our fetch times — the loop edge that makes a crawl CONTINUOUS
    instead of one-shot (``functions/sitemap.py:recrawl_candidates``).
    W3C-datetime scope pinned by the fixture: date-only claims
    (midnight — strictly-newer-day triggers), UTC timestamps (same-day
    06:30Z beats a midnight fetch), fractional-seconds UTC timestamps
    (06:30:00.25Z — must parse and trigger, the r14-advice hole),
    absent claims never trigger, and non-UTC offsets parse NULL by
    documented scope (conservative: no refetch on an unparseable
    claim). One URL-keyed equi-join; the parse rides the seed scan."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.sitemap import (
        recrawl_candidates,
    )

    d = F.col("doc_id")
    base = load(spark, sf_dir, "documents").filter(d < N_RECRAWL_DOCS)
    day = F.lpad((1 + d % 28).cast("string"), 2, "0")
    lastmod = (
        F.when(d % 4 == 0, F.concat(F.lit("2024-06-"), day))
        .when(
            d % 4 == 1,
            F.concat(
                F.lit("2024-06-"),
                day,
                # the r14-advice recrawl hole: a fractional-seconds
                # claim must PARSE (it used to silently NULL and the
                # page was never recrawled)
                F.when(d % 8 == 5, F.lit("T06:30:00.25Z")).otherwise(
                    F.lit("T06:30:00Z")
                ),
            ),
        )
        .when(d % 4 == 3, F.lit("2024-06-20T10:00:00+02:00"))
    )
    url = F.concat(
        F.lit("https://fresh"), (d % RECRAWL_HOSTS).cast("string"),
        F.lit(".example/p/"), d.cast("string"),
    )
    seeds = base.select(
        F.concat(
            F.lit("fresh"), (d % RECRAWL_HOSTS).cast("string"), F.lit(".example")
        ).alias("host"),
        url.alias("url"),
        lastmod.alias("lastmod"),
    )
    fetched = base.select(
        url.alias("canonical_url"),
        F.to_timestamp(
            F.concat(F.lit("2024-06-"), (15 + d % 3).cast("string"))
        ).alias("fetched_at"),
    )
    return recrawl_candidates(fetched, seeds)


# --- crawler-trap URL signals (round 14) -------------------------------------

N_TRAP_DOCS = 240
TRAP_HOSTS = 8


@register(
    "web_url_trap_profile",
    f"""
WITH docs AS (
  SELECT doc_id AS d, doc_id % {TRAP_HOSTS} AS h, (doc_id // 8) % 8 AS r8,
         (doc_id // 8) % 12 AS r12
  FROM documents WHERE doc_id < {N_TRAP_DOCS}
),
urls AS (
  SELECT 'trap' || CAST(h AS VARCHAR) || '.example' AS host,
         'https://trap' || CAST(h AS VARCHAR) || '.example'
         || CASE h % 4
              WHEN 0 THEN '/cal' || repeat('/ev', CAST(2 + r8 AS INT))
              WHEN 1 THEN '/q?' || substr(repeat('&k=v', CAST(1 + r12 AS INT)), 2)
              WHEN 2 THEN '/dir' || CAST(d % 7 AS VARCHAR) || '/page' || CAST(d AS VARCHAR)
              ELSE '/'
            END AS url,
         h % 4 AS mode, r8, r12
  FROM docs
),
sig AS (
  SELECT host,
         CASE mode WHEN 0 THEN CAST(3 + r8 AS INT)
                   WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 0 END AS path_depth,
         CASE mode WHEN 0 THEN CAST(2 + r8 AS INT)
                   WHEN 3 THEN 0 ELSE 1 END AS max_segment_repeat,
         CASE mode WHEN 1 THEN CAST(1 + r12 AS INT) ELSE 0 END AS n_params
  FROM urls
)
SELECT host,
       count(*) AS n_urls,
       CAST(max(path_depth) AS BIGINT) AS max_depth,
       CAST(max(max_segment_repeat) AS BIGINT) AS max_repeat,
       CAST(max(n_params) AS BIGINT) AS max_params,
       CAST(sum(CASE WHEN max_segment_repeat >= 4 OR n_params >= 8
                     OR path_depth >= 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_trap_urls,
       CAST(CASE WHEN sum(CASE WHEN max_segment_repeat >= 4 OR n_params >= 8
                                    OR path_depth >= 12 THEN 1 ELSE 0 END)
                      * 1.0 / count(*) > 0.3 THEN 1 ELSE 0 END AS INT) AS trap_host
FROM sig GROUP BY host
""",
)
def web_url_trap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap detection (round 14): per-URL shape signals —
    path depth, max repeated path segment (the calendar/loop
    signature), query-param count (faceted explosions) — aggregated
    into a per-host trap profile with a 30% blocklist flag
    (``functions/url.py:url_trap_signals`` / ``host_trap_profile``),
    the NEGATIVE prior a scheduler multiplies in alongside the
    PageRank authority. Fixture plants four host shapes (calendar
    trap with varying loop depth, param explosion, normal two-level,
    root-only); the oracle derives every signal from the same
    arithmetic the URLs were built from, so a defect anywhere in the
    split/fold/aggregate chain moves a count. Pure codegen per URL
    (the segment-repeat fold is O(depth²) on a protocol-bounded
    depth), ONE host shuffle for the profile."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.url import (
        host_trap_profile,
    )

    d = F.col("doc_id")
    h = (d % TRAP_HOSTS).cast("string")
    path = (
        F.when(
            d % TRAP_HOSTS % 4 == 0,
            F.concat(F.lit("/cal"), F.expr("repeat('/ev', CAST(2 + (doc_id DIV 8) % 8 AS INT))")),
        )
        .when(
            d % TRAP_HOSTS % 4 == 1,
            F.concat(
                F.lit("/q?"),
                F.expr("substring(repeat('&k=v', CAST(1 + (doc_id DIV 8) % 12 AS INT)), 2)"),
            ),
        )
        .when(
            d % TRAP_HOSTS % 4 == 2,
            F.concat(F.lit("/dir"), (d % 7).cast("string"), F.lit("/page"), d.cast("string")),
        )
        .otherwise(F.lit("/"))
    )
    urls = (
        load(spark, sf_dir, "documents")
        .filter(d < N_TRAP_DOCS)
        .select(
            F.concat(F.lit("https://trap"), h, F.lit(".example"), path).alias("url")
        )
    )
    out = host_trap_profile(urls)
    return out.select(
        "host",
        "n_urls",
        F.col("max_depth").cast("long").alias("max_depth"),
        F.col("max_repeat").cast("long").alias("max_repeat"),
        F.col("max_params").cast("long").alias("max_params"),
        F.col("n_trap_urls").cast("long").alias("n_trap_urls"),
        "trap_host",
    )


# --- curated fetch priority: authority × trap penalty (round 15) -------------
#
# VERDICT r14 ask #2: web_url_trap_profile documents itself as "the
# NEGATIVE prior a scheduler multiplies in alongside the PageRank
# authority", but no query composed the two — web_fetch_schedule_ranked
# consumed authority alone. Here the full curated priority ships:
# PageRank → per-URL authority → per-host trap penalty → ranked waves.
# Fixture: the link fixture's discovered frontier plus two planted
# calendar-trap URLs on ext2.com (/cal/ev/ev/ev/ev[...]) — ext2's trap
# share (2 of 5) crosses the 30% flag, so ALL its authority-scored URLs
# are multiplied down by TRAP_PENALTY (visible, hash-pinned, in the
# priority column), and the trap URLs themselves carry no authority at
# all (never linked), scheduling dead last in ext2's waves.

TRAP_PENALTY = 0.1
N_CURATED_TRAP_URLS = 2


@register(
    "web_fetch_schedule_curated",
    f"""
WITH RECURSIVE {_LINK_EDGES_SQL},
{_HOST_GRAPH_SQL},
{_PAGERANK_CTE},
srchosts AS (SELECT DISTINCT {_sql_host('src')} AS src_host, dst FROM ledges),
prio AS (
  SELECT s.dst AS url, round(sum(r.v), 6) AS priority
  FROM srchosts s
  JOIN (SELECT host, v FROM pr WHERE iter = {PAGERANK_K}) r
    ON r.host = s.src_host
  GROUP BY s.dst
),
curated_frontier AS (
  SELECT DISTINCT url FROM (
    SELECT dst AS url FROM ledges
    UNION ALL
    SELECT 'https://ext2.com/cal' || repeat('/ev', CAST(4 + ti AS INT)) AS url
    FROM (SELECT unnest(range({N_CURATED_TRAP_URLS})) AS ti)
  )
),
tprof AS (
  -- trap replay from the plant arithmetic: only the planted calendar
  -- URLs repeat a path segment >= 4 times (the generic signal
  -- extraction is pinned by web_url_trap_profile's own oracle)
  SELECT {_sql_host('url')} AS host,
         CASE WHEN sum(CASE WHEN url LIKE '%/ev/ev/ev/ev%' THEN 1 ELSE 0 END)
                   * 1.0 / count(*) > 0.3 THEN 1 ELSE 0 END AS trap_host
  FROM curated_frontier GROUP BY 1
),
cur AS (
  SELECT p.url,
         round(p.priority * CASE WHEN t.trap_host = 1
                                 THEN {TRAP_PENALTY} ELSE 1.0 END, 6) AS priority
  FROM prio p LEFT JOIN tprof t ON t.host = {_sql_host('p.url')}
),
delays(host, crawl_delay) AS (
  VALUES {", ".join(f"('{h}', CAST({dl} AS DOUBLE))" for h, dl in RANKED_DELAYS)}
),
ranked AS (
  SELECT {_sql_host('f.url')} AS host, f.url, c.priority,
         CAST(row_number() OVER (
           PARTITION BY {_sql_host('f.url')}
           ORDER BY c.priority DESC NULLS LAST, f.url) - 1 AS BIGINT) AS wave
  FROM curated_frontier f LEFT JOIN cur c ON f.url = c.url
)
SELECT r.host, r.url, r.priority, r.wave,
       CAST(round(r.wave * coalesce(d.crawl_delay, 1.0), 6) AS DOUBLE) AS fetch_at,
       CAST(coalesce(t.trap_host, 0) AS INT) AS trap_host
FROM ranked r
LEFT JOIN delays d ON r.host = d.host
LEFT JOIN tprof t ON r.host = t.host
""",
)
def web_fetch_schedule_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-complete fetch scheduling (round 15): per-URL priority
    = ``url_link_authority`` × per-host trap penalty
    (``host_trap_profile`` — flagged hosts' priorities multiply by
    {TRAP_PENALTY}), fed to ``fetch_schedule(priority=...)``. The
    positive prior (the web vouches for this URL) and the negative
    prior (this host's URL space looks like a budget-burning trap)
    finally meet in one number, which is what a production scheduler
    ranks on. Plan contract unchanged from the ranked schedule: the
    trap profile is one host shuffle over the frontier, the penalty
    join rides the (hosts-sized, broadcast) profile, and the frontier
    still pays exactly ONE host shuffle for the ranking window."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.links import (
        host_graph,
        host_pagerank,
        page_links,
        url_link_authority,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
        fetch_schedule,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.url import (
        host_trap_profile,
        url_host,
    )

    edges = page_links(_link_pages(spark, sf_dir)).localCheckpoint(
        eager=False  # lazy since r16: pagerank's first job materializes it
    )
    ranks = host_pagerank(
        host_graph(edges), k=PAGERANK_K, damping=PAGERANK_DAMPING
    )
    auth = url_link_authority(edges, ranks).select(
        "url", F.round(F.col("priority"), 6).alias("priority")
    )
    traps = spark.range(N_CURATED_TRAP_URLS).select(
        F.concat(
            F.lit("https://ext2.com/cal"),
            F.expr("repeat('/ev', CAST(4 + id AS INT))"),
        ).alias("url")
    )
    frontier = (
        edges.select(F.col("dst").alias("url")).union(traps).distinct()
    )
    # hosts-sized and consumed TWICE (penalty join + final annotate):
    # materialize once instead of re-running the frontier host-profile
    # aggregation per consumer
    prof = (
        host_trap_profile(frontier)
        .select("host", F.col("trap_host").cast("int").alias("trap_host"))
        .localCheckpoint(eager=False)  # lazy since r16
    )
    cur = (
        auth.withColumn("host", url_host(F.col("url")))
        .join(prof, "host", "left")
        .select(
            "url",
            F.round(
                F.col("priority")
                * F.when(F.col("trap_host") == 1, F.lit(TRAP_PENALTY)).otherwise(
                    F.lit(1.0)
                ),
                6,
            ).alias("priority"),
        )
    )
    delays = spark.createDataFrame(
        RANKED_DELAYS, "host string, crawl_delay double"
    )
    out = fetch_schedule(frontier, delays, default_delay=1.0, priority=cur)
    return (
        out.join(prof, "host", "left")
        .select(
            "host",
            "url",
            "priority",
            "wave",
            F.round(F.col("fetch_at"), 6).alias("fetch_at"),
            F.coalesce(F.col("trap_host"), F.lit(0)).cast("int").alias("trap_host"),
        )
    )


def _admit_recheck_and_wave(
    spark, frontier_dir, pending_dir, recheck, cand, wave, robots_gate,
    host_cap,
):
    """ONE admission pass for the crawl loop's readmission check
    (``recheck`` — the wave-1 candidate set admitted again, which must
    admit nothing) and the next discovery wave (``cand``), replacing
    two sequential ``admit_frontier_candidates`` calls that each
    re-read the full frontier state (round 16, VERDICT r15 #5; guide
    §1.2 — remove duplicate passes).

    Equivalence to the sequential form — admit(recheck, wave−1) then
    admit(cand, wave) — invariant by invariant:

    1. Both sequential calls canonicalize, dedupe within their wave,
       anti-join against fetched ∪ pending and robots-gate against the
       SAME state (the second call excludes its own batch from the
       pending read, so the only state difference it sees is the
       recheck's admitted set A2). Here both sets take those steps
       together, tagged by ``origin`` (2 = recheck, 3 = wave).
    2. Host-cap quota: candidates rank per host by canonical_url with
       recheck rows FIRST (origin asc), so a recheck row's combined
       rank equals its sequential within-wave rank. A wave row's
       sequential rank is its rank among wave rows (combined rank −
       the host's recheck-row count ``_n2``), and its sequential quota
       base is taken + |A2 on the host| (recheck-admitted rows are new
       distinct logical URLs by the anti-join, so they raise the
       distinct-union quota count by exactly their number ``_c2``) —
       both computed as window aggregates over the same host
       partition, one shuffle.
    3. PRECONDITION (this loop's): the two canonical candidate sets
       are DISJOINT — wave-3 candidates are synthesized
       ``https://<host>/hop2`` URLs and no extracted-link class
       produces a ``/hop2`` path — so the sequential anti-join of the
       wave against A2 is vacuous. (The e2e oracle hash would catch a
       violation at every checked scale.)

    The combined admitted set is checkpointed, written once under
    ``batch_id=<wave>`` (the same rows the two sequential overwrites
    left on disk; the loop only consumes that state through the
    returned frame), and the readmitted count rides the write as an
    observed metric. Returns ``(n_readmitted, admitted)`` where
    ``admitted`` is the frozen (canonical_url, host) set of newly
    admitted rows — in this loop every OLDER pending row is already in
    the fetched set, so ``admitted`` IS ``pending_fetch_list`` after
    the write and the caller skips that re-read (the r15 "write-then-
    read-back elision" candidate)."""
    from pyspark.sql import Observation, Window

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.url import (
        with_canonical_url,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.drive import (
        write_batch,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.web_ingest import (
        read_frontier,
    )

    def _canon(df):
        return (
            with_canonical_url(
                df.select(F.col("url")),
                url_col="url",
                out_col="canonical_url",
                host_col="host",
            )
            .filter(F.col("host") != "")
            .select("canonical_url", "host")
            .distinct()
        )

    fresh = _canon(recheck).withColumn("origin", F.lit(2)).unionByName(
        _canon(cand).withColumn("origin", F.lit(3))
    )
    fetched = read_frontier(spark, frontier_dir)
    pending = read_frontier(spark, pending_dir, exclude_batch=wave)
    known = fetched.select("canonical_url").union(
        pending.select("canonical_url")
    )
    fresh = fresh.join(known, "canonical_url", "left_anti")
    if robots_gate is not None:
        fresh = (
            robots_gate(fresh, url_col="canonical_url")
            .filter(F.col("allowed") == 1)
            .select("canonical_url", "host", "origin")
        )
    taken = (
        fetched.select("canonical_url", "host")
        .union(pending.select("canonical_url", "host"))
        .distinct()
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("_taken"))
    )
    w_rank = Window.partitionBy("host").orderBy(
        F.col("origin").asc(), F.col("canonical_url").asc()
    )
    w_host = Window.partitionBy("host")
    ranked = (
        fresh.withColumn("_rk", F.row_number().over(w_rank))
        .join(taken, "host", "left")
        .withColumn("_base", F.coalesce(F.col("_taken"), F.lit(0)))
        .withColumn(
            "_adm2",
            (F.col("origin") == 2)
            & (F.col("_rk") + F.col("_base") <= host_cap),
        )
    )
    ranked = ranked.withColumn(
        "_n2", F.sum((F.col("origin") == 2).cast("int")).over(w_host)
    ).withColumn("_c2", F.sum(F.col("_adm2").cast("int")).over(w_host))
    admitted = (
        ranked.filter(
            F.col("_adm2")
            | (
                (F.col("origin") == 3)
                & (
                    F.col("_rk") - F.col("_n2") + F.col("_base")
                    + F.col("_c2")
                    <= host_cap
                )
            )
        )
        .select("canonical_url", "host", "origin")
        .localCheckpoint(eager=True)
    )
    obs = Observation()
    write_batch(
        admitted.observe(
            obs, F.count(F.when(F.col("origin") == 2, 1)).alias("n2")
        ).select("canonical_url", "host"),
        pending_dir,
        wave,
    )
    return int(obs.get["n2"]), admitted.select("canonical_url", "host")


# --- the closed crawl loop, end to end (round 15) -----------------------------
#
# VERDICT r14 ask #3: admission, the pending fetch list, and the ranked
# schedule were each oracle-checked, and the two-wave loop was pytest-
# proven, but no driver-facing query composed them. This one runs the
# whole cycle the crawler runs: admit(wave 1 candidates from the
# fetched pages' links) → pending fetch list → PageRank-ranked
# politeness schedule → simulated fetch (the fetched rows land in the
# frontier; their pending rows stay on disk, superseded — exactly the
# overlap the r14 distinct-quota fix exists for) → re-admission of the
# same candidates must admit ZERO (pinned in the hash) → wave-2
# discovery (each fetched page links /hop2 on its own host) → admission
# under the CROSS-WAVE host cap: linkhosts sit at quota after wave 1
# (25 fetched + 5 admitted), so their /hop2 is rejected; ext1/ext2
# have room. The oracle replays every stage from the link arithmetic.


@register(
    "web_crawl_loop_e2e",
    f"""
WITH RECURSIVE {_LINK_EDGES_SQL},
{_HOST_GRAPH_SQL},
{_PAGERANK_CTE},
srchosts AS (SELECT DISTINCT {_sql_host('src')} AS src_host, dst FROM ledges),
prio AS (
  SELECT s.dst AS url, round(sum(r.v), 6) AS priority
  FROM srchosts s
  JOIN (SELECT host, v FROM pr WHERE iter = {PAGERANK_K}) r
    ON r.host = s.src_host
  GROUP BY s.dst
),
shost AS (
  SELECT {_sql_host('src')} AS host, count(*) AS taken FROM lsrc GROUP BY 1
),
cand AS (SELECT DISTINCT dst FROM ledges),
fresh AS (SELECT dst FROM cand WHERE dst NOT IN (SELECT src FROM lsrc)),
gated AS (
  SELECT dst AS url, {_sql_host('dst')} AS host FROM fresh
  WHERE {_sql_host('dst')} <> '{ADMIT_BLOCKED_HOST}'
),
rk1 AS (
  SELECT url, host,
         row_number() OVER (PARTITION BY host ORDER BY url) AS rk
  FROM gated
),
pending1 AS (
  SELECT r.url, r.host
  FROM rk1 r LEFT JOIN shost s ON r.host = s.host
  WHERE r.rk + coalesce(s.taken, 0) <= {ADMIT_HOST_CAP}
),
sched1 AS (
  SELECT p.host, p.url,
         CAST(row_number() OVER (
           PARTITION BY p.host
           ORDER BY pr.priority DESC NULLS LAST, p.url) - 1 AS BIGINT)
         AS sched_wave
  FROM pending1 p LEFT JOIN prio pr ON pr.url = p.url
),
taken2 AS (
  -- distinct LOGICAL urls: wave-1 rows are now in the fetched set AND
  -- still on disk as superseded pending rows — counted once
  SELECT host, count(*) AS taken FROM (
    SELECT DISTINCT url, host FROM (
      SELECT src AS url, {_sql_host('src')} AS host FROM lsrc
      UNION ALL SELECT url, host FROM pending1
    )
  ) GROUP BY host
),
hop2 AS (
  SELECT DISTINCT 'https://' || host || '/hop2' AS url, host FROM pending1
),
pending2 AS (
  SELECT h.url, h.host
  FROM hop2 h JOIN taken2 t ON h.host = t.host
  WHERE 1 + t.taken <= {ADMIT_HOST_CAP}
)
SELECT * FROM (
  SELECT url AS canonical_url, host, CAST(1 AS INT) AS loop_wave,
         sched_wave, CAST(0 AS BIGINT) AS readmitted
  FROM sched1
  UNION ALL
  SELECT url, host, CAST(2 AS INT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
  FROM pending2
)
""",
)
def web_crawl_loop_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The closed crawl loop as ONE query (round 15, module comment
    above for the cycle). ``loop_wave`` labels which trip around the
    loop admitted the row; ``sched_wave`` is the PageRank-ranked
    politeness wave the row was fetched in (wave-2 rows are one /hop2
    URL per host, so their schedule is trivially wave 0); ``readmitted``
    pins the exactly-once invariant — a second admission of the full
    candidate set AFTER the fetch must admit nothing. At scale each
    admission is one write job (anti-join + window, AQE-sized), the
    fetch list is one anti-join, and the schedule is the one-host-
    shuffle ``fetch_schedule`` contract; the loop state stays two
    append-only directories throughout."""
    import tempfile

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.links import (
        host_graph,
        host_pagerank,
        page_links,
        url_link_authority,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.robots import (
        fetch_schedule,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.url import (
        url_host,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.frontier_admit import (
        admit_frontier_candidates,
        pending_fetch_list,
    )

    from concurrent.futures import ThreadPoolExecutor

    pages = _link_pages(spark, sf_dir)
    edges = page_links(pages).localCheckpoint(eager=True)
    cand = edges.select(F.col("dst").alias("url"))
    gate = _admit_gate(spark)

    def _prio() -> DataFrame:
        # PageRank -> per-URL authority over the (checkpointed) edge
        # table: independent of the frontier-admission chain below
        # until the ranked schedule consumes it, so its iteration jobs
        # run from a driver thread CONCURRENTLY with the admission
        # writes (guide §2.6 — independent jobs back-fill each other;
        # both sides are many small fixed-cost jobs at fixture scale)
        ranks = host_pagerank(
            host_graph(edges), k=PAGERANK_K, damping=PAGERANK_DAMPING
        )
        return (
            url_link_authority(edges, ranks)
            .select("url", F.round(F.col("priority"), 6).alias("priority"))
            .localCheckpoint(eager=True)
        )

    pool = ThreadPoolExecutor(max_workers=1)
    try:
        prio_fut = pool.submit(_prio)
        delays = spark.createDataFrame(
            RANKED_DELAYS, "host string, crawl_delay double"
        )
        with tempfile.TemporaryDirectory() as tmp:
            fdir, pdir = f"{tmp}/frontier", f"{tmp}/pending"
            pages.select(
                F.col("url").alias("canonical_url"),
                url_host("url").alias("host"),
            ).write.parquet(f"{fdir}/batch_id=0")
            admit_frontier_candidates(
                spark, fdir, pdir, cand, wave=1,
                robots_gate=gate, host_cap=ADMIT_HOST_CAP,
            )
            # the fetch list is consumed THREE times below (ranked
            # schedule, simulated-fetch write, hop2 derivation) — each
            # use would otherwise recompute the pending-vs-fetched
            # anti-join over the state dirs as its own job chain
            # (guide §5: cut lineage for reused intermediates); one
            # eager materialization
            flist = pending_fetch_list(spark, fdir, pdir).localCheckpoint(
                eager=True
            )
            # simulated fetch: every scheduled wave-1 URL lands in the
            # fetched frontier; pending rows stay on disk, superseded
            flist.write.parquet(f"{fdir}/batch_id=1")
            hop2 = flist.select(
                F.concat(
                    F.lit("https://"), F.col("host"), F.lit("/hop2")
                ).alias("url")
            )
            # readmission check + wave-3 admission in ONE pass over the
            # frontier state (round 16 — see _admit_recheck_and_wave
            # for the sequential-equivalence argument); the returned
            # admitted frame IS the final fetch list (every older
            # pending row is in the fetched set), eliding the
            # pending_fetch_list re-read the r15 form paid
            n_readmitted, final = _admit_recheck_and_wave(
                spark, fdir, pdir, recheck=cand, cand=hop2, wave=2,
                robots_gate=gate, host_cap=ADMIT_HOST_CAP,
            )
            sched2 = fetch_schedule(
                final.select(F.col("canonical_url").alias("url"), "host"),
                delays,
                default_delay=1.0,
            )
            # join point of the concurrent authority chain: flist is
            # checkpointed (immune to the admissions that ran
            # meanwhile), so ranking it here is identical to ranking
            # it at wave-1 time
            sched1 = fetch_schedule(
                flist.select(F.col("canonical_url").alias("url"), "host"),
                delays,
                default_delay=1.0,
                priority=prio_fut.result(),
            )
            out1 = sched1.select(
                F.col("url").alias("canonical_url"),
                "host",
                F.lit(1).cast("int").alias("loop_wave"),
                F.col("wave").alias("sched_wave"),
            )
            out2 = sched2.select(
                F.col("url").alias("canonical_url"),
                "host",
                F.lit(2).cast("int").alias("loop_wave"),
                F.col("wave").alias("sched_wave"),
            )
            both = out1.unionByName(out2)
            collected = both.collect()
            schema = both.schema
    finally:
        # always joined/cleaned even when an admission raises (ADVICE
        # r15 #1: the success-path-only shutdown leaked the worker and
        # let a _prio exception surface only at result())
        pool.shutdown(wait=True, cancel_futures=True)
    out = spark.createDataFrame(collected, schema)
    return out.select(
        "canonical_url",
        "host",
        "loop_wave",
        "sched_wave",
        F.lit(n_readmitted).cast("long").alias("readmitted"),
    )


# --- anchor-text index (round 15) --------------------------------------------
#
# The second thing web search learned from the link graph (after
# authority): ANCHOR TEXT — the linking pages' description of the
# target, a relevance signal the target page cannot manufacture and a
# spam feature when one host repeats one anchor at scale. The link
# fixture plants one distinct single-letter anchor per href class, so
# the oracle derives every (dst, anchor, n_hosts) row from the same
# arithmetic that derives the edges; the dropped classes (self-link,
# fragment, mailto) must contribute nothing.

_LINK_ANCHOR_SQL = f"""
lanch AS (
  SELECT src, 'https://linkhost' || CAST(h AS VARCHAR) || '.com/top'
              || CAST(doc_id % 7 AS VARCHAR) AS dst, 't' AS anchor FROM lsrc
  UNION ALL
  SELECT src, 'https://linkhost' || CAST(h AS VARCHAR) || '.com/a'
              || CAST(doc_id % 5 AS VARCHAR) || '/b/sib'
              || CAST(doc_id % 3 AS VARCHAR) || '.html', 's' FROM lsrc
  UNION ALL
  SELECT src, 'https://linkhost' || CAST(h AS VARCHAR) || '.com/a'
              || CAST(doc_id % 5 AS VARCHAR) || '/up'
              || CAST(doc_id % 4 AS VARCHAR), 'u' FROM lsrc
  UNION ALL
  SELECT src, 'https://linkhost' || CAST((doc_id + 1) % {N_LINK_HOSTS} AS VARCHAR)
              || '.com/x' || CAST(doc_id % 6 AS VARCHAR), 'r' FROM lsrc
  UNION ALL
  SELECT src, 'https://ext' || CAST(doc_id % 3 AS VARCHAR) || '.com/p/'
              || CAST(doc_id % 9 AS VARCHAR), 'e' FROM lsrc
  UNION ALL
  SELECT src, src || '?o=' || CAST(doc_id % 2 AS VARCHAR), 'q' FROM lsrc
  UNION ALL
  SELECT src, 'https://linkhost' || CAST(h AS VARCHAR) || '.com/a'
              || CAST((doc_id + 8) % 5 AS VARCHAR) || '/b/page'
              || CAST(doc_id + 8 AS VARCHAR), 'n' FROM lsrc
)
"""


@register(
    "web_anchor_text_index",
    f"""
WITH {_LINK_EDGES_SQL},
{_LINK_ANCHOR_SQL}
SELECT dst, anchor,
       CAST(count(DISTINCT {_sql_host('src')}) AS BIGINT) AS n_hosts
FROM lanch GROUP BY dst, anchor
""",
)
def web_anchor_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text index (round 15): ``page_anchor_texts`` (the
    ``page_links`` kernel carrying each link's cleaned anchor text —
    inner tags stripped, whitespace collapsed) → ``anchor_text_index``
    (per (dst, anchor) the count of DISTINCT linking hosts — one host
    repeating an anchor is one vote). The fixture's one-letter-per-
    class anchors mean a defect anywhere — extraction, tag cleaning,
    resolution, canonicalization, host dedup — moves a count or drops
    a row; the self-link ('self'), fragment ('f'), and mailto ('m')
    anchors must contribute NOTHING. Plan: extraction rides the page
    scan, one dedup shuffle on (src_host, dst, anchor), one count
    aggregate — the exact ``url_link_authority`` shape with a text
    key."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.links import (
        anchor_text_index,
        page_anchor_texts,
    )

    return anchor_text_index(page_anchor_texts(_link_pages(spark, sf_dir)))


# --- mirror-host detection (round 15) ----------------------------------------

N_MIRROR_DOCS = 180
MIRROR_HOSTS = 6
MIRROR_MIN_SHARED = 5
MIRROR_MAX_HOSTS = 5


@register(
    "web_mirror_hosts",
    f"""
WITH mdocs AS (
  SELECT doc_id AS d, doc_id % {MIRROR_HOSTS} AS h, doc_id // {MIRROR_HOSTS} AS p
  FROM documents WHERE doc_id < {N_MIRROR_DOCS}
),
t AS (
  SELECT 'm' || CAST(h AS VARCHAR) || '.example' AS host,
         CASE WHEN p = 29 THEN 'global boilerplate'
              WHEN h IN (0, 3) THEN 'shared mirror content ' || CAST(p AS VARCHAR)
              WHEN h IN (1, 4) THEN 'partial ' || CAST(p % 10 AS VARCHAR)
              ELSE 'unique h' || CAST(h AS VARCHAR) || ' ' || CAST(d AS VARCHAR)
         END AS text
  FROM mdocs
),
sigs AS (SELECT DISTINCT host, md5(text) AS sig FROM t),
eligible AS (
  SELECT sig FROM sigs GROUP BY sig
  HAVING count(*) BETWEEN 2 AND {MIRROR_MAX_HOSTS}
),
pairs AS (
  SELECT a.host AS host_a, b.host AS host_b, count(*) AS n_shared
  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.host < b.host
  WHERE a.sig IN (SELECT sig FROM eligible)
  GROUP BY 1, 2
)
SELECT host_a, host_b, CAST(n_shared AS BIGINT) AS n_shared
FROM pairs WHERE n_shared >= {MIRROR_MIN_SHARED}
""",
)
def web_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-host detection (round 15): hosts serving byte-identical
    documents (``operators.dedup.mirror_host_pairs``) — the
    crawl-budget waster the canonicalizer cannot collapse because the
    hostnames genuinely differ. Fixture plants four shapes: a full
    mirror pair (m0/m3 share 29 pages), a partial mirror pair (m1/m4
    share 10 repeated templates), unique-content hosts (must produce
    NO pair), and one signature on ALL six hosts — boilerplate, not
    mirroring — which the ``max_hosts`` cap must exclude (it would
    otherwise add a spurious shared doc to every pair and the m0/m3
    count would read 30). The oracle replays sig → eligibility → pair
    counting generically from the plant. Plan: one (host, sig) dedup
    shuffle, one sig groupBy with a BOUNDED host set, in-row pair
    expansion, one pair count — never an all-pairs join."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
        mirror_host_pairs,
    )

    d = F.col("doc_id")
    h = d % MIRROR_HOSTS
    p = (d / MIRROR_HOSTS).cast("long")
    text = (
        F.when(p == 29, F.lit("global boilerplate"))
        .when(
            h.isin(0, 3),
            F.concat(F.lit("shared mirror content "), p.cast("string")),
        )
        .when(
            h.isin(1, 4),
            F.concat(F.lit("partial "), (p % 10).cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("unique h"), h.cast("string"), F.lit(" "), d.cast("string")
            )
        )
    )
    docs = (
        load(spark, sf_dir, "documents")
        .filter(d < N_MIRROR_DOCS)
        .select(
            F.concat(F.lit("m"), h.cast("string"), F.lit(".example")).alias(
                "host"
            ),
            text.alias("text"),
        )
    )
    return mirror_host_pairs(
        docs, min_shared=MIRROR_MIN_SHARED, max_hosts=MIRROR_MAX_HOSTS
    )
