"""Robots Exclusion Protocol (RFC 9309) — crawl-permission filtering.

A polite crawl fetches ``/robots.txt`` once per host and filters every
candidate URL through its rules BEFORE fetching. This module gives the
two halves as pure DataFrame transformations:

- :func:`parse_robots_rules` — robots.txt bodies → one rule row per
  ``(host, agent, allow|disallow, pattern)``, via posexplode + window
  group assignment (no Python in the loop);
- :func:`robots_verdicts` — URLs × rules → per-URL allow/deny with the
  winning rule, via a broadcast join (the rules table is tiny next to
  the frontier: one robots.txt per host) and RFC longest-match
  semantics.

Reference lifecycle analog: the reference ingests documents the
operator already fetched (scripts/ingest_documents.py:108-233); a
100 TB web ingest needs the permission gate the reference's SaaS
crawler applies implicitly. Public-spec behavior only (RFC 9309).

Documented scope (mirrored by the DuckDB oracles in
``queries.web_queries``):

- group selection: groups whose ``User-agent`` token equals our
  product token (case-insensitive) win; if the host has none, the
  ``*`` groups apply; a host with neither → allowed (RFC 9309 §2.2.1's
  longest-token-prefix refinement is collapsed to exact-or-star);
- rule matching: the target is ``path[?query]`` (fragment never
  participates); ``*`` in a pattern matches any run of octets, a
  trailing ``$`` anchors the end; otherwise patterns are
  prefix-matched. Most octets win; on a length tie ``allow`` wins
  (RFC 9309 §2.2.2). No matching rule → allowed;
- rules above the first ``User-agent`` line are ignored (no group);
  empty-pattern rules (``Disallow:`` = allow-all) match nothing and
  are dropped at parse;
- percent-encoding is NOT normalized on either side (pattern and
  target compare as captured) — the usual crawler simplification.

Scale note: the expression path compiles one regex per (url ×
host-rule) row via a non-foldable RLIKE — cheap at the web's typical
2–5 rules/host, linear-in-density beyond. Matching is therefore
DUAL-PATH: :func:`robots_verdicts` (codegen expressions, the frontier
side never shuffles) and :func:`robots_verdicts_kernel` (host-bucketed
patterns compiled once per executor, vectorized per host group),
bit-identical by parity tests, dispatched by measured rule density in
:func:`robots_verdicts_auto` (crossover ~6–10 rules/host — SCALE.md
round 13).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: rule fields of robots.txt (the RFC 9309 grammar proper)
_FIELDS = ("user-agent", "allow", "disallow")

#: every field that participates in GROUP ASSEMBLY — group numbering
#: must be computed over all of these and only then filtered to what a
#: caller interprets, or a group whose only lines fall outside the
#: caller's set would merge with the following group and mis-attribute
#: its rules (e.g. 'User-agent: a / Crawl-delay: 1 / / User-agent: * /
#: Disallow: /' must NOT hand agent a the disallow). Sitemap is
#: deliberately absent: it is a standalone record that does not close
#: a user-agent stack.
_GROUP_FIELDS = ("user-agent", "allow", "disallow", "crawl-delay")


def _grouped_lines(
    pages: DataFrame, host_col: str, body_col: str, fields: tuple[str, ...]
) -> DataFrame:
    """robots.txt bodies → ``(host, grp, field, value)`` with RFC 9309
    group assembly — the only stateful part of the grammar (one or
    more ``User-agent`` lines followed by their rules): a group STARTS
    at a ``User-agent`` line whose previous interpreted line is not
    one, so a running sum of starts keys each line to its group — one
    window shuffle on the (tiny) per-host robots table, everything
    else codegen. Group numbering is computed over ALL of
    ``_GROUP_FIELDS`` and only then filtered to the caller's
    ``fields`` — so rule parsing and crawl-delay parsing see identical
    group boundaries regardless of which lines they interpret."""
    line = F.col("line")
    clean = F.regexp_replace(line, "#.*$", "")
    field = F.lower(F.trim(F.regexp_extract(clean, "^([^:]+):", 1)))
    value = F.trim(F.regexp_extract(clean, "^[^:]*:(.*)$", 1))
    lines = (
        pages.select(
            F.col(host_col).alias("host"),
            F.posexplode(F.split(F.col(body_col), "\r?\n")).alias("pos", "line"),
        )
        .select("host", "pos", field.alias("field"), value.alias("value"))
        .filter(F.col("field").isin(*_GROUP_FIELDS))
    )
    w = Window.partitionBy("host").orderBy("pos")
    prev = F.lag("field").over(w)
    start = (F.col("field") == "user-agent") & (
        prev.isNull() | (prev != "user-agent")
    )
    return (
        lines.withColumn("grp", F.sum(start.cast("int")).over(w))
        .filter(F.col("field").isin(*fields))
        .select("host", "grp", "field", "value")
    )


def _select_agent_groups(grouped: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(agents, non-UA lines) halves of the grouped line table."""
    agents = grouped.filter(F.col("field") == "user-agent").select(
        "host", "grp", F.lower(F.col("value")).alias("agent")
    )
    return agents, grouped.filter(F.col("field") != "user-agent")


def parse_robots_rules(
    pages: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """robots.txt bodies → rule rows ``(host, agent, rule, pattern)``
    (module doc for the grammar scope; ``_grouped_lines`` for the
    group assembly).

    A group that declares an agent but carries NO rules still emits
    one row with null ``rule``/``pattern``: group PRESENCE is what
    drives agent selection downstream — an empty exact-agent group
    shadows ``*`` and allows everything, so dropping it would hand the
    agent the ``*`` group's rules."""
    agents, rest = _select_agent_groups(
        _grouped_lines(pages, host_col, body_col, _FIELDS)
    )
    rules = rest.filter(F.col("value") != "").select(
        "host", "grp", F.col("field").alias("rule"), F.col("value").alias("pattern")
    )
    # rules with grp 0 have no preceding user-agent line → joining
    # from the agents side drops them, per the documented scope; the
    # LEFT join keeps rule-less groups as null-rule rows
    return agents.join(rules, ["host", "grp"], "left").select(
        "host", "agent", "rule", "pattern"
    ).distinct()


def robots_crawl_delays(
    pages: DataFrame,
    agent: str = "*",
    host_col: str = "host",
    body_col: str = "body",
) -> DataFrame:
    """Per-host politeness interval for ``agent``: ``(host,
    crawl_delay)`` from ``Crawl-delay`` lines (the universal
    non-standard extension every major engine honors). Same group
    assembly and exact-agent-shadows-``*`` selection as the rule
    parse; non-numeric values drop; multiple applicable values take
    the MAX (the conservative politeness choice); hosts with no
    applicable delay are absent. Feeds a crawl scheduler's per-host
    token bucket — at 100 TB the fetch frontier is rate-shaped by
    exactly this table."""
    agent = agent.lower()
    agents, rest = _select_agent_groups(
        _grouped_lines(
            pages, host_col, body_col, ("user-agent", "crawl-delay")
        )
    )
    delays = rest.select(
        "host", "grp", F.col("value").try_cast("double").alias("delay")
    ).filter(F.col("delay").isNotNull())
    # LEFT join: agent groups without a delay still participate in
    # selection — an exact group that declares no Crawl-delay means NO
    # delay for that agent, not a fallback to the '*' group's delay
    cand = agents.join(delays, ["host", "grp"], "left").filter(
        F.col("agent").isin(agent, "*")
    )
    wh = Window.partitionBy("host")
    return (
        cand.withColumn(
            "has_exact", F.max((F.col("agent") == agent).cast("int")).over(wh)
        )
        .filter(
            (F.col("agent") == agent)
            | ((F.col("agent") == "*") & (F.col("has_exact") == 0))
        )
        .groupBy("host")
        .agg(F.max("delay").alias("crawl_delay"))
        .filter(F.col("crawl_delay").isNotNull())
    )


def fetch_schedule(
    frontier: DataFrame,
    delays: DataFrame,
    default_delay: float = 1.0,
    url_col: str = "url",
    host_col: str = "host",
    priority: DataFrame | None = None,
) -> DataFrame:
    """Materialize the politeness schedule: frontier URLs ×
    :func:`robots_crawl_delays` → deterministic per-host fetch waves —
    the DataFrame form of a crawl scheduler's per-host token bucket.
    Each host's URLs are ranked (``wave`` = 0, 1, 2, …) and
    ``fetch_at = wave × crawl_delay`` seconds from the host's crawl
    start (``default_delay`` where the host declares none): wave N may
    fetch no earlier than N delays in, which is exactly the token
    bucket's steady state. Downstream, ``fetch_at`` is the sort key a
    fetcher partition works through per host; absolute timestamps are
    the caller's ``F.lit(t0) + fetch_at`` away.

    Wave order within a host is bytewise by URL — unless ``priority``
    (a ``(url, priority)`` frame, e.g.
    ``functions.links.url_link_authority`` over the host-PageRank
    table) is given: then waves go ``priority`` DESC (nulls last — an
    unscored URL fetches after every scored one), URL bytewise on
    ties. Host wave SPACING is unchanged either way — authority
    decides what a host's next token is spent on, never how fast the
    tokens come (that is the host's own crawl-delay). Callers should
    pre-round float priorities (the registry query rounds to 6 dp) so
    summation-order ulps can't flip the order between engines. The
    joined ``priority`` column stays on the output.

    Plan shape: the frontier pays ONE hash shuffle on ``host`` (the
    ranking window); the per-host delay table joins on the same key —
    broadcast while small, AQE-planned once hosts grow — and the wave
    arithmetic rides the window's partitioning. The optional priority
    join keys on the URL (AQE-sized; both sides are frontier-scale)
    and lands BEFORE the window so it costs no extra frontier pass."""
    if "crawl_delay" not in delays.columns or "host" not in delays.columns:
        raise ValueError(
            "delays must be a (host, crawl_delay) table — the "
            "robots_crawl_delays output"
        )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.url import (
        url_host,
    )

    if host_col not in frontier.columns:
        frontier = frontier.withColumn(host_col, url_host(F.col(url_col)))
    order = [F.col(url_col)]
    if priority is not None:
        if "priority" not in priority.columns:
            raise ValueError(
                "priority must be a (url, priority) table — e.g. the "
                "functions.links.url_link_authority output"
            )
        if "priority" in frontier.columns:
            # the join below would produce an ambiguous column and the
            # window would silently rank on the wrong one
            raise ValueError(
                "frontier already carries a 'priority' column — drop or "
                "rename it before passing a separate priority table"
            )
        # per-url MAX defensively, the same duplicate-key discipline as
        # the delays table below: a priority table with duplicate url
        # rows must never multiply frontier rows through the join
        # (duplicate (url, wave) schedule entries = double fetches)
        p = (
            priority.select(
                F.col(priority.columns[0]).alias(url_col), "priority"
            )
            .groupBy(url_col)
            .agg(F.max("priority").alias("priority"))
        )
        frontier = frontier.join(p, url_col, "left")
        order = [F.col("priority").desc_nulls_last(), F.col(url_col)]
    w = Window.partitionBy(host_col).orderBy(*order)
    # per-host MAX defensively: robots_crawl_delays already emits one
    # row per host, but a duplicate-host delays table must slow the
    # schedule down (conservative politeness), never multiply frontier
    # rows through the join
    d = (
        delays.groupBy(F.col("host").alias(host_col))
        .agg(F.max(F.col("crawl_delay").cast("double")).alias("crawl_delay"))
    )
    return (
        frontier.withColumn("wave", (F.row_number().over(w) - 1).cast("long"))
        .join(d, host_col, "left")
        .withColumn(
            "fetch_at",
            F.col("wave") * F.coalesce(F.col("crawl_delay"), F.lit(float(default_delay))),
        )
        .drop("crawl_delay")
    )


def robots_sitemaps(
    pages: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """``Sitemap:`` records → ``(host, sitemap_url)``. Per RFC 9309
    §2.2.4 / sitemaps.org, ``Sitemap`` is a STANDALONE record — valid
    anywhere in the file, independent of user-agent groups (which is
    why :data:`_GROUP_FIELDS` deliberately excludes it: it neither
    opens nor closes a group). Field name case-insensitive; the value
    keeps its colons (``https://...``) because the field split cuts at
    the FIRST colon only; empty values drop; one row per distinct
    (host, url). Values pass through VERBATIM — sitemaps.org requires
    absolute URLs, so a (nonconforming) relative ``Sitemap:`` record
    simply won't join to a fetched-bodies table; out of contract. This
    is the crawl-SEED side of robots.txt — the permission side is
    :func:`parse_robots_rules`."""
    line = F.col("line")
    clean = F.regexp_replace(line, "#.*$", "")
    field = F.lower(F.trim(F.regexp_extract(clean, "^([^:]+):", 1)))
    value = F.trim(F.regexp_extract(clean, "^[^:]*:(.*)$", 1))
    return (
        pages.select(
            F.col(host_col).alias("host"),
            F.explode(F.split(F.col(body_col), "\r?\n")).alias("line"),
        )
        .select("host", field.alias("field"), value.alias("value"))
        .filter((F.col("field") == "sitemap") & (F.col("value") != ""))
        .select("host", F.col("value").alias("sitemap_url"))
        .distinct()
    )


def pattern_regex(pattern: Column | str) -> Column:
    """RFC 9309 path pattern → anchored Java/RE2-compatible regex
    (``*`` → ``.*``, trailing ``$`` → end anchor, everything else
    literal). Stays in the escape subset both Spark (java.util.regex)
    and DuckDB (RE2) parse identically, so oracles can mirror it."""
    p = F.col(pattern) if isinstance(pattern, str) else pattern
    anchored = p.endswith("$")
    core = F.when(anchored, F.substring(p, F.lit(1), F.length(p) - 1)).otherwise(p)
    esc = F.regexp_replace(core, r"([.+?()\[\]{}^|$\\])", "\\\\$1")
    rx = F.regexp_replace(esc, r"\*", ".*")
    return F.concat(F.lit("^"), rx, F.when(anchored, F.lit("$")).otherwise(F.lit("")))


def url_target(url: Column | str) -> Column:
    """The matching target per RFC 9309: ``path[?query]`` of an
    absolute URL, fragment dropped, empty path → ``/``."""
    u = F.col(url) if isinstance(url, str) else url
    # first-'#' cut (same op as the URL canonicalizer): a regex
    # '#.*$' would keep a fragment containing '\n'
    u = F.substring_index(u, "#", 1)
    rest = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    return F.when(rest == "", F.lit("/")).otherwise(
        F.when(rest.startswith("?"), F.concat(F.lit("/"), rest)).otherwise(rest)
    )


def _applicable_rules(rules: DataFrame, agent: str) -> DataFrame:
    """The rule rows that bind ``agent`` (already lowercased):
    exact-agent groups shadow ``*`` groups per host — by group
    PRESENCE (null-rule rows from rule-less groups count), so an
    empty exact group correctly allows everything rather than falling
    back to the ``*`` rules. Null patterns drop after selection."""
    wh = Window.partitionBy("host")
    cand = rules.filter(F.col("agent").isin(agent, "*"))
    return (
        cand.withColumn(
            "has_exact", F.max((F.col("agent") == agent).cast("int")).over(wh)
        )
        .filter(
            (F.col("agent") == agent)
            | ((F.col("agent") == "*") & (F.col("has_exact") == 0))
        )
        .filter(F.col("pattern").isNotNull())
    )


def robots_verdicts(
    urls: DataFrame,
    rules: DataFrame,
    agent: str,
    url_col: str = "url",
    host_col: str = "host",
    target_col: str = "target",
) -> DataFrame:
    """Per-URL crawl verdict: ``urls`` (+``host``/``target`` columns,
    derived here if absent from ``url_col``) × parsed ``rules`` →
    original columns + ``allowed`` (1/0), ``matched_rule``,
    ``matched_pattern`` (nulls when no rule applied).

    Plan shape: rules collapse to ONE array row per host (a shuffle on
    the tiny rules side only), broadcast-joined to the frontier; the
    winner is picked with higher-order array expressions, so the
    frontier side has NO shuffle and NO row explosion — the whole gate
    rides the scan. Winner = most pattern octets, ties to ``allow``,
    then bytewise pattern for determinism (RFC 9309 §2.2.2).
    """
    urls = _ensure_host_target(urls, url_col, host_col, target_col)
    by_host = _rules_by_host(_applicable_rules(rules, agent.lower()))
    return _expression_apply(urls, by_host, host_col, target_col)


def _ensure_host_target(
    urls: DataFrame, url_col: str, host_col: str, target_col: str
) -> DataFrame:
    """Scratch-column guard (the with_canonical_url discipline) +
    derive ``host``/``target`` from ``url_col`` when absent — shared
    by both verdict paths and the prepared :class:`RobotsGate`."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.url import (
        url_host,
    )

    # the verdict machinery joins _rs/_best/r_host onto the caller's
    # frame and a pre-existing column of those names would collide
    for t in ("_rs", "_best", "r_host"):
        if t in urls.columns:
            raise ValueError(
                f"robots_verdicts scratch column {t!r} already exists "
                "in the URL frame — rename it"
            )
    if host_col not in urls.columns:
        urls = urls.withColumn(host_col, url_host(F.col(url_col)))
    if target_col not in urls.columns:
        urls = urls.withColumn(target_col, url_target(F.col(url_col)))
    return urls


def _rules_by_host(cand: DataFrame) -> DataFrame:
    """Applicable rules → one ``(r_host, _rs)`` array row per host
    (the expression path's broadcast side; the only shuffle, on the
    tiny rules table)."""
    return cand.groupBy(F.col("host").alias("r_host")).agg(
        F.collect_list(
            F.struct(
                F.col("rule").alias("rule"),
                F.col("pattern").alias("pattern"),
                pattern_regex("pattern").alias("rx"),
            )
        ).alias("_rs")
    )


def _expression_apply(
    urls: DataFrame, by_host: DataFrame, host_col: str, target_col: str
) -> DataFrame:
    """The expression path's match+winner stage over a prepared
    ``by_host`` frame (``urls`` must already carry host/target)."""
    joined = urls.join(
        F.broadcast(by_host), urls[host_col] == by_host["r_host"], "left"
    ).drop("r_host")
    target = F.col(target_col)
    hits = F.filter(F.col("_rs"), lambda r: F.rlike(target, r["rx"]))

    def better(r, acc):
        # RFC 9309 §2.2.2 says most OCTETS — octet_length, not the
        # character count (they differ on non-ASCII patterns); the
        # DuckDB oracles mirror with strlen() (bytes in DuckDB)
        lr, la = F.octet_length(r["pattern"]), F.octet_length(acc["pattern"])
        return (
            (lr > la)
            | ((lr == la) & (r["rule"] < acc["rule"]))
            | ((lr == la) & (r["rule"] == acc["rule"]) & (r["pattern"] < acc["pattern"]))
        )

    best = F.aggregate(
        hits,
        F.lit(None).cast("struct<rule:string,pattern:string>"),
        lambda acc, r: F.when(
            acc.isNull() | better(r, acc),
            F.struct(r["rule"].alias("rule"), r["pattern"].alias("pattern")),
        ).otherwise(acc),
    )
    out = (
        joined.withColumn("_best", best)
        .withColumn(
            "allowed",
            F.when(
                F.col("_best").isNull() | (F.col("_best")["rule"] == "allow"),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("matched_rule", F.col("_best")["rule"])
        .withColumn("matched_pattern", F.col("_best")["pattern"])
    )
    keep = [c for c in urls.columns] + ["allowed", "matched_rule", "matched_pattern"]
    return out.select(*keep)


def _pattern_pyregex(pattern: str) -> str:
    """Python twin of :func:`pattern_regex` — same anchored regex,
    built with ``re.escape`` (escapes a superset of the Spark form's
    character class; the extras are literals either way, so the two
    accept identical strings)."""
    import re as _re

    anchored = pattern.endswith("$")
    core = pattern[:-1] if anchored else pattern
    return "^" + _re.escape(core).replace(r"\*", ".*") + ("$" if anchored else "")


def robots_verdicts_kernel(
    urls: DataFrame,
    rules: DataFrame,
    agent: str,
    url_col: str = "url",
    host_col: str = "host",
    target_col: str = "target",
) -> DataFrame:
    """:func:`robots_verdicts` with the matching moved into an
    Arrow-batched Pandas kernel — the COMPILED-PATTERN path for
    hosts with large rule sets.

    Why it exists: the expression path's per-element ``rlike`` has a
    pattern that CHANGES on every array element, so Spark's single-
    entry regex cache never hits and every (url × rule) evaluation
    re-compiles. At the web's typical 2–5 rules/host that recompile
    is cheap enough to lose to the kernel's Arrow transfer; at
    Wikipedia-class robots.txt (hundreds of rules) it dominates. This
    path compiles each host's patterns ONCE per executor (module-level
    cache keyed by a rules fingerprint), pre-sorts them in precedence
    order (most octets, allow on ties, bytewise pattern), and
    evaluates each pattern VECTORIZED over the batch's rows for that
    host — per (host-group × pattern) work, not per (row × pattern)
    interpreter dispatch. First match in precedence order wins, so the
    verdict is bit-identical to the expression path.

    Same contract and output schema as :func:`robots_verdicts`; pick
    between them with the measured crossover in SCALE.md (the
    expression path wins below ~40 rules/host)."""
    urls = _ensure_host_target(urls, url_col, host_col, target_col)
    sel = _applicable_rules(rules, agent.lower()).select("host", "rule", "pattern")
    bc = urls.sparkSession.sparkContext.broadcast(_host_rules_map(sel.collect()))
    return _kernel_apply(urls, bc, host_col, target_col)


def _host_rules_map(rows) -> dict[str, list[tuple[str, str]]]:
    """Collected ``(host, rule, pattern)`` rows collapsed driver-side
    exactly like the expression path's broadcast: precedence-sorted
    per host (most octets, allow on ties, bytewise pattern) so FIRST
    match wins."""
    host_rules: dict[str, list[tuple[str, str]]] = {}
    for r in rows:
        host_rules.setdefault(r["host"], []).append((r["rule"], r["pattern"]))
    for h in host_rules:
        host_rules[h] = sorted(
            set(host_rules[h]),
            key=lambda rp: (-len(rp[1].encode("utf-8")), rp[0], rp[1]),
        )
    return host_rules


def _kernel_apply(
    urls: DataFrame, bc, host_col: str, target_col: str
) -> DataFrame:
    """The compiled-pattern match stage over an already-broadcast
    host→rules map (``urls`` must already carry host/target)."""
    from pyspark.sql import types as T

    in_cols = list(urls.columns)
    out_struct = T.StructType(
        list(urls.schema.fields)
        + [
            T.StructField("allowed", T.IntegerType()),
            T.StructField("matched_rule", T.StringType()),
            T.StructField("matched_pattern", T.StringType()),
        ]
    )

    def kernel(batches):
        import re as _re

        import numpy as np
        import pandas as pd

        compiled: dict[str, list] = {}

        def rxs(host):
            got = compiled.get(host)
            if got is None:
                got = [
                    (_re.compile(_pattern_pyregex(p)), rule, p)
                    for rule, p in bc.value.get(host, ())
                ]
                compiled[host] = got
            return got

        for pdf in batches:
            pdf = pdf.reset_index(drop=True)  # labels == positions below
            n = len(pdf)
            allowed = np.ones(n, dtype="int32")
            mrule = np.full(n, None, dtype=object)
            mpat = np.full(n, None, dtype=object)
            for host, idx in pdf.groupby(host_col, sort=False).groups.items():
                plan = rxs(host)
                if not plan:
                    continue
                pos = np.asarray(idx)
                targets = pdf[target_col].to_numpy()[pos]
                # null targets (null/invalid URLs) never match a rule —
                # allowed=1 with null matched_*, same as the expression
                # path's null-propagating rlike
                undecided = np.fromiter(
                    (t is not None for t in targets),
                    dtype=bool,
                    count=len(pos),
                )
                for rx, rule, pat in plan:
                    if not undecided.any():
                        break
                    sub = np.nonzero(undecided)[0]
                    hit = np.fromiter(
                        (rx.match(targets[i]) is not None for i in sub),
                        dtype=bool,
                        count=len(sub),
                    )
                    won = sub[hit]
                    if len(won):
                        rows = pos[won]
                        allowed[rows] = 1 if rule == "allow" else 0
                        mrule[rows] = rule
                        mpat[rows] = pat
                        undecided[won] = False
            out = pdf[in_cols].copy()
            out["allowed"] = allowed
            out["matched_rule"] = pd.Series(mrule, index=pdf.index)
            out["matched_pattern"] = pd.Series(mpat, index=pdf.index)
            yield out

    return urls.mapInPandas(kernel, schema=out_struct)


#: rules-per-host density at which the compiled-pattern kernel takes
#: over from the expression path (SCALE.md round 13): expression
#: edges ahead at the web's typical 2–5 rules/host (kernel 1.05x
#: there), the kernel wins from ~10 up (0.65–0.73x); the gate sits
#: at 8 because the mis-pick penalties are asymmetric (module:
#: robots_verdicts_auto)
KERNEL_RULES_PER_HOST = 8


def robots_verdicts_auto(
    urls: DataFrame,
    rules: DataFrame,
    agent: str,
    url_col: str = "url",
    host_col: str = "host",
    target_col: str = "target",
    kernel_threshold: int = KERNEL_RULES_PER_HOST,
) -> DataFrame:
    """Size-aware verdict dispatch: probe the rule table's densest
    host (one tiny agg over the per-host rules — the table is already
    the broadcast-small side) and pick the expression path below
    ``kernel_threshold`` rules/host, the compiled-pattern Arrow kernel
    at or above it. MAX density decides, not the mean: a single
    Wikipedia-class host only slows its own frontier rows under the
    expression path, but mis-picking expression there costs up to ~8×
    on those rows while mis-picking kernel on a sparse table costs
    ~5% everywhere (measured, SCALE.md round 13) — the asymmetric
    penalty makes the conservative probe the right one."""
    # probe the rules the matcher will actually iterate — after agent
    # selection (a host's table may carry many groups for OTHER agents
    # that never reach the match loop)
    dens = (
        _applicable_rules(rules, agent.lower())
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c"))
        .first()[0]
        or 0
    )
    fn = robots_verdicts_kernel if dens >= kernel_threshold else robots_verdicts
    return fn(
        urls, rules, agent, url_col=url_col, host_col=host_col, target_col=target_col
    )


class RobotsGate:
    """Prepared verdict applier for callers that apply ONE static
    rules table many times — a stream's ``foreachBatch`` being the
    canonical case (r13 advice: ``robots_verdicts_auto`` re-ran the
    density probe per micro-batch, and the kernel path re-collected
    and re-broadcast the full applicable-rules table each time, for a
    table that never changes across the stream's lifetime).

    Construction does the per-rules-table work ONCE: one driver-side
    collect of the agent-applicable rules (they are the broadcast-small
    side by contract) yields both the density probe and — when the
    densest host is at/above ``kernel_threshold`` — the precedence-
    sorted host→rules map, broadcast once and reused by every apply.
    On the expression path the tiny per-host rule arrays are
    ``localCheckpoint``-pinned so each apply broadcast-joins the
    materialized rows instead of re-running the rules aggregation.

    Dispatch semantics are identical to :func:`robots_verdicts_auto`
    (same threshold, same MAX-density rule — parity pinned in
    ``tests/test_robots.py``); per-URL verdicts are bit-identical to
    both one-shot paths by construction (shared apply stages)."""

    def __init__(
        self,
        rules: DataFrame,
        agent: str,
        kernel_threshold: int = KERNEL_RULES_PER_HOST,
    ) -> None:
        self.agent = agent.lower()
        sel = _applicable_rules(rules, self.agent).select(
            "host", "rule", "pattern"
        )
        rows = sel.collect()
        # density counts RAW applicable rows per host, matching
        # robots_verdicts_auto's probe (dedup happens in the map build)
        counts: dict[str, int] = {}
        for r in rows:
            counts[r["host"]] = counts.get(r["host"], 0) + 1
        self.max_rules_per_host = max(counts.values(), default=0)
        self.use_kernel = self.max_rules_per_host >= kernel_threshold
        if self.use_kernel:
            self._bc = rules.sparkSession.sparkContext.broadcast(
                _host_rules_map(rows)
            )
        else:
            self._by_host = _rules_by_host(
                _applicable_rules(rules, self.agent)
            ).localCheckpoint(eager=True)

    def __call__(
        self,
        urls: DataFrame,
        url_col: str = "url",
        host_col: str = "host",
        target_col: str = "target",
    ) -> DataFrame:
        urls = _ensure_host_target(urls, url_col, host_col, target_col)
        if self.use_kernel:
            return _kernel_apply(urls, self._bc, host_col, target_col)
        return _expression_apply(urls, self._by_host, host_col, target_col)
