"""robots.txt parsing and longest-match URL filtering — the crawl-
politeness gate that sits beside the robots-META signal the kernel
already surfaces (kernel.robots_directives).

Reference analog: P7's file-admission guard (releve_bancaire.py:35-42
extension check) generalized to the web-crawl admission rule.

Both stages are PURE native expressions — the per-host group state
machine ("which User-agent group does this line belong to") is a lag +
running-sum window over line positions, not a Python parser — so the
whole chain codegens and has an exact DuckDB oracle twin.

Semantics (Google robots.txt spec subset, documented deviations):
- CRLF and LF files parse identically (\\r is stripped before the line
  split — a trailing \\r would otherwise corrupt every value);
- groups start at a User-agent line whose PREVIOUS non-blank,
  non-comment LINE is not itself a User-agent line (adjacent UA lines
  share a group; comment-only lines are ignored entirely, so UA lines
  separated by comments still share a group; other directives —
  Crawl-delay, Sitemap — DO break UA adjacency, which is why the group
  window runs over ALL parsed lines, not just ua/allow/disallow rows);
- a group applies per the REP precedence rule: the group(s) whose UA
  value is the LONGEST case-insensitive prefix of the configured agent
  product token (trailing ``*`` ignored, length ties combine), with the
  ``*`` group as fallback; ``agent=None`` selects only the ``*`` group;
- Allow/Disallow values are path patterns: plain values match as
  PREFIXES; ``*`` matches any character run and a TRAILING ``$``
  anchors the end (the Google spec wildcards) — compiled to per-rule
  Java/RE2 regexes relationally (regex metachars escaped natively, no
  Python), matched with a column-pattern ``regexp_like`` only for rules
  that carry a wildcard (plain rules keep the cheap startswith path);
- the longest matching rule's VALUE wins (spec's most-specific rule),
  Allow winning length ties; no matching rule means allowed;
- rules with more than 10 wildcards FAIL CLOSED: Disallow degrades to
  the plain prefix before its first '*', Allow is dropped (ReDoS cap —
  see robots_rules);
- empty-value rules ("Disallow:" = allow everything) are dropped;
- hosts are matched case-insensitively with userinfo stripped (the
  shared functions.url.url_host extractor — one definition, no drift);
- rule and page paths are percent-normalized before matching: escapes
  of unreserved ASCII decode, other escapes uppercase their hex, and
  %2F stays encoded (see pct_norm for why decoding stops there).

Scale shape: rule extraction is one window pass + one aggregation over
robots.txt LINES (tiny — robots files are KB); page filtering joins
pages to their host's rules and reduces with one max-of-struct
aggregation per page — no window over pages, no UDFs. The rules join
side is left to Catalyst/AQE to broadcast (at web scale the rules table
is millions-of-hosts × tens of rules — forcing a broadcast hint there
would OOM the driver; pass ``broadcast_rules=True`` only when the
robots table is known-small).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812

from ..functions.url import url_host


def pct_norm(col: F.Column) -> F.Column:
    """RFC 3986-style percent normalization for robots path matching:
    %XX escapes of UNRESERVED ASCII (ALPHA / DIGIT / - . _ ~) decode to
    the character, every other valid escape uppercases its hex digits
    (%2f == %2F), invalid escapes stay literal. Decoding is restricted to
    the unreserved set on purpose — decoding %2F would collapse path
    structure and decoding %2A/%24 would conjure wildcard/anchor
    metacharacters into rule patterns. Pure HOF over a '%' split (no
    UDF); the DuckDB twin re-implements the identical chain."""
    def hex2(p: F.Column) -> F.Column:
        return F.substring(p, 1, 2)

    def dec(p: F.Column, i: F.Column) -> F.Column:
        valid = hex2(p).rlike("^[0-9A-Fa-f]{2}$")
        c = F.conv(hex2(p), 16, 10).cast("int")
        decodable = (
            c.between(48, 57) | c.between(65, 90) | c.between(97, 122)
            | c.isin(45, 46, 95, 126)
        )
        rest = F.substring(p, 3, 2147483647)
        return (
            F.when(i == 0, p)
            .when(valid & decodable, F.concat(F.char(c), rest))
            .when(valid, F.concat(F.lit("%"), F.upper(hex2(p)), rest))
            .otherwise(F.concat(F.lit("%"), p))
        )

    return F.array_join(F.transform(F.split(col, "%"), dec), "")


def _applicable_groups(robots: DataFrame, host_col: str, txt_col: str,
                       agent: str | None = None):
    """Shared parse front-end: (grouped lines, applicable-group keys).
    Every non-blank line enters the group window (a Crawl-delay between
    two User-agent lines must break their adjacency); directives a
    consumer doesn't implement just never become its rows.

    Group selection follows the REP precedence rule: with ``agent`` set
    (a lowercase product token, e.g. ``"cezambot-news"``), the group(s)
    whose User-agent value is the LONGEST case-insensitive prefix of the
    token apply (trailing ``*`` on the value is ignored, groups tying on
    length combine per RFC 9309); the ``*`` group applies only when no
    specific value matches. With ``agent=None`` only the ``*`` group
    applies (the anonymous-crawler view)."""
    lines = robots.select(
        F.lower(F.col(host_col)).alias("host"),
        F.posexplode(
            F.split(F.regexp_replace(F.col(txt_col), "\r", ""), "\n")
        ).alias("pos", "raw"),
    ).select(
        "host", "pos",
        # strip comments, then whitespace
        F.trim(F.regexp_replace("raw", "#.*", "")).alias("line"),
    ).filter(F.col("line") != "")
    parsed = lines.select(
        "host", "pos",
        F.lower(F.trim(F.substring_index("line", ":", 1))).alias("directive"),
        F.trim(F.expr("substring(line, instr(line, ':') + 1)")).alias("value"),
    )
    w = Window.partitionBy("host").orderBy("pos")
    is_ua = (F.col("directive") == "user-agent").cast("int")
    prev_ua = F.coalesce(F.lag(is_ua).over(w), F.lit(0))
    grouped = parsed.withColumn(
        "grp",
        F.sum(F.when((is_ua == 1) & (prev_ua == 0), 1).otherwise(0)).over(w),
    )
    ua = grouped.filter(F.col("directive") == "user-agent")
    star = (
        ua.groupBy("host", "grp")
        .agg(F.max((F.col("value") == "*").cast("int")).alias("has_star"))
        .filter(F.col("has_star") == 1)
        .select("host", "grp")
    )
    if agent is None:
        return grouped, star
    # longest-agent-match wins: value (lowercased, trailing '*' stripped)
    # must be a prefix of the configured product token. All aggregations
    # key on host — bounded by hosts x UA-lines, tiny beside the corpus.
    tok = agent.lower()
    v_clean = F.regexp_replace(F.lower(F.col("value")), r"\*+$", "")
    matched = (
        ua.select("host", "grp", v_clean.alias("v"))
        .filter((F.col("v") != "") & F.lit(tok).startswith(F.col("v")))
    )
    best = matched.groupBy("host").agg(F.max(F.length("v")).alias("blen"))
    specific = (
        matched.join(best, "host")
        .filter(F.length("v") == F.col("blen"))
        .select("host", "grp")
        .distinct()
    )
    star_fallback = star.join(
        specific.select("host").distinct(), "host", "left_anti"
    )
    return grouped, specific.unionByName(star_fallback)


def robots_rules(robots: DataFrame, host_col: str = "host",
                 txt_col: str = "robots_txt",
                 agent: str | None = None) -> DataFrame:
    """(host, path, pattern, has_wild, allow) rules applying to the
    configured agent token (longest-agent-match groups; ``None`` = the
    ``*`` group only); host is lowercased, paths percent-normalized
    (pct_norm) before compilation so %2E-style escapes match their
    literal spelling."""
    grouped, star = _applicable_groups(robots, host_col, txt_col, agent)
    raw = F.col("value")
    # ReDoS guard: each '*' becomes '.*' in a JAVA regex (backtracking,
    # unlike the oracle's linear RE2), so an adversarial rule with dozens
    # of stars could go exponential against a long page path on the
    # executors. Beyond 10 wildcards (far beyond any legitimate robots
    # pattern) the gate FAILS CLOSED: an over-cap Disallow degrades to a
    # plain PREFIX rule on the text before its first '*' (never
    # crawl-admitting pages the site tried to block — an empty prefix
    # disallows the whole host), while an over-cap Allow is dropped
    # (dropping an Allow only ever narrows admission). The cap and both
    # degradations are mirrored in the DuckDB twin.
    n_stars = F.length(raw) - F.length(F.replace(raw, F.lit("*"), F.lit("")))
    over = n_stars > 10
    # percent-normalize AFTER over-cap truncation (decode cannot create a
    # '*' or '$', so wildcard/anchor detection is escape-stable)
    path = pct_norm(F.when(over, F.substring_index(raw, "*", 1))
                    .otherwise(raw))
    # compile the robots pattern to a regex, natively: a trailing '$'
    # anchors (detected on the RAW value so every other '$' is literal),
    # regex metachars escape, '*' becomes '.*'. Degraded over-cap rules
    # are plain prefixes (has_wild=0) — their pattern column is unused.
    anchored = (~over) & path.endswith("$")
    core = F.when(
        anchored, F.substring(path, 1, F.length(path) - 1)
    ).otherwise(path)
    esc = F.regexp_replace(core, r"([.+?(){}\[\]|^$\\])", r"\\$1")
    body = F.regexp_replace(esc, r"\*", ".*")
    pattern = F.concat(
        F.lit("^"), body,
        F.when(anchored, F.lit("$")).otherwise(F.lit("")),
    )
    return (
        grouped.filter(F.col("directive").isin("allow", "disallow"))
        .join(star, ["host", "grp"])
        .filter(F.col("value") != "")
        .filter(~over | (F.col("directive") == "disallow"))
        .select(
            "host",
            path.alias("path"),
            pattern.alias("pattern"),
            ((~over) & (path.contains("*") | anchored)).cast("int")
            .alias("has_wild"),
            (F.col("directive") == "allow").cast("int").alias("allow"),
        )
    )


def crawl_delays(robots: DataFrame, host_col: str = "host",
                 txt_col: str = "robots_txt",
                 default_delay: float = 0.0,
                 agent: str | None = None) -> DataFrame:
    """(host, delay_sec): the Crawl-delay applying to the configured
    agent (``None`` = the ``*`` group) per host — the politeness rate a
    frontier scheduler divides each host's fetch budget by. Reuses the
    SAME group state machine as robots_rules (one definition of "which
    group applies to us"); when the applicable group declares several
    delays the LARGEST wins (most conservative), hosts with none report
    ``default_delay``. Non-numeric values are ignored (try_cast, not a
    parse error)."""
    parsed, star = _applicable_groups(robots, host_col, txt_col, agent)
    declared = (
        parsed.filter(F.col("directive") == "crawl-delay")
        .join(star, ["host", "grp"])
        .select("host", F.expr("try_cast(value AS DOUBLE)").alias("d"))
        .filter(F.col("d").isNotNull() & (F.col("d") >= 0))
        .groupBy("host")
        .agg(F.max("d").alias("delay_sec"))
    )
    hosts = robots.select(F.lower(F.col(host_col)).alias("host")).distinct()
    return hosts.join(declared, "host", "left").select(
        "host",
        F.coalesce("delay_sec", F.lit(float(default_delay))).alias("delay_sec"),
    )


def sitemap_urls(sitemaps: DataFrame, host_col: str = "host",
                 xml_col: str = "sitemap_xml") -> DataFrame:
    """(host, pos, loc): the <loc> targets of each host's sitemap.xml in
    document order — the OTHER frontier feed beside extracted anchors
    (extract_links) and recrawl state (latest_crawl_dedup). Handles
    urlset and sitemapindex files alike (both wrap targets in <loc>),
    trims whitespace inside the element, and decodes the five XML
    entities (sitemap locs are XML-escaped by spec). Pure
    regexp_extract_all + explode — no XML parser in the hot path, no
    UDF, exact DuckDB twin."""
    locs = F.expr(
        rf"regexp_extract_all({xml_col}, '<loc>\\s*(.*?)\\s*</loc>', 1)"
    )
    raw = F.col("loc_raw")
    decoded = raw
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&apos;", "'"), ("&amp;", "&")):  # amp LAST by spec
        decoded = F.replace(decoded, F.lit(ent), F.lit(ch))
    return (
        sitemaps.select(
            F.lower(F.col(host_col)).alias("host"),
            F.posexplode(locs).alias("pos", "loc_raw"),
        )
        .select("host", "pos", decoded.alias("loc"))
    )


def _url_path(url_col) -> F.Column:
    p = F.regexp_extract(url_col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^#]*)?", 1)
    return F.when(p == "", "/").otherwise(p)


def robots_filter(pages: DataFrame, robots: DataFrame,
                  url_col: str = "url", host_col: str = "host",
                  txt_col: str = "robots_txt",
                  broadcast_rules: bool = False,
                  agent: str | None = None) -> DataFrame:
    """(url, allowed) for every page: longest-prefix-match against the
    page host's applicable rules (the configured agent's longest-match
    group, ``None`` = the ``*`` group), Allow winning ties, allowed by
    default. Page paths and rule paths are both percent-normalized
    (pct_norm) so escaped and literal spellings of the same unreserved
    character match.

    One equi-join on the lowercased host plus a max-of-struct
    aggregation per url — matched rules reduce to (longest, most
    permissive) without any window over the page table. The join
    strategy is Catalyst's choice unless ``broadcast_rules=True``
    (see module docstring for why forcing it is wrong at web scale)."""
    rules = robots_rules(robots, host_col, txt_col, agent=agent).select(
        "host", F.col("path").alias("rpath"), "pattern", "has_wild", "allow"
    )
    if broadcast_rules:
        rules = F.broadcast(rules)
    base = pages.select(
        F.col(url_col).alias("url"),
        url_host(F.col(url_col)).alias("host"),
        pct_norm(_url_path(F.col(url_col))).alias("page_path"),
    )
    # wildcard rules match by their compiled regex; plain rules keep the
    # cheap startswith. Unmatched join rows carry NULL rule columns, so
    # both predicates yield NULL — no match struct.
    hit = F.when(
        F.col("has_wild") == 1,
        F.expr("regexp_like(page_path, pattern)"),
    ).otherwise(F.col("page_path").startswith(F.col("rpath")))
    scored = (
        base.join(rules, "host", "left")
        .select(
            "url",
            F.when(
                hit,
                F.struct(F.length("rpath").alias("l"),
                         F.col("allow").alias("a")),
            ).alias("m"),
        )
    )
    return (
        scored.groupBy("url")
        .agg(F.max("m").alias("best"))
        .select(
            "url",
            F.coalesce(F.col("best.a"), F.lit(1)).cast("int").alias("allowed"),
        )
    )


def sitemap_tree_urls(fetched: DataFrame, host_col: str = "host",
                      url_col: str = "url",
                      xml_col: str = "sitemap_xml") -> DataFrame:
    """Two-level sitemap resolution — sitemaps.org's sitemapindex
    protocol, which every large site uses (a urlset caps at 50k urls,
    so real frontier feeds are an INDEX of child sitemaps): given the
    table of fetched sitemap FILES (index and child files alike, one
    row per fetched url), resolve index -> child references and emit
    every page <loc> with its provenance.

    Output rows, ordered by (host, via_index, sitemap, pos):
      - resolved page url:   (host, via_index, sitemap, pos, loc) —
        via_index = the index file that referenced this child sitemap,
        NULL for standalone urlset files;
      - MISSING child:       (host, via_index, sitemap=child url,
        pos NULL, loc NULL) — an index references a sitemap that was
        never fetched; fail-VISIBLE like resolve_redirects' cycles,
        never silently dropped (the fetch gap is the actionable
        signal).

    Files are classified by the '<sitemapindex' marker; a child file
    referenced by an index contributes its locs under that index, a
    urlset referenced by nobody contributes standalone. Loc extraction
    and XML entity decoding are the exact `sitemap_urls` expressions
    (same regex, same amp-LAST decode chain).

    Scale shape: loc extraction is regexp_extract_all at scan speed;
    ONE equi-join resolves index locs against fetched file urls and a
    left-anti join classifies standalone files — both keyed on the
    sitemap url (bounded by file count, never page-url count). No UDF,
    no window (document order rides posexplode's pos).
    """
    locs = F.expr(
        rf"regexp_extract_all({xml_col}, '<loc>\\s*(.*?)\\s*</loc>', 1)"
    )
    raw = F.col("loc_raw")
    decoded = raw
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&apos;", "'"), ("&amp;", "&")):  # amp LAST by spec
        decoded = F.replace(decoded, F.lit(ent), F.lit(ch))
    ents = fetched.select(
        F.lower(F.col(host_col)).alias("host"),
        F.col(url_col).alias("sm_url"),
        F.col(xml_col).contains("<sitemapindex").alias("is_index"),
        F.posexplode(locs).alias("pos", "loc_raw"),
    ).select("host", "sm_url", "is_index", "pos", decoded.alias("loc"))
    idx_refs = ents.filter(F.col("is_index")).select(
        "host", F.col("sm_url").alias("via_index"),
        F.col("loc").alias("child"),
    )
    child_locs = ents.filter(~F.col("is_index")).select(
        F.col("sm_url").alias("child"), "pos", "loc"
    )
    via = idx_refs.join(child_locs, "child", "left").select(
        "host", "via_index", F.col("child").alias("sitemap"),
        F.col("pos").cast("long").alias("pos"), "loc",
    )
    referenced = idx_refs.select(F.col("child").alias("sm_url")).distinct()
    standalone = (
        ents.filter(~F.col("is_index"))
        .join(referenced, "sm_url", "left_anti")
        .select(
            "host", F.lit(None).cast("string").alias("via_index"),
            F.col("sm_url").alias("sitemap"),
            F.col("pos").cast("long").alias("pos"), "loc",
        )
    )
    return via.unionByName(standalone).orderBy(
        "host", "via_index", "sitemap", "pos"
    )
