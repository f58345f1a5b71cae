"""URL / domain operators for a web-crawl corpus.

A webtext training pipeline spends its first joins on URLs: canonicalize
(so near-identical fetch URLs collapse), group by registered domain (per-site
quotas, per-site quality priors), and drop blocklisted sites.  The reference
pipeline receives pre-resolved document URLs (its EDGAR fetch layer,
``edgar_client.py``), so these operators are the web-scale generalization of
that ingest surface rather than a port of a specific reference function.

All transforms are pure JVM column expressions (regexp + higher-order array
functions, whole-stage codegen, zero Python).  The parse regex and every
canonicalization rule live in the RE2/Java-regex common subset so the DuckDB
oracle can reproduce results byte-for-byte.

Scale notes:
- canonicalization is a narrow map — no shuffle at any scale.
- registered-domain extraction joins exploded host-suffix candidates
  (<= ``MAX_SUFFIX_LABELS`` per host) against a *broadcast* suffix dimension
  — the real public-suffix list is ~9k rows, far under any broadcast
  threshold; never a row-wise ``array_contains`` over the full PSL.
- domain rollup is one partial-aggregatable groupBy on the registered
  domain; per-site skew (one giant domain) is the classic salting case and
  the count/sum aggregates here are all algebraic, so AQE skew handling
  suffices.
- blocklist drop is a broadcast LEFT ANTI join — key-only build side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# one match, six groups: scheme, host, :port, path, ?query, #fragment
URL_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]*)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$"

# tracking query params dropped by canonicalize(): utm_* plus these keys
TRACKING_KEYS = ("ref", "fbclid", "gclid", "msclkid")

# stand-in for the public-suffix list (the real one is a ~9k-row broadcast
# dim with identical join shape); longest-suffix-wins, max 3 labels deep
PUBLIC_SUFFIXES = (
    "com", "org", "net", "io", "gov", "edu", "uk", "co.uk", "org.uk",
    "ac.uk", "de", "fr", "jp", "co.jp", "example.com",
)
MAX_SUFFIX_LABELS = 3


def url_parts(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add raw parse columns (scheme, host, port_s, path, query_s, frag) —
    exactly the six URL_RE groups, untouched case, '' when absent."""
    u = F.col(url_col)
    return df.withColumns({
        "scheme": F.regexp_extract(u, URL_RE, 1),
        "host": F.regexp_extract(u, URL_RE, 2),
        "port_s": F.regexp_extract(u, URL_RE, 3),
        "path": F.regexp_extract(u, URL_RE, 4),
        "query_s": F.regexp_extract(u, URL_RE, 5),
        "frag": F.regexp_extract(u, URL_RE, 6),
    })


def _kept_params(query_s):
    """Sorted non-tracking 'k=v' params from a raw '?...' string."""
    raw = F.split(F.substring(query_s, 2, 1 << 30), "&")
    key = lambda p: F.substring_index(p, "=", 1)  # noqa: E731
    kept = F.filter(
        raw,
        lambda p: (p != "")
        & ~F.startswith(key(p), F.lit("utm_"))
        & ~key(p).isin(*TRACKING_KEYS),
    )
    return F.array_sort(kept)


def canonicalize(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add ``canonical_url`` (plus lowercased ``scheme``/``host`` and the
    raw parse columns): lowercase scheme+host, strip the scheme's default
    port, strip the fragment, drop tracking params (utm_* and
    TRACKING_KEYS), sort surviving params, collapse trailing slashes
    ('' and '/+'-tails -> '/' resp. stripped; bare authority -> '/')."""
    parsed = url_parts(df, url_col)
    scheme = F.lower(F.col("scheme"))
    host = F.lower(F.col("host"))
    port = F.when(
        ((scheme == "https") & (F.col("port_s") == ":443"))
        | ((scheme == "http") & (F.col("port_s") == ":80")),
        F.lit(""),
    ).otherwise(F.col("port_s"))
    stripped = F.regexp_replace(F.col("path"), "/+$", "")
    path = F.when(stripped == "", F.lit("/")).otherwise(stripped)
    kept = _kept_params(F.col("query_s"))
    query = F.when(F.size(kept) == 0, F.lit("")).otherwise(
        F.concat(F.lit("?"), F.array_join(kept, "&"))
    )
    return (
        parsed.withColumn("scheme", scheme)
        .withColumn("host", host)
        .withColumn(
            "canonical_url",
            F.concat(F.col("scheme"), F.lit("://"), F.col("host"), port, path, query),
        )
    )


def suffix_dim(spark, suffixes=PUBLIC_SUFFIXES) -> DataFrame:
    """The public-suffix broadcast dimension: (suffix, n_labels)."""
    rows = [(s, s.count(".") + 1) for s in suffixes]
    return spark.createDataFrame(rows, "suffix string, n_labels int")


def registered_domain(
    df: DataFrame, host_col: str = "host", suffixes: DataFrame | None = None
) -> DataFrame:
    """Add ``reg_domain`` = eTLD+1 under longest-matching-suffix rules.

    Resolved on the *distinct-host* dimension, not the document rows: dedup
    hosts (massive reduction — a 100 TB crawl has ~10^8 hosts vs ~10^11
    docs), explode each host's <= MAX_SUFFIX_LABELS trailing-label
    candidates, broadcast-join the suffix dim, keep the longest match, and
    prepend the label before it; then join the slim (host, reg_domain) map
    back onto the fat rows (AQE broadcasts it when small; sort-merge on the
    host key otherwise — never a shuffle of document text against the PSL).
    Hosts with no matching suffix (or a single label) fall back to treating
    the last label as the suffix.
    """
    if suffixes is None:
        suffixes = suffix_dim(df.sparkSession)
    hosts = df.select(F.lower(F.col(host_col)).alias("_host_l")).distinct()
    labels = F.split(F.col("_host_l"), r"\.")
    n = F.size(labels)
    cand = F.transform(
        F.sequence(F.lit(1), F.greatest(F.least(n - 1, F.lit(MAX_SUFFIX_LABELS)), F.lit(1))),
        lambda i: F.struct(
            i.alias("i"), F.array_join(F.slice(labels, n - i + 1, i), ".").alias("s")
        ),
    )
    matched = (
        hosts.withColumn("_cand", F.explode(cand))
        .join(F.broadcast(suffixes), on=F.col("_cand.s") == F.col("suffix"), how="left")
        .groupBy("_host_l")
        .agg(F.max(F.when(F.col("suffix").isNotNull(), F.col("_cand.i"))).alias("_best"))
    )
    lab2 = F.split(F.col("_host_l"), r"\.")
    n2 = F.size(lab2)
    best = F.coalesce(F.col("_best"), F.lit(1))
    reg = F.when(
        n2 > best, F.array_join(F.slice(lab2, n2 - best, best + 1), ".")
    ).otherwise(F.col("_host_l"))  # single-label host: the host itself
    host_map = matched.select("_host_l", reg.alias("reg_domain"))
    return df.join(
        host_map, on=F.lower(F.col(host_col)) == F.col("_host_l"), how="left"
    ).drop("_host_l")


def domain_rollup(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-registered-domain corpus stats: (reg_domain, n_docs, n_hosts,
    total_chars, n_langs).  One shuffle; all aggregates algebraic."""
    canon = registered_domain(canonicalize(df, url_col))
    return (
        canon.groupBy("reg_domain")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
        .orderBy("reg_domain")
    )


def blocklist_filter(
    df: DataFrame, blocked: list[str], url_col: str = "url"
) -> DataFrame:
    """Drop documents whose registered domain is blocklisted — broadcast
    LEFT ANTI join (key-only build side, no row payload shipped)."""
    spark = df.sparkSession
    dim = spark.createDataFrame([(b,) for b in blocked], "blocked_domain string")
    canon = registered_domain(canonicalize(df, url_col))
    return canon.join(
        F.broadcast(dim),
        on=F.col("reg_domain") == F.col("blocked_domain"),
        how="left_anti",
    )


# ---------------------------------------------------------------------------
# Deterministic URL synthesis: the documents table carries no URL column, so
# driver queries attach one derived purely from (doc_id, source) — the same
# closed-form formula is written in the DuckDB oracle, which is what lets the
# hash gate verify the *operators* end-to-end (same pattern as
# multimodal.synthetic_media).  Exercises every canonicalization rule:
# scheme/host case, default vs real vs absent port, empty & trailing-slash
# paths, tracking vs kept params, fragments, and 2-4-label hosts across
# single- and multi-label public suffixes.
# ---------------------------------------------------------------------------


def with_synthetic_urls(documents: DataFrame) -> DataFrame:
    d = F.col("doc_id")
    src = F.when(d % 2 == 0, F.upper("source")).otherwise(F.col("source"))
    scheme = (
        F.when(d % 3 == 0, "https").when(d % 3 == 1, "HTTPS").otherwise("http")
    )
    www = F.when(d % 2 == 0, "WWW.").otherwise("")
    sub = F.when(d % 7 == 3, "news.").otherwise("")
    base = (
        F.when(d % 5 == 0, F.concat(src, F.lit(".CO.UK")))
        .when(d % 5 == 1, F.concat(src, F.lit(".org")))
        .when(d % 5 == 2, F.concat(src, F.lit(".io")))
        .otherwise(F.concat(src, F.lit(".example.com")))
    )
    port = (
        F.when(d % 4 == 0, ":443").when(d % 4 == 1, ":80")
        .when(d % 4 == 2, ":8080").otherwise("")
    )
    path = (
        F.when(d % 6 == 0, "")
        .when(d % 6 == 1, "/")
        .when(d % 6 == 2, F.concat(F.lit("/a/b/"), d, F.lit("/")))
        .otherwise(F.concat(F.lit("/docs/"), d))
    )
    query = (
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit("?utm_source=feed&z="), d % 26, F.lit("&id="), d % 97,
                F.lit("&utm_campaign=x&a=1"),
            ),
        )
        .when(d % 3 == 1, F.concat(F.lit("?ref=tw&q="), d % 13))
        .otherwise("")
    )
    frag = F.when(d % 5 == 2, F.concat(F.lit("#s"), d % 9)).otherwise("")
    url = F.concat(scheme, F.lit("://"), www, sub, base, port, path, query, frag)
    return documents.withColumn("url", url)


# The same formula as one SQL expression, for oracle_sql() composition.
URL_SYNTH_SQL = """
    (CASE doc_id % 3 WHEN 0 THEN 'https' WHEN 1 THEN 'HTTPS' ELSE 'http' END)
    || '://'
    || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
    || (CASE WHEN doc_id % 7 = 3 THEN 'news.' ELSE '' END)
    || (CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END)
    || (CASE doc_id % 5 WHEN 0 THEN '.CO.UK' WHEN 1 THEN '.org'
             WHEN 2 THEN '.io' ELSE '.example.com' END)
    || (CASE doc_id % 4 WHEN 0 THEN ':443' WHEN 1 THEN ':80'
             WHEN 2 THEN ':8080' ELSE '' END)
    || (CASE doc_id % 6 WHEN 0 THEN '' WHEN 1 THEN '/'
             WHEN 2 THEN '/a/b/' || doc_id || '/'
             ELSE '/docs/' || doc_id END)
    || (CASE doc_id % 3
             WHEN 0 THEN '?utm_source=feed&z=' || (doc_id % 26)
                         || '&id=' || (doc_id % 97) || '&utm_campaign=x&a=1'
             WHEN 1 THEN '?ref=tw&q=' || (doc_id % 13)
             ELSE '' END)
    || (CASE WHEN doc_id % 5 = 2 THEN '#s' || (doc_id % 9) ELSE '' END)
"""


# ---------------------------------------------------------------------------
# robots.txt politeness: per-host disallow rules + crawl-delay scheduling
# ---------------------------------------------------------------------------

CANON_PATH_RE = r"^[a-z]+://[^/]+(/[^?]*)"

# SQL twins of the robots_rules formulas (DuckDB dialect), interpolated into
# every oracle that re-derives the per-host robots dim — one definition
# point, so an engine-side rule change surfaces as an immediate oracle-build
# mismatch instead of a late hash failure (anti-drift doctrine, cf.
# URL_SYNTH_SQL / LG.LINK_PARAMS)
ROBOTS_DISALLOW_SQL = (
    "CASE WHEN len(host) % 3 = 0 THEN '/docs/' "
    "WHEN len(host) % 3 = 1 THEN '/a/' END"
)
ROBOTS_DELAY_SQL = "CAST((len(host) % 5) * 100 AS BIGINT)"


def robots_rules(canon: DataFrame) -> DataFrame:
    """(host, disallow_prefix, crawl_delay_ms) — deterministic per-host
    robots dim derived from the corpus's distinct hosts (stands in for the
    fetched robots.txt parses a crawler materializes): hosts with
    len(host)%3==0 disallow '/docs/', ==1 disallow '/a/', else no rule;
    crawl delay = (len(host)%5)*100 ms.  Host-count-sized — a broadcast dim
    at any corpus scale."""
    hosts = canon.select("host").distinct()
    n = F.length("host")
    prefix = (
        F.when(n % 3 == 0, F.lit("/docs/"))
        .when(n % 3 == 1, F.lit("/a/"))
        .otherwise(F.lit(None).cast("string"))
    )
    return hosts.select(
        "host",
        prefix.alias("disallow_prefix"),
        ((n % 5) * 100).cast("long").alias("crawl_delay_ms"),
    )


def robots_filter(canon: DataFrame, rules: DataFrame | None = None) -> DataFrame:
    """(doc_id, host, path, crawl_delay_ms, fetch_offset_ms) — pages whose
    canonical path survives their host's disallow prefix, scheduled
    politely: the k-th surviving page of a host fetches at k*delay.

    One broadcast join on host; the schedule window partitions BY HOST so
    it parallelizes across hosts (the per-host sequential order is the
    point — politeness is a per-host constraint)."""
    from pyspark.sql import Window

    if rules is None:
        rules = robots_rules(canon)
    path = F.regexp_extract("canonical_url", CANON_PATH_RE, 1)
    joined = (
        canon.select("doc_id", "host", path.alias("path"))
        .join(F.broadcast(rules), "host")
    )
    allowed = joined.where(
        F.col("disallow_prefix").isNull()
        | ~F.col("path").startswith(F.col("disallow_prefix"))
    )
    w = Window.partitionBy("host").orderBy("doc_id")
    return (
        allowed.select(
            "doc_id", "host", "path", "crawl_delay_ms",
            ((F.row_number().over(w) - 1) * F.col("crawl_delay_ms"))
            .cast("long").alias("fetch_offset_ms"),
        )
        .orderBy("doc_id")
    )


def domain_quota(
    df: DataFrame, per_domain: int = 5, url_col: str = "url"
) -> DataFrame:
    """(doc_id, reg_domain, quota_rank) — keep at most `per_domain` docs per
    registered domain (smallest doc_id first): the per-site quota every
    training-data pipeline applies so one giant host can't dominate the mix.

    One shuffle on reg_domain for the rank window; rank<=N prunes before
    anything downstream touches the fat columns.  A domain with 10^9 pages
    is exactly the skew case — the window still works (single key ordered
    scan) but at that scale the pre-filter is a per-partition top-N
    (groupBy + min_by array) before the global window; noted, not needed at
    quota sizes like 5."""
    from pyspark.sql import Window

    canon = registered_domain(canonicalize(df, url_col))
    w = Window.partitionBy("reg_domain").orderBy("doc_id")
    return (
        canon.select("doc_id", "reg_domain")
        .withColumn("quota_rank", F.row_number().over(w).cast("long"))
        .where(F.col("quota_rank") <= per_domain)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# robots.txt PARSER (RFC 9309): from raw robots bytes to the rules dim
# ---------------------------------------------------------------------------

ROBOTS_AGENT_RE = r"(?i)^user-agent:\s*(\S+)"
ROBOTS_DISALLOW_RE = r"(?i)^disallow:\s*(\S*)"
ROBOTS_DELAY_RE = r"(?i)^crawl-delay:\s*([0-9.]+)"


def with_robots_txt(hosts: DataFrame) -> DataFrame:
    """(host, robots_txt): deterministic robots.txt BYTES per host.  Even-
    length hosts carry a FooBot-specific group before the '*' group (the
    parser must skip it); the '*' group reproduces robots_rules' formulas
    — len%3 selects the disallow ('' = allow-all per the RFC, which the
    parser must treat as no rule), len%5 the delay in fractional seconds —
    so the parsed dim is byte-comparable to the formula dim."""
    n = F.length("host")
    specific = F.when(
        n % 2 == 0,
        F.lit("User-agent: FooBot\nDisallow: /private/\n\n"),
    ).otherwise(F.lit(""))
    dis = (
        F.when(n % 3 == 0, F.lit("Disallow: /docs/\n"))
        .when(n % 3 == 1, F.lit("Disallow: /a/\n"))
        .otherwise(F.lit("Disallow:\n"))
    )
    delay = F.concat(
        F.lit("Crawl-delay: "),
        F.when(n % 5 == 0, F.lit("0")).otherwise(
            F.concat(F.lit("0."), (n % 5).cast("string"))
        ),
        F.lit("\n"),
    )
    txt = F.concat(
        F.lit("# synthetic robots\n"), specific,
        F.lit("User-agent: *\n"), dis, delay,
    )
    return hosts.withColumn("robots_txt", txt)


def _robots_matched_body(robots: DataFrame, agent: str = "*") -> DataFrame:
    """(host, pos, line) — the lines of each host's APPLICABLE groups under
    RFC 9309 group semantics (maximal User-agent runs form one group,
    named group preferred over '*', case-insensitive product tokens).
    Factored out of parse_robots so every robots consumer (collapsed dim,
    rule lists) resolves groups identically."""
    from pyspark.sql import Window

    lines = robots.select(
        "host", F.posexplode(F.split("robots_txt", "\n")).alias("pos", "line")
    ).withColumn("line", F.trim("line"))
    is_agent = F.regexp_extract("line", ROBOTS_AGENT_RE, 1) != ""
    w = Window.partitionBy("host").orderBy("pos")
    grp = F.sum(
        (is_agent & ~F.coalesce(F.lag(is_agent.cast("boolean")).over(w), F.lit(False)))
        .cast("long")
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    lines = lines.select(
        "host", "pos", "line", grp.alias("grp"),
        F.regexp_extract("line", ROBOTS_AGENT_RE, 1).alias("agent_line"),
    )
    # RFC fallback: a crawler obeys its own named group if one exists,
    # else the '*' group — resolved per host, not per file; product-token
    # matching is case-insensitive (RFC 9309 §2.2.1)
    matched_agent = (
        lines.where(F.lower(F.col("agent_line")) == agent.lower())
        .select("host", "grp").distinct()
    )
    if agent != "*":
        star = (
            lines.where(F.col("agent_line") == "*")
            .select("host", "grp").distinct()
            .join(matched_agent.select("host").distinct(), "host", "left_anti")
        )
        matched = matched_agent.unionByName(star)
    else:
        matched = matched_agent
    return lines.join(matched, ["host", "grp"], "left_semi")


def parse_robots(robots: DataFrame, agent: str = "*") -> DataFrame:
    """Parse raw robots.txt into the (host, disallow_prefix,
    crawl_delay_ms) rules dim — real RFC 9309 group semantics:

    - a GROUP is a maximal run of User-agent lines plus the rules below it
      (so "User-agent: a\\nUser-agent: *\\nDisallow: /x" is ONE group that
      applies to both agents);
    - field names are case-insensitive; an empty Disallow means allow-all
      (dropped); Crawl-delay takes fractional seconds -> ms.

    Plan: posexplode lines (narrow), one host-partitioned window for the
    group counter, a per-group agent-match semi-join, one groupBy(host).
    robots tables are host-count-sized — everything here is dim-scale and
    the result broadcasts, same as the formula dim it replaces."""
    body = _robots_matched_body(robots, agent)
    dis = F.nullif(F.regexp_extract("line", ROBOTS_DISALLOW_RE, 1), F.lit(""))
    # delay compared NUMERICALLY (string max would rank '9' over '10')
    delay = F.nullif(
        F.regexp_extract("line", ROBOTS_DELAY_RE, 1), F.lit("")
    ).cast("double")
    rules = body.groupBy("host").agg(
        F.min(dis).alias("disallow_prefix"),
        # ALL matched Disallow rules apply (RFC 9309): sorted '|'-join;
        # disallow_prefix keeps the single-rule dim shape for robots_filter
        F.array_join(
            F.array_sort(F.collect_set(dis)), "|"
        ).alias("disallow_all"),
        F.coalesce(
            F.round(F.max(delay) * 1000).cast("long"), F.lit(0).cast("long")
        ).alias("crawl_delay_ms"),
    )
    return (
        robots.select("host")
        .join(rules, "host", "left")
        .select(
            "host", "disallow_prefix",
            F.coalesce("disallow_all", F.lit("")).alias("disallow_all"),
            F.coalesce("crawl_delay_ms", F.lit(0).cast("long")).alias("crawl_delay_ms"),
        )
    )


# ---------------------------------------------------------------------------
# sitemap.xml ingestion (crawl discovery beside robots + outlinks)
# ---------------------------------------------------------------------------

def with_sitemaps(hosts: DataFrame) -> DataFrame:
    """(host, sitemap_xml): deterministic sitemap per host — len(host)%4+2
    url entries, loc/lastmod from index formulas the oracle re-derives."""
    n = F.length("host")
    entries = F.transform(
        F.sequence(F.lit(0), n % 4 + 1),
        lambda i: F.concat(
            F.lit("<url><loc>https://"), F.col("host"), F.lit("/page/"), i,
            F.lit("</loc><lastmod>2024-0"), (i % 9) + 1,
            F.lit("-01</lastmod></url>"),
        ),
    )
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'),
        F.concat_ws("", entries),
        F.lit("</urlset>"),
    )
    return hosts.withColumn("sitemap_xml", xml)


def parse_sitemap(sitemaps: DataFrame) -> DataFrame:
    """(host, loc, lastmod, recrawl_rank) from sitemap XML — one JVM pass
    per field (regexp_extract_all), arrays_zip keeps loc/lastmod pairs
    aligned through the explode, and recrawl_rank orders each host's urls
    freshest-lastmod-first (the recrawl scheduler's priority).

    Scale: sitemap tables are host-count-sized; the explode fans out to the
    url count (the real frontier input) and the rank window partitions by
    host — the same politeness-queue partitioning as robots_filter."""
    from pyspark.sql import Window

    locs = F.regexp_extract_all("sitemap_xml", F.lit(r"<loc>([^<]*)</loc>"), F.lit(1))
    mods = F.regexp_extract_all(
        "sitemap_xml", F.lit(r"<lastmod>([^<]*)</lastmod>"), F.lit(1)
    )
    pairs = (
        sitemaps.select("host", locs.alias("locs"), mods.alias("mods"))
        .select("host", F.explode(F.arrays_zip("locs", "mods")).alias("e"))
        .select("host", F.col("e.locs").alias("loc"), F.col("e.mods").alias("lastmod"))
    )
    w = Window.partitionBy("host").orderBy(F.col("lastmod").desc(), "loc")
    return pairs.withColumn(
        "recrawl_rank", F.row_number().over(w).cast("long")
    ).orderBy("host", "recrawl_rank")


# ---------------------------------------------------------------------------
# Redirect-chain resolution
# ---------------------------------------------------------------------------

# doc_id % REDIR_CHAIN_MOD == 0 urls are terminal; every other url
# 301-redirects one id down, so chains run 1..REDIR_CHAIN_MOD-1 hops and end
# at the group's canonical url.  Formula-derived (like with_synthetic_urls)
# so the oracle re-derives the whole redirect graph.
REDIR_CHAIN_MOD = 5
# the same url formula as one SQL expression (anti-drift: oracle interpolates
# this, never re-types it); {d} is the doc_id expression
REDIR_URL_SQL = (
    "'https://host' || CAST(({d}) % 10 AS VARCHAR)"
    " || '.example.com/page/' || CAST(({d}) AS VARCHAR)"
)


def _redir_url(d):
    return F.concat(
        F.lit("https://host"), d % 10, F.lit(".example.com/page/"), d
    )


def with_synthetic_redirects(documents: DataFrame) -> DataFrame:
    """(src, dst) redirect edges from the doc_id formula above."""
    d = F.col("doc_id")
    return documents.where(d % REDIR_CHAIN_MOD != 0).select(
        _redir_url(d).alias("src"), _redir_url(d - 1).alias("dst")
    )


def resolve_redirects(
    edges: DataFrame, max_doubling: int = 6, stats: dict | None = None
) -> DataFrame:
    """Resolve every redirect source to its terminal url: (url, final_url,
    n_hops, unresolved) — the step every crawler runs before canonical
    dedup, since content keyed by a mid-chain url double-counts.

    Scale design — pointer doubling (path halving), not step-by-step
    walking: each round self-joins the current mapping on dst=src, so after
    K rounds every chain up to 2^K hops is fully resolved in K shuffles
    (step-walking needs L shuffles for an L-hop chain; real redirect chains
    are short, browsers cap ~20, so K=6 covers 64 hops with 6 equi-joins).
    n_hops accumulates exactly (the two spliced segments' lengths add), the
    mapping stays one row per src throughout (redirects are functional),
    and localCheckpoint truncates lineage each round like _power_iterate.
    Cycles (a->b->a) never reach a terminal: rather than inferring from a
    hop cap (which would mis-flag a chain of exactly 2^K hops), the final
    dst is tested for membership in the src set — still a redirect source
    means unresolved, final_url NULL.  The check is a key-only left join.

    Early stop (exact, like _power_iterate's converged mode): once no
    reached dst is still a redirect source, further rounds are identity
    joins — stop at ceil(log2(longest chain)) rounds instead of burning
    the fixed K shuffles.  The per-round check is a semi join against the
    (already materialized) src dim on the just-checkpointed frame — one
    cheap action buying a skipped corpus-wide shuffle round.  A graph with
    a cycle never drains, so it runs all K rounds and flags the cycle.
    `stats`, if given, records the executed round count.
    """
    src_keys = edges.select(F.col("src").alias("dst")).distinct()
    rounds = 0
    cur = edges.select("src", "dst", F.lit(1).cast("long").alias("hops"))
    for _ in range(max_doubling):
        a, b = cur.alias("a"), cur.alias("b")
        cur = a.join(b, F.col("a.dst") == F.col("b.src"), "left").select(
            F.col("a.src").alias("src"),
            F.coalesce(F.col("b.dst"), F.col("a.dst")).alias("dst"),
            (F.col("a.hops") + F.coalesce(F.col("b.hops"), F.lit(0))).alias("hops"),
        ).localCheckpoint(eager=True)
        rounds += 1
        if cur.join(src_keys, "dst", "left_semi").isEmpty():
            break
    if stats is not None:
        stats["rounds"] = rounds
    still_open = src_keys.withColumn("open", F.lit(True))
    return (
        cur.join(still_open, "dst", "left")
        .select(
            F.col("src").alias("url"),
            F.when(F.col("open").isNotNull(), F.lit(None).cast("string"))
            .otherwise(F.col("dst")).alias("final_url"),
            F.col("hops").alias("n_hops"),
            F.coalesce(F.col("open"), F.lit(False)).alias("unresolved"),
        )
        .orderBy("url")
    )


def canonical_url_groups(documents: DataFrame) -> DataFrame:
    """Alias-group accounting under redirects: every document keyed by the
    TERMINAL url its own url resolves to — (canonical_url, n_docs,
    keeper_doc_id).  This is the consumer resolve_redirects exists for:
    content fetched via a mid-chain url must collapse onto the terminal's
    group before canonical dedup, or the corpus double-counts it.

    Dataflow: resolve once (O(log L) shuffles), left-join the per-doc url
    onto the resolved mapping (terminals miss and keep their own url), one
    groupBy on the canonical key.  Keeper election is min(doc_id) — a pure
    order-independent aggregate, byte-identical at any cluster size (the
    same determinism argument as dedup.exact_dedup's keeper)."""
    d = F.col("doc_id")
    resolved = resolve_redirects(with_synthetic_redirects(documents))
    doc_urls = documents.select("doc_id", _redir_url(d).alias("url"))
    mapped = doc_urls.join(
        resolved.select("url", "final_url"), "url", "left"
    ).select(
        "doc_id", F.coalesce("final_url", F.col("url")).alias("canonical_url")
    )
    return (
        mapped.groupBy("canonical_url")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
        )
        .orderBy("canonical_url")
    )


# Meta-refresh redirects: the CONTENT-level alias channel (HTTP 3xx never
# fires — the page body declares the hop), so a crawler that only follows
# header redirects double-counts these.  The (?i) pattern lives in the
# RE2/Java common subset; the oracle runs the SAME pattern over the SAME
# reconstructed html, so the extraction regexp itself is hash-checked.
META_REFRESH_RE = (
    r'(?i)<meta\s+http-equiv="refresh"\s+content="[0-9]+;\s*url=([^"]+)"'
)


def with_meta_refresh_html(documents: DataFrame) -> DataFrame:
    """Synthesis: doc_id%4==1 pages carry an UPPERCASE meta refresh,
    %4==2 a lowercase no-space variant (both to url(doc_id+1), so hops
    chain %4==1 -> %4==2 -> %4==3 terminal), others no tag."""
    d = F.col("doc_id")
    tag = (
        F.when(
            d % 4 == 1,
            F.concat(
                F.lit('<META HTTP-EQUIV="Refresh" CONTENT="0; url='),
                _redir_url(d + 1), F.lit('">'),
            ),
        )
        .when(
            d % 4 == 2,
            F.concat(
                F.lit('<meta http-equiv="refresh" content="5;url='),
                _redir_url(d + 1), F.lit('">'),
            ),
        )
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html><head>"), tag, F.lit("</head><body>"),
        F.substring("text", 1, 40), F.lit("</body></html>"),
    )
    return documents.withColumn("url", _redir_url(d)).withColumn("html", html)


def extract_meta_redirects(pages: DataFrame) -> DataFrame:
    """(src, dst) edges from meta-refresh tags — one JVM regexp_extract in
    the scan (narrow, no shuffle, same shape as linkgraph.extract_outlinks);
    pages without a tag drop out.  Feed the result to resolve_redirects to
    collapse refresh chains exactly like header-redirect chains."""
    dst = F.regexp_extract("html", META_REFRESH_RE, 1)
    return (
        pages.select(F.col("url").alias("src"), dst.alias("dst"))
        .where(F.col("dst") != "")
    )


# per-domain quality prior: trust the prior only once a domain has enough
# scored documents (interpolated into the oracle)
DOMAIN_PRIOR_MIN_DOCS = 3


def domain_quality_prior(documents: DataFrame) -> DataFrame:
    """Per-registered-domain quality prior — (reg_domain, n_docs,
    mean_quality_bp, prior_trusted).  The CCNet/RefinedWeb move: a domain's
    aggregate document quality is the crawl-priority / sampling prior for
    its UNSEEN pages, so it must be computed corpus-wide before the next
    crawl cycle.

    Dataflow: per-doc soft quality (textstats.quality_score — the shared
    formula, so score and prior cannot diverge) joined on doc_id to the
    distinct-host registered-domain map, then ONE groupBy on reg_domain.
    The mean lands as exact integer basis points (sum of 4dp-rounded
    scores x 10^4, integer-divided by the count) — float means are the
    classic cross-engine hash hazard, integer bp are not.  prior_trusted
    gates the prior on >= DOMAIN_PRIOR_MIN_DOCS scored docs (a 1-doc
    domain's prior is noise).  Per-domain skew: count/sum are algebraic,
    AQE handles a mega-domain."""
    from pdf_parser_spark.operators import textstats

    q = textstats.quality_score(documents).select("doc_id", "quality")
    canon = registered_domain(canonicalize(with_synthetic_urls(documents)))
    joined = canon.select("doc_id", "reg_domain").join(q, "doc_id")
    bp = F.round(F.col("quality") * 10000).cast("long")
    return (
        joined.select("reg_domain", bp.alias("bp"))
        .groupBy("reg_domain")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("bp").alias("_sum_bp"),
        )
        .select(
            "reg_domain",
            "n_docs",
            F.expr("_sum_bp div n_docs").alias("mean_quality_bp"),
            (F.col("n_docs") >= DOMAIN_PRIOR_MIN_DOCS).alias("prior_trusted"),
        )
        .orderBy("reg_domain")
    )


# ---------------------------------------------------------------------------
# Crawler-trap URL detection (infinite calendars, session-id explosions,
# runaway pagination, recursive path loops — the URL-shaped spider traps
# that burn crawl budget without yielding new content)
# ---------------------------------------------------------------------------

TRAP_MAX_DEPTH = 8          # path segments beyond this smell generated
TRAP_MAX_PAGE = 1000        # ?page= beyond this is runaway pagination
TRAP_HEX_ID_LEN = 16        # a >=16-hex query value is a session/tracking id
# RE2/Java-common patterns (no backreferences — RE2 has none, so the
# repeated-segment rule uses list ops instead)
TRAP_PAGE_RE = r"[?&]page=([0-9]+)"
TRAP_HEX_ID_RE = r"[?&][A-Za-z_]+=[0-9a-f]{" + str(TRAP_HEX_ID_LEN) + r",}"


def with_trap_urls(documents: DataFrame) -> DataFrame:
    """Synthesis: doc_id%7 picks the trap flavor — 1 deep path, 2 repeated
    adjacent segment, 3 runaway pagination, 4 hex session id (md5 of the
    doc_id, re-derivable in SQL); everything else is a clean /docs/ url."""
    d = F.col("doc_id")
    base = F.concat(F.lit("https://site"), d % 10, F.lit(".example.com"))
    url = (
        F.when(d % 7 == 1, F.concat(base, F.lit("/a/b/c/d/e/f/g/h/i/j"),
                                    F.lit("/"), d))
        .when(d % 7 == 2, F.concat(base, F.lit("/cal/2026/2026/2026/"), d))
        .when(d % 7 == 3, F.concat(base, F.lit("/list?page="), d + 50_000))
        .when(d % 7 == 4, F.concat(base, F.lit("/item?sid="),
                                   F.md5(d.cast("string"))))
        .otherwise(F.concat(base, F.lit("/docs/"), d))
    )
    return documents.withColumn("url", url)


def _trap_reasons(u) -> "F.Column":
    """';'-joined trap-rule reasons column for a raw url column — ONE
    definition shared by trap_url_audit and crawl_admission so the two
    faces can never disagree about what a trap is."""
    path = F.regexp_extract(u, URL_RE, 4)
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    depth = F.size(segs)
    # sequence(1, depth-1) counts DOWN when depth==1 (Spark sequences are
    # bidirectional), so floor the stop at 1 and use try_element_at — the
    # out-of-range probe returns NULL, NULL==NULL is NULL, and the coalesce
    # turns the whole exists into false for single-segment paths
    rep = (depth >= 2) & F.coalesce(
        F.exists(
            F.sequence(F.lit(1), F.greatest(depth - 1, F.lit(1))),
            lambda i: F.try_element_at(segs, i) == F.try_element_at(segs, i + 1),
        ),
        F.lit(False),
    )
    page = F.nullif(F.regexp_extract(u, TRAP_PAGE_RE, 1), F.lit("")).cast("long")
    hexid = F.regexp_extract(u, TRAP_HEX_ID_RE, 0) != ""
    rules = [
        (depth > TRAP_MAX_DEPTH, "deep_path"),
        (rep, "repeated_segment"),
        (F.coalesce(page, F.lit(0)) > TRAP_MAX_PAGE, "runaway_pagination"),
        (hexid, "session_id"),
    ]
    return F.concat_ws(";", *[F.when(c, F.lit(n)) for c, n in rules])


def trap_url_audit(df: DataFrame, url_col: str = "url") -> DataFrame:
    """(doc_id, url, trap_reasons, is_trap) — URL-shape spider-trap rules:
    path depth > TRAP_MAX_DEPTH, a repeated ADJACENT path segment
    (recursive link loops render as /x/x/...; detected with array lambdas
    because RE2 — the oracle's engine — has no backreferences), ?page=
    beyond TRAP_MAX_PAGE, and a >=16-hex query value (session ids make
    every visit a 'new' url).  All JVM column expressions in the scan —
    zero Python, zero shuffle; at crawl scale this runs in the frontier's
    url stream before any fetch is scheduled.  Reasons use the
    quality_gate convention (';'-joined in rule order, '' when clean)."""
    reasons = _trap_reasons(F.col(url_col))
    u = F.col(url_col)
    return df.select(
        "doc_id", u.alias("url"),
        reasons.alias("trap_reasons"),
        (reasons != "").alias("is_trap"),
    ).orderBy("doc_id")


# URL template mining: hex runs first (a digit-only prefix of a session id
# must not split the {h} slot), then any digit run
TEMPLATE_HEX_RE = r"[0-9a-f]{16,}"
TEMPLATE_DIGIT_RE = r"[0-9]+"
TEMPLATE_EXPLOSION_MIN = 10  # distinct urls per template before it smells generated


def url_templates(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Mine URL templates per host — collapse every >=16-hex run to {h} and
    every digit run to {d} in path+query, then count urls per (host,
    template).  The crawl-analysis step after trap detection: a template
    with a huge distinct-url population (/cal/{d}/{d}/{d} with millions of
    instances) is a GENERATED space, the per-template face of the same
    budget problem with_trap_urls flags per-url — and the input to
    template-level crawl caps.

    (host, template, n_urls, n_distinct, explosive): n_distinct counts
    DISTINCT urls (recrawls of one url must not fake an explosion),
    explosive gates at TEMPLATE_EXPLOSION_MIN.

    Scale: two JVM regexp_replaces in the scan (zero Python), one groupBy
    on (host, template) — count is algebraic; the exact distinct needs the
    per-group shuffle of urls, which is what template explosion measures
    anyway.  Template count is bounded by real site structure, so the
    output is a dim."""
    u = F.col(url_col)
    host = F.regexp_extract(u, URL_RE, 2)
    pq = F.concat(
        F.regexp_extract(u, URL_RE, 4), F.regexp_extract(u, URL_RE, 5)
    )
    tpl = F.regexp_replace(
        F.regexp_replace(pq, TEMPLATE_HEX_RE, "{h}"),
        TEMPLATE_DIGIT_RE, "{d}",
    )
    return (
        df.select(host.alias("host"), tpl.alias("template"), u.alias("u"))
        .groupBy("host", "template")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.countDistinct("u").cast("long").alias("n_distinct"),
        )
        .withColumn(
            "explosive", F.col("n_distinct") >= TEMPLATE_EXPLOSION_MIN
        )
        .orderBy("host", "template")
    )


# RFC 9309 §2.3: Sitemap is a non-group directive, valid anywhere in the
# file; (?m) anchors are the RE2/Java-common multiline subset
SITEMAP_LINE_RE = r"(?m)^Sitemap:\s*(\S+)"


def with_robots_sitemaps(hosts: DataFrame) -> DataFrame:
    """with_robots_txt + appended Sitemap declarations (every host declares
    /sitemap.xml; even-length hosts add a news sitemap) — a separate
    synthesis so the byte-pinned u_robots_parsed corpus stays untouched."""
    base = with_robots_txt(hosts)
    n = F.length("host")
    sm = F.concat(
        F.lit("Sitemap: https://"), F.col("host"), F.lit("/sitemap.xml\n"),
        F.when(
            n % 2 == 0,
            F.concat(F.lit("Sitemap: https://"), F.col("host"),
                     F.lit("/news-sitemap.xml\n")),
        ).otherwise(F.lit("")),
    )
    return base.withColumn("robots_txt", F.concat("robots_txt", sm))


def discover_sitemaps(robots: DataFrame) -> DataFrame:
    """(host, sitemap_url) — how crawlers actually FIND sitemaps: the
    Sitemap: lines of robots.txt (RFC 9309 §2.3; any position in the file,
    outside all groups).  One JVM multiline regexp over the per-host
    robots dim (host-count-sized — the same bounded dim every robots op
    runs on), exploded to one row per declared sitemap.  Feeds
    parse_sitemap/recrawl ranking downstream."""
    urls = F.regexp_extract_all("robots_txt", F.lit(SITEMAP_LINE_RE), F.lit(1))
    return (
        robots.select("host", F.explode(urls).alias("sitemap_url"))
        .orderBy("host", "sitemap_url")
    )


# ---------------------------------------------------------------------------
# RFC 9309 §2.2.2 Allow/Disallow longest-match decisions
# ---------------------------------------------------------------------------

ROBOTS_ALLOW_RE = r"(?i)^allow:\s*(\S*)"


def with_robots_allow(hosts: DataFrame) -> DataFrame:
    """Synthesis for the Allow semantics: every host disallows /docs/;
    even-length hosts carve out Allow: /docs/1 — LONGER than the disallow,
    so the RFC longest-match override re-admits every /docs/1* page on
    those hosts; len%3==0 hosts also disallow /a/.  Separate corpus so the
    byte-pinned with_robots_txt fixtures stay untouched."""
    n = F.length("host")
    txt = F.concat(
        F.lit("User-agent: *\nDisallow: /docs/\n"),
        F.when(n % 2 == 0, F.lit("Allow: /docs/1\n")).otherwise(F.lit("")),
        F.when(n % 3 == 0, F.lit("Disallow: /a/\n")).otherwise(F.lit("")),
    )
    return hosts.withColumn("robots_txt", txt)


def parse_robots_rules(robots: DataFrame, agent: str = "*") -> DataFrame:
    """(host, kind, prefix) rule LISTS from the applicable groups — the
    input the longest-match decision needs (parse_robots collapses to one
    prefix; RFC 9309 §2.2.2 requires ranking ALL rules by match length).
    Empty patterns match nothing (RFC) and are dropped.  Same group
    resolution as parse_robots via the shared _robots_matched_body."""
    body = _robots_matched_body(robots, agent)
    allow = F.nullif(F.regexp_extract("line", ROBOTS_ALLOW_RE, 1), F.lit(""))
    dis = F.nullif(F.regexp_extract("line", ROBOTS_DISALLOW_RE, 1), F.lit(""))
    rule = (
        F.when(allow.isNotNull(), F.struct(F.lit("allow").alias("kind"),
                                           allow.alias("prefix")))
        .when(dis.isNotNull(), F.struct(F.lit("disallow").alias("kind"),
                                        dis.alias("prefix")))
    )
    return (
        body.select("host", rule.alias("r"))
        .where(F.col("r").isNotNull())
        .select("host", F.col("r.kind").alias("kind"),
                F.col("r.prefix").alias("prefix"))
        .distinct()
    )


def robots_decision(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """(doc_id, allowed, match_kind, match_len) — the RFC 9309 §2.2.2
    decision per url: among the host's rules whose prefix starts the
    path, the LONGEST wins; at equal length Allow wins (the RFC's
    least-restrictive tie-break); no match = allowed.

    Dataflow: urls join the host-keyed rule dim (host-count-sized →
    broadcast at any corpus scale), prefix-match filter, then ONE max of a
    (len, allow-priority) struct per doc — struct max IS the lexicographic
    (longest, then allow) ranking, an algebraic aggregate with map-side
    combine, so the fan-out never survives the shuffle."""
    with_path = urls.select(
        "doc_id", "host", F.regexp_extract("canonical_url", URL_RE, 4).alias("p")
    )
    cand = (
        with_path.join(F.broadcast(rules), "host", "left")
        .where(F.col("prefix").isNull() | F.col("p").startswith(F.col("prefix")))
    )
    best = (
        cand.groupBy("doc_id")
        .agg(F.max(F.when(F.col("prefix").isNotNull(), F.struct(
            F.length("prefix").alias("l"),
            (F.col("kind") == "allow").cast("int").alias("a"),
            F.col("kind").alias("kind"),
        ))).alias("m"))
    )
    return (
        with_path.select("doc_id").distinct()
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("m").isNull() | (F.col("m.kind") == "allow")).alias("allowed"),
            F.coalesce(F.col("m.kind"), F.lit("")).alias("match_kind"),
            F.coalesce(F.col("m.l").cast("long"), F.lit(0)).alias("match_len"),
        )
        .orderBy("doc_id")
    )


# global per-cycle fetch budget apportioned across trusted domains
CRAWL_BUDGET_TOTAL = 100_000


def crawl_budget(priors: DataFrame, total: int = CRAWL_BUDGET_TOTAL) -> DataFrame:
    """Apportion a global fetch budget across TRUSTED domains in proportion
    to their quality prior — (reg_domain, weight_bp, budget) with the
    exact-sum invariant sum(budget) == total.

    Hamilton / largest-remainder apportionment: base = total*w div W,
    then the leftover seats go to the largest remainders (total*w mod W,
    ties broken reg_domain asc).  Every step is exact BIGINT arithmetic —
    a float-share allocator drifts across engines AND can over/under-spend
    the budget; largest-remainder is the standard deterministic fix.

    Scale: the input is the domain dim (bounded, ~10^7 at web scale) — the
    global windows here never touch the corpus, the same dim-window
    pattern as mixture_resample's default budget."""
    from pyspark.sql import Window

    t = priors.where(F.col("prior_trusted")).select(
        "reg_domain", F.col("mean_quality_bp").alias("w")
    )
    g = Window.partitionBy()
    # NB: Spark resolves column names case-insensitively, so the weight sum
    # must NOT be named "W" — withColumn("W", ...) would replace "w".
    t = t.withColumn("wsum", F.sum("w").over(g))
    t = t.select(
        "reg_domain", "w",
        F.expr(f"({total} * w) div wsum").alias("base"),
        F.expr(f"({total} * w) % wsum").alias("rem"),
    )
    leftover = (F.lit(total) - F.sum("base").over(g)).cast("long")
    rank = F.row_number().over(
        Window.partitionBy().orderBy(F.col("rem").desc(), F.col("reg_domain").asc())
    )
    return (
        t.withColumn("leftover", leftover)
        .withColumn("rk", rank)
        .select(
            "reg_domain",
            F.col("w").alias("weight_bp"),
            (F.col("base")
             + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
            .cast("long").alias("budget"),
        )
        .orderBy("reg_domain")
    )


# ---------------------------------------------------------------------------
# SURT keys + CDX-style authority index: the wire format of web-archive
# lookups.  Common Crawl's URL index (and OpenWayback/pywb's CDX(J)) keys
# every capture by the Sort-friendly URI Reordering Transform — host labels
# reversed and comma-joined so one authority's captures are CONTIGUOUS in
# sort order ("com,example)/..." groups all of example.com), which is what
# makes a 10^12-capture index binary-searchable from a tiny cluster.idx of
# range boundaries.  Spark-side, the same property means
# repartitionByRange(surt) gives authority-local shards for free.
# ---------------------------------------------------------------------------


def surt_key(canon: DataFrame) -> DataFrame:
    """Add ``surt``: from ``canonical_url`` (canonicalize output — scheme
    already dropped by the transform, tracking params gone, params sorted),
    reverse the dot-labels of the host (one leading ``www.`` stripped —
    the conventional alias fold), comma-join, keep a non-default port,
    then ``)`` + path+query.  ``https://www.news.example.co.uk:8080/a?b=1``
    -> ``uk,co,example,news:8080)/a?b=1``.  Pure JVM regex/array column
    ops in the scan — zero Python, zero shuffle."""
    hostport = F.regexp_extract("canonical_url", r"^[a-z]+://([^/]+)", 1)
    rest = F.regexp_extract("canonical_url", r"^[a-z]+://[^/]+(.*)$", 1)
    host = F.regexp_extract(hostport, r"^([^:]*)", 1)
    port = F.regexp_extract(hostport, r"(:[0-9]+)$", 1)
    bare = F.regexp_replace(host, r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(bare, r"\.")), ",")
    return canon.withColumn("surt", F.concat(rev, port, F.lit(")"), rest))


def cdx_authority_index(documents: DataFrame) -> DataFrame:
    """The cluster-index face: roll the per-capture SURT table up to its
    authority prefix (everything before ``)`` — reversed host + port).
    Returns (authority, n_captures, n_urls, min_surt, max_surt) ordered by
    authority: the row set a range-partitioned CDX write materializes as
    shard boundaries, and the contiguity proof that SURT keying makes one
    authority one index range.

    Scale: surt is computed in the scan; ONE map-side-combinable groupBy
    on the authority key (authorities are a host-scale dim, 4-5 orders
    below captures); min/max are algebraic.  No sort of the capture table
    happens here — the global sort is the CDX *write* path
    (repartitionByRange(surt) + sortWithinPartitions), whose boundaries
    this rollup audits."""
    canon = canonicalize(with_synthetic_urls(documents))
    s = surt_key(canon)
    auth = F.regexp_extract("surt", r"^([^)]*)", 1)
    return (
        s.select(auth.alias("authority"), "surt", "canonical_url")
        .groupBy("authority")
        .agg(
            F.count("*").cast("long").alias("n_captures"),
            F.countDistinct("canonical_url").cast("long").alias("n_urls"),
            F.min("surt").alias("min_surt"),
            F.max("surt").alias("max_surt"),
        )
        .orderBy("authority")
    )


# ---------------------------------------------------------------------------
# hreflang translation clusters: the multilingual-alignment entry point.
# Sites declare language alternates via <link rel="alternate" hreflang=..>
# (Google's multilingual-site protocol); clustering pages by those
# declarations is how bitext-mining pipelines (CCMatrix/CCAligned lineage)
# find candidate translation PAIRS before any embedding comparison runs —
# a declared cluster of {en, es, fr} pages is three aligned documents for
# free.  Declarations are messy in the wild (one-directional, partial,
# dangling), so the cluster is the TRANSITIVE closure of the symmetrized
# declaration graph, not the declaration list itself.
# ---------------------------------------------------------------------------

HREFLANG_RE = r'<link rel="alternate" hreflang="[a-z-]*" href="([^"]+)"'
HREFLANG_GROUP = 3   # synthetic translation groups: ids {3k, 3k+1, 3k+2}
HREFLANG_DANGLE_MOD = 7  # doc_id%7==0 also declares a 404 alternate


def with_hreflang_html(documents: DataFrame) -> DataFrame:
    """Synthesize page html whose hreflang declarations form per-group
    CHAINS (member k>0 declares only member k-1's RAW synthetic url), so
    resolving a full cluster genuinely requires symmetrize + transitive
    closure; doc_id%7==0 rows also declare a dangling alternate that
    resolves to no corpus url (the 404 case the join must drop), and every
    page carries a rel=stylesheet decoy the extraction regex must ignore.
    Built dataflow-style: one self-join fetches the chain target's url —
    the formula is never duplicated."""
    u = with_synthetic_urls(documents).select(
        "doc_id", "lang", F.col("url").alias("target_url"))
    d = F.col("doc_id")
    link = F.when(
        (d % HREFLANG_GROUP != 0) & F.col("t_url").isNotNull(),
        F.concat(F.lit('<link rel="alternate" hreflang="'), F.col("t_lang"),
                 F.lit('" href="'), F.col("t_url"), F.lit('">')),
    ).otherwise(F.lit(""))
    dangle = F.when(
        d % HREFLANG_DANGLE_MOD == 0,
        F.lit('<link rel="alternate" hreflang="xx" '
              'href="http://dangling.invalid/gone">'),
    ).otherwise(F.lit(""))
    decoy = F.lit('<link rel="stylesheet" href="/css/site.css">')
    targets = u.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.col("target_url").alias("t_url"),
        F.col("lang").alias("t_lang"),
    )
    return (
        documents.join(targets, "doc_id", "left")
        .withColumn(
            "html",
            F.concat(F.lit("<html><head>"), link, dangle, decoy,
                     F.lit("</head><body>p"), d, F.lit("</body></html>")),
        )
        .drop("t_url", "t_lang")
    )


def hreflang_clusters(documents: DataFrame) -> DataFrame:
    """(doc_id, cluster, n_members, n_langs): translation clusters from
    REAL hreflang extraction — one JVM regexp_extract_all over the page
    html, declared hrefs canonicalized with the SAME canonicalize transform
    the corpus urls went through, resolved to doc ids by an equi join on
    canonical_url (dangling declarations drop here, exactly like a 404),
    symmetrized and transitively closed with the shared
    dedup.connected_components propagation; docs with no surviving
    declaration are singleton clusters of themselves.  n_langs counts
    DISTINCT langs per cluster — the bitext-pair yield signal (a cluster
    with n_langs == 1 is a same-language mirror set, not translations).

    Scale: the extraction and both canonicalize passes are in-scan column
    ops; the resolve is a key equi join against the url dim; the closure
    runs only on DECLARED pages (the candidate set, never the corpus) —
    the connected_components admission rule."""
    from pdf_parser_spark.operators.dedup import connected_components

    pages = with_hreflang_html(documents)
    corpus = canonicalize(with_synthetic_urls(documents)).select(
        F.col("canonical_url").alias("cu"), F.col("doc_id").alias("target_id"))
    hrefs = (
        pages.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all("html", F.lit(HREFLANG_RE), F.lit(1))
            ).alias("url"),
        )
    )
    edges = (
        canonicalize(hrefs)
        .select("doc_id", F.col("canonical_url").alias("cu"))
        .join(corpus, "cu")
        .where(F.col("doc_id") != F.col("target_id"))
        .select(F.col("doc_id").alias("doc_a"), F.col("target_id").alias("doc_b"))
    )
    comp = connected_components(edges).select("doc_id", "component")
    labeled = (
        documents.select("doc_id", "lang")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id", "lang",
            F.coalesce("component", F.col("doc_id")).alias("cluster"),
        )
    )
    sizes = labeled.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )
    return (
        labeled.join(sizes, "cluster")
        .select("doc_id", "cluster", "n_members", "n_langs")
        .orderBy("doc_id")
    )


def with_robots_wildcards(hosts: DataFrame) -> DataFrame:
    """Synthesis for RFC 9309 wildcard semantics (every host disallows
    /docs/; even-length hosts carve back Allow: /docs/*1 — a LONGER
    wildcard pattern, so pages with a '1' after /docs/ re-admit; len%3==0
    hosts add the end-anchored Disallow: /a/*7$ which bans exactly the
    /a/... paths ENDING in 7).  Separate corpus so the byte-pinned
    with_robots_txt / with_robots_allow fixtures stay untouched."""
    n = F.length("host")
    txt = F.concat(
        F.lit("User-agent: *\nDisallow: /docs/\n"),
        F.when(n % 2 == 0, F.lit("Allow: /docs/*1\n")).otherwise(F.lit("")),
        F.when(n % 3 == 0, F.lit("Disallow: /a/*7$\n")).otherwise(F.lit("")),
    )
    return hosts.withColumn("robots_txt", txt)


def robots_decision_wildcard(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """(doc_id, allowed, match_kind, match_len) — robots_decision extended
    to the wildcard grammar every major crawler implements on top of RFC
    9309: '*' matches any span, a trailing '$' anchors at path end; rule
    specificity stays the RAW pattern's octet length (Google's published
    tie rule), Allow wins equal lengths.

    The regex translation runs as JVM column ops on the HOST-DIM rule
    table (strip trailing $, escape metas except '*', '*' -> '.*', anchor)
    — a few regexp_replaces over ~10^7 rows at web scale, nothing touches
    the corpus; the match itself is one regexp_like against the broadcast
    rule dim, and the winner is the same algebraic (len, allow) struct-max
    as robots_decision."""
    # pattern -> regex: strip a trailing $ (the grammar's only anchor — a
    # non-trailing $ is literal and gets escaped), escape every regex meta
    # EXCEPT '*', then '*' -> '.*', then re-anchor
    anchored = F.col("prefix").endswith("$")
    core = F.when(
        anchored, F.expr("substring(prefix, 1, length(prefix) - 1)")
    ).otherwise(F.col("prefix"))
    esc = F.regexp_replace(core, r"([.+?^$(){}\[\]|\\])", r"\\$1")
    rx = F.concat(
        F.lit("^"),
        F.regexp_replace(esc, r"\*", ".*"),
        F.when(anchored, F.lit("$")).otherwise(F.lit("")),
    )
    wild_rules = rules.select(
        "host", "kind", "prefix", rx.alias("rx"),
        F.length("prefix").alias("plen"),
    )
    with_path = urls.select(
        "doc_id", "host", F.regexp_extract("canonical_url", URL_RE, 4).alias("p")
    )
    cand = (
        with_path.join(F.broadcast(wild_rules), "host", "left")
        .where(F.col("rx").isNull() | F.expr("regexp_like(p, rx)"))
    )
    best = (
        cand.groupBy("doc_id")
        .agg(F.max(F.when(F.col("rx").isNotNull(), F.struct(
            F.col("plen").alias("l"),
            (F.col("kind") == "allow").cast("int").alias("a"),
            F.col("kind").alias("kind"),
        ))).alias("m"))
    )
    return (
        with_path.select("doc_id").distinct()
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("m").isNull() | (F.col("m.kind") == "allow")).alias("allowed"),
            F.coalesce(F.col("m.kind"), F.lit("")).alias("match_kind"),
            F.coalesce(F.col("m.l").cast("long"), F.lit(0)).alias("match_len"),
        )
        .orderBy("doc_id")
    )


PARAM_TRACK_MIN_URLS = 20      # ignore keys seen on fewer urls
PARAM_TRACK_MIN_BP = 5000      # tracking-suspect iff distinct/occurrence >= 50%


def param_audit(
    documents: DataFrame,
    min_urls: int = PARAM_TRACK_MIN_URLS,
    min_bp: int = PARAM_TRACK_MIN_BP,
    urls: DataFrame | None = None,
) -> DataFrame:
    """Query-parameter audit over the RAW url stream — the data-driven
    origin of the canonicalizer's drop list: a session/tracking parameter
    is one whose VALUE is (near-)unique per occurrence, while a content
    parameter (page=2, lang=fr) repeats.  Crawl stacks mine exactly this
    table to grow their strip rules (pywb's fuzzy-match rules, the
    canonicalizer's TRACKING_KEYS) instead of hand-listing vendors.

    (param, n_urls, n_distinct_values, distinct_bp, tracking_suspect):
    distinct_bp = 10000 * n_distinct div n_urls exact; suspect iff
    n_urls >= min_urls AND distinct_bp >= min_bp.  Runs UPSTREAM of
    canonicalization on purpose — auditing the post-drop stream would hide
    precisely the keys being audited.

    Scale: parse + explode are in-scan; ONE groupBy on the param key (a
    vocabulary-scale dim); exact distinct is per-key bounded by that key's
    own value space — the quantity under measurement, same argument as
    url_templates' distinct-url count."""
    parsed = url_parts(urls if urls is not None
                       else with_synthetic_urls(documents))
    kv = (
        parsed.where(F.col("query_s") != "")
        .select(
            "doc_id",
            F.explode(
                F.split(F.expr("substring(query_s, 2)"), "&")
            ).alias("pair"),
        )
        .select(
            "doc_id",
            F.substring_index("pair", "=", 1).alias("param"),
            F.substring_index("pair", "=", -1).alias("val"),
        )
    )
    return (
        kv.groupBy("param")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.countDistinct("val").cast("long").alias("n_distinct_values"),
        )
        .select(
            "param", "n_urls", "n_distinct_values",
            F.expr("(10000 * n_distinct_values) div n_urls")
            .cast("long").alias("distinct_bp"),
        )
        .withColumn(
            "tracking_suspect",
            (F.col("n_urls") >= min_urls) & (F.col("distinct_bp") >= min_bp),
        )
        .orderBy("param")
    )


def write_cdx(
    documents: DataFrame, out_dir: str, n_shards: int = 4
) -> DataFrame:
    """The CDX WRITE path cdx_authority_index audits: materialize the
    capture index as range-partitioned, internally-sorted parquet shards
    plus the boundary table (Common Crawl's cluster.idx analog — its
    columnar URL index is literally parquet sorted by SURT).

    repartitionByRange(surt) puts each SURT range in ONE shard (lookups
    touch one file; an authority never straddles more shards than its own
    key range) and sortWithinPartitions makes every shard internally
    ordered, so a reader binary-searches the boundary table then scans one
    sorted run — the 10^12-capture lookup story.  This is the ONE global
    sort in the family, and it is the write path's by design (the audit
    rollup deliberately avoids it).

    Returns the boundary table (file, n_rows, min_surt, max_surt) read
    back from the written shards' own footers — non-overlapping ranges
    are asserted in pytest, not assumed."""
    s = surt_key(canonicalize(with_synthetic_urls(documents))).select(
        "surt", "canonical_url", "doc_id")
    (
        s.repartitionByRange(n_shards, F.col("surt"))
        .sortWithinPartitions("surt")
        .write.mode("overwrite").parquet(out_dir)
    )
    spark = documents.sparkSession
    return (
        spark.read.parquet(out_dir)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("surt").alias("min_surt"),
            F.max("surt").alias("max_surt"),
        )
        .orderBy("min_surt")
    )


def cdx_lookup(
    spark, cdx_dir: str, boundaries: DataFrame, authority: str
) -> DataFrame:
    """The CDX READ path: resolve one authority's captures by binary-
    searching the boundary table for the shard(s) whose [min_surt,
    max_surt] range can contain the authority prefix, then scanning ONLY
    those files — at 10^12 captures the boundary table is ~10^5 rows and
    the lookup touches one sorted shard, which is the entire reason
    write_cdx sorts (Common Crawl's cluster.idx -> cdx-NNNNN.gz two-step).

    ``boundaries`` is write_cdx's return (driver-collected here: it is the
    index, small by construction).  Candidate shards are those with
    min_surt <= prefix_hi AND max_surt >= prefix_lo, where the prefix
    bounds are [authority + ')', authority + ')\\xff'] — a shard range
    strictly outside that window cannot hold the authority."""
    lo = authority + ")"
    hi = authority + ")￿"
    files = [
        r["file"] for r in boundaries.collect()
        if r["min_surt"] <= hi and r["max_surt"] >= lo
    ]
    if not files:
        return spark.createDataFrame(
            [], "surt string, canonical_url string, doc_id long")
    return (
        spark.read.parquet(*files)
        .where(F.col("surt").startswith(lo))
        .orderBy("surt")
    )


def cdx_lookup_join(
    spark, cdx_dir: str, boundaries: DataFrame, authorities: DataFrame
) -> DataFrame:
    """Composable CDX lookup (r3 verdict item 5): the same shard pruning
    as cdx_lookup but as a pure DataFrame plan — no driver action — so it
    can sit inside a bigger query and resolve a whole FRAME of authorities
    at once.

    Plan shape: ``authorities`` (column ``authority``) gets its prefix
    window [authority + ')', authority + ')\\xff']; the boundary frame
    (shard-count-sized) range-joins against it to produce the hit
    (file, authority) pairs; the capture scan then broadcast-HASH-joins on
    input_file_name() = file with the prefix window as the residual
    predicate.  Rows of non-hit shards drop at the join with zero shuffle
    of the capture side; at 10^12 captures the broadcast side is
    |shards hit| x |authorities| — index-sized by construction.  The
    driver-collect form stays as the convenience wrapper for one-off
    single-authority reads (its file list prunes the SCAN itself; this
    form is for composition)."""
    auth = authorities.select(
        F.col("authority"),
        F.concat(F.col("authority"), F.lit(")")).alias("_lo"),
        F.concat(F.col("authority"), F.lit(")￿")).alias("_hi"),
    )
    hits = (
        boundaries.alias("b")
        .join(
            F.broadcast(auth),
            (F.col("b.min_surt") <= F.col("_hi"))
            & (F.col("b.max_surt") >= F.col("_lo")),
        )
        .select("file", "authority", "_lo", "_hi")
    )
    caps = spark.read.parquet(cdx_dir).withColumn(
        "_file", F.input_file_name())
    return (
        caps.join(
            F.broadcast(hits),
            (caps["_file"] == hits["file"])
            & caps["surt"].startswith(F.col("_lo")),
        )
        .select("authority", "surt", "canonical_url", "doc_id")
        .orderBy("authority", "surt")
    )


# --- fetcher-lane assignment (frontier partitioning) -------------------------

FETCHER_LANES = 8  # demo lane count; production = fetcher-fleet size


def fetcher_lanes(canon: DataFrame, n_lanes: int = FETCHER_LANES) -> DataFrame:
    """Partition the polite frontier across a fetcher fleet — the Heritrix/
    Nutch frontier rule: a HOST never spans two fetchers (politeness is a
    per-host serial constraint, splitting a host would break the
    crawl-delay schedule), so hosts hash to lanes and the audit is whether
    the hash balances the work.  One row per lane:
    (lane, n_hosts, n_urls, busy_ms, max_host_ms, share_bp) where busy_ms
    is the lane's politeness budget (sum over its hosts of n_urls * delay),
    max_host_ms the slowest single host (the lane's wall-clock lower bound
    — a lane interleaves its hosts, so one megahost dominates), and
    share_bp the lane's integer-bp slice of the fleet-wide budget — the
    imbalance evidence (ideal = 10000/n_lanes).

    Scale: rides robots_filter's schedule (broadcast rules join + per-host
    window), folds per host (keyed groupBy), hashes hosts to lanes with the
    engine-portable md5 hash, folds per lane (n_lanes rows).  The megahost
    skew this audits is exactly what the extraction pipeline's salted
    repartition absorbs downstream."""
    from pdf_parser_spark.functions import portable_hash32

    sched = robots_filter(canon)
    per_host = sched.groupBy("host", "crawl_delay_ms").agg(
        F.count("*").cast("long").alias("n_urls")
    )
    lanes = per_host.select(
        F.pmod(portable_hash32(F.col("host")), F.lit(n_lanes)).alias("lane"),
        "n_urls",
        (F.col("n_urls") * F.col("crawl_delay_ms")).cast("long").alias("host_ms"),
    )
    per_lane = lanes.groupBy("lane").agg(
        F.count("*").cast("long").alias("n_hosts"),
        F.sum("n_urls").cast("long").alias("n_urls"),
        F.sum("host_ms").cast("long").alias("busy_ms"),
        F.max("host_ms").cast("long").alias("max_host_ms"),
    )
    total = per_lane.agg(F.sum("busy_ms").cast("long").alias("t_ms"))
    return (
        per_lane.crossJoin(F.broadcast(total))
        .select(
            "lane", "n_hosts", "n_urls", "busy_ms", "max_host_ms",
            F.expr("CAST((10000 * busy_ms) div greatest(t_ms, 1) AS BIGINT)")
            .alias("share_bp"),
        )
        .orderBy("lane")
    )


ADMISSION_QUOTA = 5  # per-registered-domain cap inside the admission chain


def crawl_admission(
    df: DataFrame,
    blocked: list[str],
    per_domain: int = ADMISSION_QUOTA,
    url_col: str = "url",
) -> DataFrame:
    """(doc_id, host, reg_domain, admitted, first_block) — the whole crawl
    admission gate under ONE verdict per url: blocklist -> trap shape ->
    robots disallow -> per-domain quota, in that fixed order, with
    first_block naming the FIRST stage that rejected (the stage a crawl
    operator must fix or accept to readmit the url — later stages never
    see it, so attributing to all of them would misprice every knob).
    The crawl-side twin of curation's ingest/funnel faces: one hash pins
    the composition, not just the stages.

    Order is the production order: blocklist and trap rules are pure url
    predicates (run first, cost nothing), robots needs the per-host rules
    dim (broadcast), and the quota is a window over SURVIVORS only — a
    blocked url must not consume quota, which is why quota ranks are
    computed on the post-robots stream rather than the raw one.

    Scale: canonicalize + reg-domain are in-scan; blocklist is an isin
    against a tiny broadcast list; trap rules are JVM column expressions;
    robots is one broadcast join on host; the quota window shuffles once
    on reg_domain over survivors.  Everything else is flag arithmetic in
    the same projection."""
    from pyspark.sql import Window

    canon = registered_domain(canonicalize(df, url_col))
    rules = robots_rules(canon)
    path = F.regexp_extract("canonical_url", CANON_PATH_RE, 1)
    flagged = (
        canon.select(
            "doc_id", "host", "reg_domain", F.col(url_col).alias("url"),
            path.alias("path"),
        )
        .join(F.broadcast(rules.select("host", "disallow_prefix")), "host")
        .select(
            "doc_id", "host", "reg_domain",
            F.col("reg_domain").isin(list(blocked)).alias("bl"),
            (_trap_reasons(F.col("url")) != "").alias("trap"),
            (
                F.col("disallow_prefix").isNotNull()
                & F.col("path").startswith(F.col("disallow_prefix"))
            ).alias("rob"),
        )
    )
    surv = F.when(~F.col("bl") & ~F.col("trap") & ~F.col("rob"), F.lit(1))
    w = Window.partitionBy("reg_domain").orderBy("doc_id")
    ranked = flagged.withColumn(
        "qrank",
        F.count(surv).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    first_block = (
        F.when(F.col("bl"), F.lit("blocklist"))
        .when(F.col("trap"), F.lit("trap"))
        .when(F.col("rob"), F.lit("robots"))
        .when(F.col("qrank") > per_domain, F.lit("quota"))
        .otherwise(F.lit(""))
    )
    return (
        ranked.select(
            "doc_id", "host", "reg_domain",
            first_block.alias("first_block"),
        )
        .withColumn("admitted", F.col("first_block") == "")
        .select("doc_id", "host", "reg_domain", "admitted", "first_block")
        .orderBy("doc_id")
    )


def crawl_queue_audit(documents: DataFrame) -> DataFrame:
    """Per-host politeness-queue audit under the ACTUAL arrival process —
    the latency twin of ``fetcher_lanes`` (which prices the saturated
    back-to-back budget ``n * delay`` and ignores when URLs arrive): each
    host's fetch times follow the max-plus recurrence
    ``emit_n = max(arrival_n, emit_{n-1} + delay)`` — the same rule the
    streaming limiter (`streaming/ratelimit.py`) walks statefully — here
    evaluated in one pass via its closed form

        emit_n = delay * n + running_max(arrival_k - delay * k)

    so the batch planner and the streaming enforcer can never disagree
    about the schedule (arrival/delay derivation shared verbatim via
    ``with_arrivals``).  One row per host:

      (host, n_urls, delay_ms, first_arrival_ms, drain_ms, total_wait_ms,
       max_wait_ms, drain_rank)

    ``drain_ms`` is when the host's queue empties (the crawl's tail is
    ``drain_rank = 1``), ``total_wait_ms``/``max_wait_ms`` the
    politeness-induced queueing delay — the report a crawl-capacity review
    reads to decide which hosts need a delay renegotiation or a lane of
    their own.  A ``delay_ms = 0`` host reads all-zero waits (emit =
    arrival), pinned in pytest.

    Scale: one broadcast robots-dim join + ONE per-host window (ordered by
    (arrival_ms, doc_id)) over the corpus, then a keyed groupBy to the
    host dim; ``drain_rank`` is a global window but runs on the ALREADY
    host-dim-sized rollup (~10^7-10^8 rows at crawl scale, never the
    corpus)."""
    from pyspark.sql import Window

    from pdf_parser_spark.streaming.ratelimit import with_arrivals

    arr = with_arrivals(documents)
    w = Window.partitionBy("host").orderBy("arrival_ms", "doc_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sched = (
        arr.withColumn("n", F.row_number().over(w).cast("long"))
        .withColumn(
            "emit_ms",
            (
                F.col("delay_ms") * F.col("n")
                + F.max(F.col("arrival_ms") - F.col("delay_ms") * F.col("n"))
                .over(wcum)
            ).cast("long"),
        )
    )
    per_host = sched.groupBy("host", "delay_ms").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.min("arrival_ms").cast("long").alias("first_arrival_ms"),
        F.max("emit_ms").cast("long").alias("drain_ms"),
        F.sum(F.col("emit_ms") - F.col("arrival_ms"))
        .cast("long").alias("total_wait_ms"),
        F.max(F.col("emit_ms") - F.col("arrival_ms"))
        .cast("long").alias("max_wait_ms"),
    )
    rank = Window.orderBy(F.col("drain_ms").desc(), F.col("host"))
    return (
        per_host.select(
            "host", "n_urls", "delay_ms", "first_arrival_ms", "drain_ms",
            "total_wait_ms", "max_wait_ms",
            F.row_number().over(rank).cast("long").alias("drain_rank"),
        )
        .orderBy("host")
    )


# ---------------------------------------------------------------------------
# rel=canonical clusters
# ---------------------------------------------------------------------------

# canonical-chain synthesis: doc_id % CANONICAL_CHAIN_MOD == 0 pages declare
# SELF-canonical (the best-practice terminal); every other page declares the
# next id down, so variant chains (print view -> paginated -> base) run up
# to MOD-1 hops and every cluster is a doc_id run of MOD consecutive ids.
CANONICAL_CHAIN_MOD = 4


def _canon_page_url(d):
    return F.concat(
        F.lit("https://site"), d % 7, F.lit(".example.org/item/"), d
    )


def with_synthetic_canonical_html(documents: DataFrame) -> DataFrame:
    """html column carrying a real ``<link rel="canonical" href=...>``
    element per the chain formula above (terminals self-canonical, the
    standard recommendation), so the oracle re-derives every cluster."""
    d = F.col("doc_id")
    target = F.when(
        d % CANONICAL_CHAIN_MOD == 0, _canon_page_url(d)
    ).otherwise(_canon_page_url(d - 1))
    html = F.concat(
        F.lit('<html><head><link rel="canonical" href="'), target,
        F.lit('"></head><body><p>'), F.substring(F.col("text"), 1, 40),
        F.lit("</p></body></html>"),
    )
    return documents.withColumn("url", _canon_page_url(d)) \
                    .withColumn("html", html)


def rel_canonical_clusters(pages: DataFrame) -> DataFrame:
    """(doc_id, url, canonical_url, n_in_cluster, is_canonical) — honor
    the on-page ``rel=canonical`` declaration, the second alias channel
    next to HTTP redirects (print views, paginated variants, tracking-url
    mirrors all declare a canonical; a crawl that ignores it indexes and
    dedups every variant separately).  Declarations CHAIN in the wild
    (variant -> paginated base -> clean base), so resolution reuses
    resolve_redirects' pointer-doubling verbatim — O(log L) shuffles for
    L-hop chains, cycle-safe — on edges extracted from the html with one
    JVM regexp (self-declarations drop out as terminals; an absent or
    self link makes the page its own canonical, per the spec's advisory
    semantics).

    Scale: extraction is a narrow scan projection; the resolver is the
    shared log-round join; the cluster size is one window on the
    canonical key.  Same shape as canonical_url_groups, different alias
    channel — run both and chain them for the full variant story."""
    from pyspark.sql import Window

    decl = F.regexp_extract(
        "html", r'<link rel="canonical" href="([^"]*)"', 1
    )
    base = pages.select(
        "doc_id", "url", F.nullif(decl, F.lit("")).alias("decl")
    )
    edges = (
        base.where(F.col("decl").isNotNull()
                   & (F.col("decl") != F.col("url")))
        .select(F.col("url").alias("src"), F.col("decl").alias("dst"))
    )
    resolved = resolve_redirects(edges)
    out = (
        base.join(resolved.select("url", "final_url"), "url", "left")
        .select(
            "doc_id", "url",
            F.coalesce("final_url", "url").alias("canonical_url"),
        )
        .withColumn(
            "n_in_cluster",
            F.count("*").over(
                Window.partitionBy("canonical_url")
            ).cast("long"),
        )
        .withColumn("is_canonical", F.col("canonical_url") == F.col("url"))
    )
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# Soft-404 detection: 200-status pages that are really error pages.
# Bar-Yossef/Broder/Kumar/Tomkins, "Sic Transit Gloria Telae" (WWW 2004)
# introduced the probe technique: fetch a known-junk URL per host, learn the
# host's error TEMPLATE, and flag any 200 page matching it.  The batch
# analog over a crawl log needs no extra fetches — the hard 404s the crawl
# already recorded ARE the probe responses.
# ---------------------------------------------------------------------------

SOFT404_LEN_TOL = 8         # bytes: |content_len - template_len| within this
                            # matches the host's error template (templates
                            # vary by the echoed URL only)
# RE2/Java/DuckDB-common error phrasing; anchored to phrases, not bare
# digits, so a product page titled "Model 404" needs the full phrase
SOFT404_TITLE_RE = r"(?i)(page not found|not found|does not exist|error 404)"
HARD_404_STATUSES = (404, 410)


def with_fetch_log(documents: DataFrame) -> DataFrame:
    """Synthesis: a crawl fetch log (doc_id, url, host, status, title,
    content_len) over 10 hosts.  doc_id picks the flavor — %13 hard 404,
    %17 hard 410 (both with the host's error-template length 400+7*h plus
    0..2 jitter), %11 soft 404 (status 200 at template length; every
    second one also titled like an error), %23 error-titled but
    normal-length (title rule only), else a clean page at length >= 2000,
    far above any template band.  All arithmetic re-derivable in SQL."""
    d = F.col("doc_id")
    h = d % 10
    host = F.concat(F.lit("site"), h, F.lit(".example.com"))
    tmpl = F.lit(400) + h * 7
    status = (
        F.when(d % 13 == 0, 404)
        .when(d % 17 == 0, 410)
        .otherwise(200)
    ).cast("int")
    is_hard = (d % 13 == 0) | (d % 17 == 0)
    is_soft = ~is_hard & (d % 11 == 0)
    title = (
        F.when(is_hard, F.concat(F.lit("404 Not Found - site"), h))
        .when(is_soft & (d % 22 == 0), F.lit("Oops! Page Not Found"))
        .when(~is_hard & ~is_soft & (d % 23 == 0),
              F.concat(F.lit("Error 404 - doc "), d))
        .otherwise(F.concat(F.lit("Doc "), d))
    )
    content_len = (
        F.when(is_hard, tmpl + d % 3)
        .when(is_soft, tmpl + d % 5)
        .otherwise(F.lit(2000) + (d * 37) % 1500)
    ).cast("long")
    return documents.select(
        "doc_id",
        F.concat(F.lit("https://"), host, F.lit("/docs/"), d).alias("url"),
        host.alias("host"), status.alias("status"),
        title.alias("title"), content_len.alias("content_len"),
    )


def soft404_audit(fetchlog: DataFrame) -> DataFrame:
    """(doc_id, url, host, status, content_len, template_len,
    soft404_reasons, is_soft404) for every 200-status fetch — flag pages
    that LOOK alive but are error pages wearing a 200:

    - ``error_title``: the page title matches common error phrasing
      (SOFT404_TITLE_RE — phrase-anchored so "Model 404" product pages
      survive).
    - ``template_len``: the host's hard 404/410 responses define its error
      template's length profile (MIN over hard-error content_len — the
      deterministic end of the template band); a 200 page within
      SOFT404_LEN_TOL bytes of it is serving that template.  Hosts with NO
      recorded hard errors never length-flag (the never-skip analog: no
      probe, no verdict) — the Bar-Yossef probe trick with the crawl's own
      404s as the free probes.

    Scale: the template profile is one map-side-combined MIN groupBy on
    host — a dim bounded by host count, broadcast back onto the 200-status
    stream; the title rule is one JVM regexp in the scan.  Zero Python,
    one broadcast join, no corpus-ordered shuffle; at 10^12 fetches this
    rides the crawl log scan the status rollup already pays.

    Soft 404s feed straight into the dedup/extraction gate: an error page
    extracted as 'content' poisons boilerplate stats AND near-dup clusters
    (every soft 404 on a host is near-identical), so this audit runs
    before extraction in the corpus pipeline."""
    from pyspark.sql.functions import broadcast

    tmpl = (
        fetchlog.where(F.col("status").isin(*HARD_404_STATUSES))
        .groupBy("host")
        .agg(F.min("content_len").alias("template_len"))
    )
    live = fetchlog.where(F.col("status") == 200)
    joined = live.join(broadcast(tmpl), "host", "left")
    near_tmpl = (
        F.col("template_len").isNotNull()
        & (F.abs(F.col("content_len") - F.col("template_len"))
           <= SOFT404_LEN_TOL)
    )
    title_hit = F.col("title").rlike(SOFT404_TITLE_RE)
    reasons = F.concat_ws(
        ";",
        F.when(title_hit, F.lit("error_title")),
        F.when(near_tmpl, F.lit("template_len")),
    )
    return joined.select(
        "doc_id", "url", "host", "status", "content_len",
        F.col("template_len").cast("long").alias("template_len"),
        reasons.alias("soft404_reasons"),
        (reasons != "").alias("is_soft404"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Typosquat / homoglyph domain audit.  Blocking is FastSS 1-deletion
# neighborhoods (Bocek/Hunt/Stiller 2007, "Fast Similarity Search in Large
# Dictionaries"): two strings at edit distance 1 — and equal-length
# adjacent transpositions — always share a member of each other's
# 1-deletion neighborhood, so a postings join on the O(L)-per-string
# variant lists finds every such pair with ZERO all-pairs work.
# Homoglyph lookalikes (rn ~ m) have edit distance 2 at a length delta of
# 1 and do NOT share a deletion variant, so they get their own channel:
# equality on a skeleton-normalized form, the ASCII analog of Unicode
# UTS #39 confusable detection.
# ---------------------------------------------------------------------------

TYPO_DEFENDED_N = 20        # top-N slds by doc count form the defended set
TYPO_MAX_LEV = 2            # exact verify bound for deletion-channel pairs
TYPO_SKELETON = ("rn", "m")  # fold 'rn' -> 'm', the classic confusable


def with_brand_domains(documents: DataFrame) -> DataFrame:
    """Synthesis: (doc_id, domain) — brand = source || 'mart', domain =
    sld || '.com'.  doc_id%9==5 docs register a MUTATED sld instead, kind
    by doc_id%4: 0 omission (2nd char dropped), 1 doubling (2nd char
    doubled), 2 adjacent transposition (chars 2,3 swapped), 3 homoglyph
    ('m' -> 'rn').  Everything re-derivable in SQL."""
    d = F.col("doc_id")
    b = F.concat(F.col("source"), F.lit("mart"))
    big = F.length(b) + 10
    mut = (
        F.when(d % 4 == 0, F.concat(b.substr(F.lit(1), F.lit(1)),
                                    b.substr(F.lit(3), big)))
        .when(d % 4 == 1, F.concat(b.substr(F.lit(1), F.lit(2)),
                                   b.substr(F.lit(2), big)))
        .when(d % 4 == 2, F.concat(b.substr(F.lit(1), F.lit(1)),
                                   b.substr(F.lit(3), F.lit(1)),
                                   b.substr(F.lit(2), F.lit(1)),
                                   b.substr(F.lit(4), big)))
        .otherwise(F.replace(b, F.lit(TYPO_SKELETON[1]),
                             F.lit(TYPO_SKELETON[0])))
    )
    sld = F.when(d % 9 == 5, mut).otherwise(b)
    return documents.select(
        "doc_id", F.concat(sld, F.lit(".com")).alias("domain")
    )


def _deletion_postings(frame: DataFrame, sld_col: str) -> DataFrame:
    """(variant, sld): every 1-deletion variant of sld plus sld itself —
    the FastSS posting list, O(len) rows per string."""
    c = F.col(sld_col)
    big = F.length(c) + 10
    variants = F.array_union(
        F.transform(
            F.sequence(F.lit(1), F.length(c)),
            lambda i: F.concat(c.substr(F.lit(1), i - 1),
                               c.substr(i + 1, big)),
        ),
        F.array(c),
    )
    return frame.select(
        F.explode(variants).alias("variant"), c.alias("sld")
    )


def typosquat_audit(
    df: DataFrame, domain_col: str = "domain", top_n: int = TYPO_DEFENDED_N
) -> DataFrame:
    """(candidate_sld, defended_sld, lev, len_delta, is_homoglyph,
    n_docs) — lookalike-domain pairs between the corpus's DEFENDED set
    (top-N second-level names by doc count, ties broken by name — the
    brands worth squatting) and every other registered name:

    - deletion channel: FastSS 1-deletion postings join (catches
      omission, addition, substitution, adjacent transposition — every
      classic typo class; Moore & Edelman, FC 2010 measured exactly these
      four dominating real squat registrations), verified with exact
      ``levenshtein`` <= TYPO_MAX_LEV (a shared variant already implies
      lev <= 2, so the verify is a guard, not a filter).
    - homoglyph channel: skeleton-normalization equality ('rn' folded to
      'm' — UTS #39 confusable skeletons in ASCII), which deletion
      blocking CANNOT see (lev 2 at length delta 1 shares no variant).

    Scale: postings are O(L) rows per name over the sld DIM (distinct
    names, not the url stream); the defended side is top-N — tiny — so
    both channels are broadcast joins against linear candidate postings.
    Never all-pairs; the sld dim itself comes from one groupBy the domain
    rollup already pays."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    sld = F.regexp_extract(F.col(domain_col), r"^([^.]+)\.", 1)
    counts = (
        df.select(sld.alias("sld"))
        .groupBy("sld").agg(F.count("*").cast("long").alias("n_docs"))
    )
    rk = F.row_number().over(
        Window.orderBy(F.col("n_docs").desc(), F.col("sld"))
    )
    defended = (
        counts.withColumn("rk", rk).where(F.col("rk") <= top_n)
        .select(F.col("sld").alias("defended_sld"))
    )
    cands = (
        counts.join(defended, counts.sld == defended.defended_sld,
                    "left_anti")
        .select(F.col("sld").alias("candidate_sld"), "n_docs")
    )
    # channel A: FastSS deletion-neighborhood postings
    def_post = _deletion_postings(
        defended.select(F.col("defended_sld").alias("s")), "s"
    ).withColumnRenamed("sld", "defended_sld")
    cand_post = _deletion_postings(
        cands.select(F.col("candidate_sld").alias("s")), "s"
    ).withColumnRenamed("sld", "candidate_sld")
    pairs_a = (
        cand_post.join(broadcast(def_post), "variant")
        .select("candidate_sld", "defended_sld").distinct()
    )
    # channel B: skeleton equality
    fold_from, fold_to = TYPO_SKELETON
    def_skel = defended.select(
        "defended_sld",
        F.replace(F.col("defended_sld"), F.lit(fold_from),
                  F.lit(fold_to)).alias("skel"),
    )
    cand_skel = cands.select(
        "candidate_sld",
        F.replace(F.col("candidate_sld"), F.lit(fold_from),
                  F.lit(fold_to)).alias("skel"),
    )
    pairs_b = (
        cand_skel.join(broadcast(def_skel), "skel")
        .select("candidate_sld", "defended_sld")
    )
    pairs = pairs_a.unionByName(pairs_b).distinct()
    lev = F.levenshtein("candidate_sld", "defended_sld")
    skel_eq = (
        F.replace(F.col("candidate_sld"), F.lit(fold_from), F.lit(fold_to))
        == F.replace(F.col("defended_sld"), F.lit(fold_from), F.lit(fold_to))
    )
    out = (
        pairs.withColumn("lev", lev.cast("long"))
        .withColumn(
            "len_delta",
            (F.length("candidate_sld")
             - F.length("defended_sld")).cast("long"),
        )
        .withColumn("is_homoglyph", skel_eq)
        .where((F.col("lev") <= TYPO_MAX_LEV) | F.col("is_homoglyph"))
        .join(cands, "candidate_sld")
    )
    return out.select(
        "candidate_sld", "defended_sld", "lev", "len_delta",
        "is_homoglyph", "n_docs",
    ).orderBy("candidate_sld", "defended_sld")


# ---------------------------------------------------------------------------
# Sitemap INDEX files (sitemaps.org protocol §Index): a sitemap may be an
# index of child sitemaps instead of a urlset — large sites shard their
# 50k-url-capped sitemaps this way, so a crawler that only speaks urlset
# silently sees none of their urls.
# ---------------------------------------------------------------------------

SITEMAP_CHILDREN = 2   # child sitemaps per index in the synthesis


def with_sitemap_index(hosts: DataFrame) -> DataFrame:
    """(host, sitemap_xml) where hosts with even length serve a
    sitemapindex of SITEMAP_CHILDREN child locs and odd-length hosts
    serve a plain urlset (with_sitemaps' formula) — the mixed fleet a
    real crawl sees."""
    n = F.length("host")
    children = F.transform(
        F.sequence(F.lit(0), F.lit(SITEMAP_CHILDREN - 1)),
        lambda i: F.concat(
            F.lit("<sitemap><loc>https://"), F.col("host"),
            F.lit("/sitemap-"), i, F.lit(".xml</loc></sitemap>"),
        ),
    )
    index_xml = F.concat(
        F.lit('<?xml version="1.0"?><sitemapindex>'),
        F.concat_ws("", children),
        F.lit("</sitemapindex>"),
    )
    plain = with_sitemaps(hosts).select("host", "sitemap_xml")
    return plain.withColumn(
        "sitemap_xml",
        F.when(F.length("host") % 2 == 0, index_xml)
        .otherwise(F.col("sitemap_xml")),
    )


def with_child_sitemap(children: DataFrame) -> DataFrame:
    """(host, child_url, sitemap_xml) — deterministic urlset per CHILD
    sitemap: (len(host) + child ordinal) % 3 + 1 urls, loc/lastmod
    formula-derived so the oracle re-derives every child fetch."""
    ordv = F.regexp_extract("child_url", r"sitemap-([0-9]+)\.xml", 1) \
        .cast("long")
    k = (F.length("host") + ordv) % 3 + 1
    entries = F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.concat(
            F.lit("<url><loc>https://"), F.col("host"),
            F.lit("/s"), ordv, F.lit("/p"), i,
            F.lit("</loc><lastmod>2024-0"), (i + ordv) % 9 + 1,
            F.lit("-15</lastmod></url>"),
        ),
    )
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'),
        F.concat_ws("", entries),
        F.lit("</urlset>"),
    )
    return children.withColumn("sitemap_xml", xml)


def parse_sitemap_index(sitemaps: DataFrame) -> DataFrame:
    """(host, child_url) for index-format sitemaps; urlset-format rows
    contribute nothing here (their <loc>s are page urls, not sitemaps —
    the <sitemap> wrapper tag is the discriminator, one JVM regexp)."""
    kids = F.regexp_extract_all(
        "sitemap_xml",
        F.lit(r"<sitemap><loc>([^<]*)</loc></sitemap>"), F.lit(1),
    )
    return (
        sitemaps.select("host", F.explode(kids).alias("child_url"))
    )


def sitemap_expand(sitemaps: DataFrame) -> DataFrame:
    """(host, loc, lastmod, recrawl_rank) across a MIXED sitemap fleet:
    urlset rows parse directly; sitemapindex rows expand to their child
    sitemaps (fetched here via the deterministic with_child_sitemap
    synthesis — in production this join is the fetcher), whose urlsets
    parse through the SAME parse_sitemap path, and the per-host recrawl
    rank is computed once over the union so a host's priorities are
    global across its shards, not per-shard.

    Scale: the index expansion multiplies the host-count-sized sitemap
    dim by shard count — still a dim; the explode to page urls remains
    the only real fan-out, exactly as in parse_sitemap.  One rank window
    per host over the unioned urls; no corpus-sized shuffle anywhere."""
    from pyspark.sql import Window

    is_index = F.col("sitemap_xml").contains("<sitemapindex>")
    plain = sitemaps.where(~is_index)
    children = parse_sitemap_index(sitemaps.where(is_index))
    child_bodies = with_child_sitemap(children).select("host", "sitemap_xml")
    locs = F.regexp_extract_all(
        "sitemap_xml", F.lit(r"<loc>([^<]*)</loc>"), F.lit(1)
    )
    mods = F.regexp_extract_all(
        "sitemap_xml", F.lit(r"<lastmod>([^<]*)</lastmod>"), F.lit(1)
    )
    allmaps = plain.select("host", "sitemap_xml").unionByName(child_bodies)
    pairs = (
        allmaps.select("host", locs.alias("locs"), mods.alias("mods"))
        .select("host", F.explode(F.arrays_zip("locs", "mods")).alias("e"))
        .select("host", F.col("e.locs").alias("loc"),
                F.col("e.mods").alias("lastmod"))
    )
    w = Window.partitionBy("host").orderBy(F.col("lastmod").desc(), "loc")
    return pairs.withColumn(
        "recrawl_rank", F.row_number().over(w).cast("long")
    ).orderBy("host", "recrawl_rank")


# ---------------------------------------------------------------------------
# HTTP caching headers -> revalidation policy (RFC 9111): what a polite
# recrawler derives per url BEFORE scheduling — complementary to
# recrawl_schedule's lastmod-change model, which predicts WHEN content
# changes; this parses what the server PROMISES about staleness.
# ---------------------------------------------------------------------------

HTTP_HEURISTIC_TTL_S = 86400   # RFC 9111 §4.2.2 heuristic freshness


def with_http_headers(documents: DataFrame) -> DataFrame:
    """(doc_id, url, headers): deterministic response-header blocks —
    doc_id%5 picks the caching flavor (max-age / no-store / ETag /
    Last-Modified / none), %7==0 ALSO carries private (crawlers are
    shared caches: private wins over max-age).  Re-derivable in SQL."""
    d = F.col("doc_id")
    cache = (
        F.when(d % 5 == 0, F.concat(
            F.lit("Cache-Control: max-age="), (d % 10 + 1) * 600))
        .when(d % 5 == 1, F.lit("Cache-Control: no-store"))
        .when(d % 5 == 2, F.concat(
            F.lit('ETag: "h'), F.md5(d.cast("string")), F.lit('"')))
        .when(d % 5 == 3, F.concat(
            F.lit("Last-Modified: 2024-01-"),
            F.lpad((d % 28 + 1).cast("string"), 2, "0"),
            F.lit(" 00:00:00 GMT")))
        .otherwise(F.lit("X-Nothing: 1"))
    )
    private = F.when(d % 7 == 0, F.lit("\nCache-Control: private")) \
        .otherwise(F.lit(""))
    headers = F.concat(
        F.lit("HTTP/1.1 200 OK\nContent-Type: text/html\n"),
        cache, private,
    )
    return documents.select(
        "doc_id",
        F.concat(F.lit("https://site"), d % 10,
                 F.lit(".example.com/docs/"), d).alias("url"),
        headers.alias("headers"),
    )


def http_cache_policy(responses: DataFrame) -> DataFrame:
    """(doc_id, url, policy, ttl_s, validator) — the RFC 9111 decision
    ladder, precedence stated and enforced in ORDER:

    1. ``no-store``            -> policy 'refetch'  (never cache)
    2. ``private``             -> policy 'refetch'  (a crawler is a
       SHARED cache — private responses are uncacheable for it even
       when max-age is also present, RFC 9111 §5.2.2.7)
    3. ``max-age=N``           -> policy 'ttl', ttl_s = N
    4. ``ETag``                -> policy 'revalidate', validator
       'if-none-match' (a 304 costs headers, not the body)
    5. ``Last-Modified``       -> policy 'revalidate', 'if-modified-since'
    6. nothing                 -> policy 'heuristic', the §4.2.2 default

    One scan of JVM regexps over the header dim; ttl_s is -1 where not
    applicable (the nullable-int doctrine).  Feeds domain_quota /
    recrawl_schedule: 'ttl' urls leave the frontier until expiry,
    'revalidate' urls re-enter as cheap conditional GETs."""
    h = F.col("headers")
    no_store = h.rlike(r"(?i)cache-control:[^\n]*no-store")
    private = h.rlike(r"(?i)cache-control:[^\n]*private")
    max_age = F.nullif(
        F.regexp_extract(h, r"(?i)cache-control:[^\n]*max-age=([0-9]+)", 1),
        F.lit(""),
    ).cast("long")
    etag = h.rlike(r"(?i)(?m)^etag:")
    lastmod = h.rlike(r"(?i)(?m)^last-modified:")
    policy = (
        F.when(no_store | private, "refetch")
        .when(max_age.isNotNull(), "ttl")
        .when(etag | lastmod, "revalidate")
        .otherwise("heuristic")
    )
    ttl = (
        F.when(no_store | private, F.lit(-1))
        .when(max_age.isNotNull(), max_age)
        .when(etag | lastmod, F.lit(-1))
        .otherwise(F.lit(HTTP_HEURISTIC_TTL_S))
    ).cast("long")
    validator = (
        F.when(no_store | private | max_age.isNotNull(), "")
        .when(etag, "if-none-match")
        .when(lastmod, "if-modified-since")
        .otherwise("")
    )
    return responses.select(
        "doc_id", "url", policy.alias("policy"), ttl.alias("ttl_s"),
        validator.alias("validator"),
    ).orderBy("doc_id")


def recrawl_decision(documents: DataFrame) -> DataFrame:
    """(doc_id, url, action, validator) — the composed recrawl verdict,
    one decision ladder over three of this module's stages on the same
    url universe: dead pages out first (hard 404/410, then soft-404s by
    the Bar-Yossef rules — refetching an error page wearing a 200 wastes
    budget forever), then the RFC 9111 policy ladder routes survivors —
    'refetch' (no-store/private), 'skip_fresh' (inside a max-age TTL),
    'conditional_get' (ETag/Last-Modified — a 304 costs headers, not the
    body), 'refetch_heuristic' (no server promise).

    The composition IS the correctness artifact (the ingest-pipeline
    doctrine): each stage is separately oracle-checked, and this face
    re-verifies their interaction under ONE hash — a precedence slip
    between stages (e.g. honoring max-age on a soft-404) mismatches even
    though every stage is individually green.

    Scale: both stage outputs are keyed by doc_id/url; the composition
    adds two keyed joins, no new corpus-ordered shuffle, and inherits
    the broadcast host-template dim from soft404_audit."""
    log = with_fetch_log(documents)
    s404 = soft404_audit(log).select("doc_id", "is_soft404")
    pol = http_cache_policy(with_http_headers(documents)) \
        .select("doc_id", "policy", F.col("validator").alias("val"))
    base = log.select("doc_id", "url", "status")
    j = (
        base.join(s404, "doc_id", "left")
        .join(pol, "doc_id")
    )
    action = (
        F.when(F.col("status").isin(*HARD_404_STATUSES),
               "drop_hard_error")
        .when(F.coalesce("is_soft404", F.lit(False)), "drop_soft404")
        .when(F.col("policy") == "refetch", "refetch")
        .when(F.col("policy") == "ttl", "skip_fresh")
        .when(F.col("policy") == "revalidate", "conditional_get")
        .otherwise("refetch_heuristic")
    )
    validator = F.when(
        action == F.lit("conditional_get"), F.col("val")
    ).otherwise(F.lit(""))
    return j.select(
        "doc_id", "url", action.alias("action"),
        validator.alias("validator"),
    ).orderBy("doc_id")


def with_dot_urls(documents: DataFrame) -> DataFrame:
    """Synthesis: traversal-style url paths by doc_id%6 — ./ noise,
    one-level .., leading .. (must clamp at root), a two-level pop
    chain, a trailing /., and a clean control.  Re-derivable in SQL."""
    d = F.col("doc_id")
    base = F.concat(F.lit("https://site"), d % 10, F.lit(".example.com"))
    path = (
        F.when(d % 6 == 0, F.concat(F.lit("/a/./b/"), d))
        .when(d % 6 == 1, F.concat(F.lit("/a/b/../c/"), d))
        .when(d % 6 == 2, F.concat(F.lit("/../x/"), d))
        .when(d % 6 == 3, F.concat(F.lit("/a/b/c/../../d/"), d))
        .when(d % 6 == 4, F.lit("/a/b/."))
        .otherwise(F.concat(F.lit("/docs/"), d))
    )
    return documents.select("doc_id", F.concat(base, path).alias("url"))


def remove_dot_segments(df: DataFrame, url_col: str = "url") -> DataFrame:
    """(doc_id, url, clean_path) — RFC 3986 §5.2.4 dot-segment removal,
    the canonicalization step `canonicalize` deliberately leaves to this
    op: '/a/./b' and '/a/x/../b' are the SAME resource as '/a/b', and a
    crawler that treats them as distinct urls dedups, budgets, and
    rate-limits the same page three times (path-traversal-looking urls
    are also a standard trap/evasion shape — the cleaned path is what
    belongs in the frontier key).

    The removal is ONE string fold over the path segments — identical in
    both engines (Spark `aggregate`, DuckDB `list_reduce` over a
    ''-seeded list): '.' keeps the accumulator, '..' strips its last
    '/segment' (clamping at root, per the RFC's 'if the buffer is empty,
    do nothing'), anything else appends.  Directory-ness survives: a
    path ending in '/', '/.' or '/..' keeps a trailing slash.  All JVM,
    one scan projection."""
    u = F.col(url_col)
    path = F.regexp_extract(u, URL_RE, 4)
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    folded = F.aggregate(
        segs, F.lit(""),
        lambda acc, x: (
            F.when(x == ".", acc)
            .when(x == "..", F.regexp_replace(acc, "/[^/]*$", ""))
            .otherwise(F.concat(acc, F.lit("/"), x))
        ),
    )
    ends_dir = path.rlike(r"(/|/\.|/\.\.)$")
    clean = (
        F.when(folded == "", F.lit("/"))
        .when(ends_dir, F.concat(folded, F.lit("/")))
        .otherwise(folded)
    )
    return df.select(
        "doc_id", u.alias("url"), clean.alias("clean_path")
    ).orderBy("doc_id")


def template_dup_rates(df: DataFrame, url_col: str = "url") -> DataFrame:
    """(host, template, n_urls, n_distinct_fp, dup_bp) — WHICH url
    templates produce duplicate content: the join of template mining and
    exact dedup that turns two per-url signals into a per-template
    crawl-budget verdict (a /cal/{d}/{d}/{d} template whose thousand
    urls carry six distinct fingerprints is a generated space serving
    one page — cap the TEMPLATE, not the urls one by one).  dup_bp =
    10000 * (n_urls - n_distinct_fp) div n_urls, exact integers.

    Scale: the same two JVM regexp_replaces as url_templates in the
    scan, fingerprints ride the same projection, one groupBy on (host,
    template) with an exact distinct — the shuffle IS the question being
    asked (how many distinct payloads per template)."""
    u = F.col(url_col)
    host = F.regexp_extract(u, URL_RE, 2)
    pq = F.concat(
        F.regexp_extract(u, URL_RE, 4), F.regexp_extract(u, URL_RE, 5)
    )
    tpl = F.regexp_replace(
        F.regexp_replace(pq, TEMPLATE_HEX_RE, "{h}"),
        TEMPLATE_DIGIT_RE, "{d}",
    )
    return (
        df.select(
            host.alias("host"), tpl.alias("template"),
            F.md5("text").alias("fp"),
        )
        .groupBy("host", "template")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.countDistinct("fp").cast("long").alias("n_distinct_fp"),
        )
        .select(
            "host", "template", "n_urls", "n_distinct_fp",
            F.expr("10000 * (n_urls - n_distinct_fp) div n_urls")
            .cast("long").alias("dup_bp"),
        )
        .orderBy("host", "template")
    )
