"""Sitemap discovery (sitemaps.org protocol, the subset real crawlers use).

The reference crawler seeds each museum connector from hand-written search
URLs (vam.js:10-14 and the other connector configs) and never reads
``/sitemap.xml``; sitemap discovery is part of the generalized frontier
this engine adds. Shape mirrors the live robots acquisition
(``operators/robots.py:robots_wave``): ONE bounded fetch wave per host
through the same live fetch stage the crawl uses, plus one bounded child
wave for ``<sitemapindex>`` files — no unbounded recursion, no driver-side
loops; parsing is pure JVM regexp over the XML subset the protocol
actually exercises (``<url>``/``<sitemap>`` blocks with ``<loc>``,
``<lastmod>``, ``<priority>`` children).

Scale shape: entries explode per fetched sitemap (one codegen
``regexp_extract_all`` + ``transform``), the per-host child cap and the
per-host ordering ranks are key-partitioned windows (never a global
funnel), and discovered URLs enter the frontier through the same
``add_candidates`` dedup as extracted links — a sitemap URL already seen
or already queued costs one anti-join row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crawler_spark.operators.frontier import frontier_rows

# (?s) dotall + lazy body: both Java regex (Spark) and the tests' replay
# tooling accept it; [^>]* tolerates attributes on the opening tag
_URL_BLOCK = r"(?s)<url[\s>](.*?)</url>"
_CHILD_BLOCK = r"(?s)<sitemap[\s>](.*?)</sitemap>"
_LOC = r"(?s)<loc[^>]*>\s*(.*?)\s*</loc>"
_LASTMOD = r"(?s)<lastmod[^>]*>\s*(.*?)\s*</lastmod>"
_PRIORITY = r"(?s)<priority[^>]*>\s*(.*?)\s*</priority>"

# protocol default when <priority> is absent (sitemaps.org §XML tag defs)
DEFAULT_PRIORITY = 0.5


def _xml_unescape(c: Column) -> Column:
    """The five XML predefined entities — the only escaping <loc> needs
    (sitemaps.org requires entity-escaped URLs). &amp; must be LAST."""
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&apos;", "'"),
        ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def _entry(block: Column, kind: str) -> Column:
    prio = F.regexp_extract(block, _PRIORITY, 1)
    return F.struct(
        F.lit(kind).alias("kind"),
        _xml_unescape(F.regexp_extract(block, _LOC, 1)).alias("loc"),
        F.nullif(F.regexp_extract(block, _LASTMOD, 1), F.lit("")).alias(
            "lastmod"
        ),
        F.coalesce(
            F.when(prio != "", prio).try_cast("double"),
            F.lit(DEFAULT_PRIORITY),
        ).alias("priority"),
    )


def parse_sitemap_entries(
    df: DataFrame, xml_col: str = "body", src_col: str = "url"
) -> DataFrame:
    """(src, kind, loc, lastmod, priority) — one row per ``<url>`` entry
    (kind='url') or ``<sitemapindex>`` child (kind='sitemap'). Entries with
    an empty/missing ``<loc>`` are dropped; ``priority`` defaults to 0.5
    per the protocol; ``lastmod`` stays the raw W3C-datetime string (null
    when absent) — parse downstream only if a policy needs it."""
    xml = F.col(xml_col).cast("string")
    entries = F.concat(
        F.transform(
            F.regexp_extract_all(xml, F.lit(_URL_BLOCK), 1),
            lambda b: _entry(b, "url"),
        ),
        F.transform(
            F.regexp_extract_all(xml, F.lit(_CHILD_BLOCK), 1),
            lambda b: _entry(b, "sitemap"),
        ),
    )
    return (
        df.select(F.col(src_col).alias("src"), F.explode(entries).alias("e"))
        .select("src", "e.kind", "e.loc", "e.lastmod", "e.priority")
        .where(F.col("loc") != "")
    )


# robots.txt `Sitemap:` directive — file-global per the sitemaps protocol
# (any position, not group-scoped), absolute URL required by the spec
_ROBOTS_SITEMAP = r"(?im)^[ \t]*sitemap:[ \t]*([^\s]+)"


def sitemap_wave(
    host_urls: DataFrame,
    timeout_s: float = 20.0,
    user_agent: str = "crawler-spark/0.1",
    max_children_per_host: int = 8,
) -> DataFrame:
    """Live sitemap discovery. Roots per host come from the host's
    robots.txt ``Sitemap:`` directives (the protocol's discovery channel,
    capped at ``max_children_per_host`` per host); hosts that declare none
    fall back to ``<scheme>://<netloc>/sitemap.xml``. Roots are fetched
    and parsed, then ONE bounded child wave covers ``<sitemapindex>``
    children (deeper nesting is ignored — the protocol allows one index
    level). Returns ``(host, url, lastmod, priority)``, deduped per
    (host, url).

    Unreachable or non-200 hosts simply contribute no rows — unlike
    robots.txt's politeness rules, a missing sitemap carries no
    obligation (the crawl just proceeds from its seeds)."""
    from crawler_spark.operators.fetch import live_fetch

    origin = F.regexp_extract("url", r"^([a-z][a-z0-9+.\-]*://[^/]+)", 1)
    base = host_urls.select(origin.alias("origin"), "host")

    # discovery hop: each host's robots.txt, mined for Sitemap: lines
    rob = live_fetch(
        base.select(
            F.concat("origin", F.lit("/robots.txt")).alias("url"),
            "host",
            F.lit(0).alias("attempts"),
        ),
        timeout_s=timeout_s,
        user_agent=user_agent,
    )
    declared = rob.where(F.col("status") == 200).select(
        "host",
        F.explode(
            F.regexp_extract_all(
                F.col("body").cast("string"), F.lit(_ROBOTS_SITEMAP), 1
            )
        ).alias("url"),
    )
    w_decl = Window.partitionBy("host").orderBy(F.col("url").asc())
    declared = (
        declared.withColumn("__rn", F.row_number().over(w_decl))
        .where(F.col("__rn") <= max_children_per_host)
        .select("url", "host")
    )
    fallback = base.join(
        declared.select("host").distinct(), "host", "left_anti"
    ).select(F.concat("origin", F.lit("/sitemap.xml")).alias("url"), "host")
    roots = declared.union(fallback).withColumn("attempts", F.lit(0))
    fetched = live_fetch(roots, timeout_s=timeout_s, user_agent=user_agent)
    entries = parse_sitemap_entries(
        fetched.where(F.col("status") == 200), xml_col="body", src_col="url"
    ).join(fetched.select(F.col("url").alias("src"), "host"), "src")

    urls = entries.where(F.col("kind") == "url")

    children = entries.where(F.col("kind") == "sitemap")
    w = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("loc").asc()
    )
    capped = (
        children.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= max_children_per_host)
        .select(F.col("loc").alias("url"), "host", F.lit(0).alias("attempts"))
    )
    child_fetched = live_fetch(
        capped, timeout_s=timeout_s, user_agent=user_agent
    )
    child_urls = parse_sitemap_entries(
        child_fetched.where(F.col("status") == 200),
        xml_col="body",
        src_col="url",
    ).join(
        child_fetched.select(F.col("url").alias("src"), "host"), "src"
    ).where(F.col("kind") == "url")

    out_cols = [
        F.col("host"),
        F.col("loc").alias("url"),
        F.col("lastmod"),
        F.col("priority"),
    ]
    return (
        urls.select(*out_cols)
        .union(child_urls.select(*out_cols))
        .dropDuplicates(["host", "url"])
    )


# frontier placement: depth 1 (after the depth-0 seed pages under the
# engine's shallow-first pop order), score = sitemap priority (score desc
# is the next pop key), and a large seed_idx so parity-ordered ties always
# favor real connector work over discovered extras
SITEMAP_SEED_IDX = 1 << 20


def sitemap_frontier_rows(
    wave: DataFrame, round_added: int = 0, connector_id: str = "sitemap"
) -> DataFrame:
    """FRONTIER-shaped rows for discovered sitemap URLs. ``in_page_idx``
    ranks per host by (priority desc, url) — a key-partitioned window over
    the bounded wave — so the pop order within a host is deterministic on
    any cluster size."""
    w = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("url").asc()
    )
    return frontier_rows(
        wave,
        F.col("url"),
        depth=1,
        score=F.col("priority"),
        seed_idx=SITEMAP_SEED_IDX,
        page_no=0,
        in_page_idx=F.row_number().over(w) - 1,
        dfs_rank=0,
        round_added=round_added,
        kind="record",
        connector_id=F.lit(connector_id),
        host=F.col("host"),
    )


def sitemap_recrawl_candidates(
    wave: DataFrame,
    crawled: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    connector_id: str = "sitemap",
) -> DataFrame:
    """Freshness-driven recrawl set: URLs whose sitemap ``<lastmod>`` is
    NEWER than the stored fetch timestamp — exactly the rows to hand to
    ``CrawlEngine.run(recrawl=...)`` ((url, connector_id) shape, which
    revokes their seen status). Entries without a parseable lastmod
    contribute nothing (no signal ≠ stale). One equi-join on url; both
    sides carry (url, ts) only."""
    lm = F.try_to_timestamp(F.col("lastmod"))
    fresh = (
        wave.where(F.col("lastmod").isNotNull())
        .select("url", lm.alias("__lm"))
        .where(F.col("__lm").isNotNull())
    )
    stored = crawled.select(
        F.col(url_col).alias("url"), F.col(ts_col).alias("__ts")
    )
    return (
        fresh.join(stored, "url")
        .where(F.col("__lm") > F.col("__ts"))
        .select("url", F.lit(connector_id).alias("connector_id"))
    )
