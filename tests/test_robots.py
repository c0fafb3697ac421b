"""robots.txt parsing → politeness table → engine enforcement (north_star
robots + crawl-delay chain, end to end)."""

import pytest

from crawler_spark.operators.robots import parse_robots, politeness_from_robots

ROBOTS = b"""
# comments are ignored
User-agent: evilbot
Disallow: /

User-agent: crawler-spark
Disallow: /private/
Disallow: /tmp
Crawl-delay: 2

User-agent: *
Disallow: /admin/
Crawl-delay: 0.5
"""


def test_parse_specific_agent_group_wins():
    p = parse_robots(ROBOTS, user_agent="crawler-spark/0.1")
    assert p["disallow"] == ["/private/", "/tmp"]
    assert p["crawl_delay_ms"] == 2000


def test_parse_wildcard_fallback():
    p = parse_robots(ROBOTS, user_agent="someother-bot")
    assert p["disallow"] == ["/admin/"]
    assert p["crawl_delay_ms"] == 500


def test_parse_edge_cases():
    empty = {"disallow": [], "allow": [], "crawl_delay_ms": None}
    assert parse_robots(None) == empty
    assert parse_robots(b"") == empty
    # empty Disallow means allow-all
    p = parse_robots(b"User-agent: *\nDisallow:\n")
    assert p["disallow"] == []
    # stacked UA lines share one group
    p = parse_robots(b"User-agent: a\nUser-agent: *\nDisallow: /x\n", "z")
    assert p["disallow"] == ["/x"]


def test_parse_merges_same_specificity_groups():
    """RFC 9309 §2.2.1: ALL groups matching at the winning specificity
    combine — sites routinely ship two 'User-agent: *' sections and the
    later one's rules must not be dropped."""
    p = parse_robots(
        b"User-agent: *\nDisallow: /a\n\n"
        b"User-agent: *\nDisallow: /admin\nCrawl-delay: 3\n"
    )
    assert p["disallow"] == ["/a", "/admin"]
    assert p["crawl_delay_ms"] == 3000  # first DECLARED delay wins
    # merging is per-specificity: a specific match does not absorb '*'
    p2 = parse_robots(ROBOTS, user_agent="crawler-spark/0.1")
    assert "/admin/" not in p2["disallow"]


def test_parse_prefix_not_substring_match():
    """A group for another bot ('spark') must not capture 'crawler-spark'
    via substring containment; the '*' group applies instead."""
    p = parse_robots(
        b"User-agent: spark\nDisallow: /theirs\n\n"
        b"User-agent: *\nDisallow: /generic\n",
        user_agent="crawler-spark",
    )
    assert p["disallow"] == ["/generic"]


def test_politeness_from_robots_string_html(spark):
    """pages tables may carry html as string (extract_rel_canonical
    branches on it); the robots parser must not crash on that shape."""
    rb = spark.createDataFrame(
        [(
            "http://h.test/robots.txt",
            "User-agent: *\nDisallow: /x\nCrawl-delay: 1\n",
        )],
        "url string, html string",
    )
    rows = politeness_from_robots(rb).collect()
    assert rows[0]["disallow"] == ["/x"]
    assert rows[0]["crawl_delay_ms"] == 1000


def test_politeness_from_robots_and_engine_enforcement(spark, tmp_path):
    from crawler_spark.plans.rounds import CrawlEngine, EngineConfig
    from crawler_spark.sources.sitegen import (
        SiteSpec, generate_site, site_to_spark,
    )

    site = generate_site(SiteSpec(n_hosts=2, details_per_host=8, limit=4))
    sdfs = site_to_spark(spark, site)

    # host 0 publishes a robots.txt disallowing /record/1*
    robots_rows = spark.createDataFrame(
        [
            (
                "http://h0.example.test/robots.txt",
                bytearray(
                    b"User-agent: *\nDisallow: /record/1\nCrawl-delay: 0\n"
                ),
            ),
            ("http://h0.example.test/not-robots", bytearray(b"ignored")),
        ],
        "url string, html binary",
    )
    pol = politeness_from_robots(robots_rows, default_budget=10)
    rows = pol.collect()
    assert len(rows) == 1 and rows[0]["host"] == "h0.example.test"
    assert rows[0]["disallow"] == ["/record/1"]

    res = CrawlEngine(
        spark, sdfs["pages"], sdfs["seeds"], pol,
        EngineConfig(ckpt_dir=str(tmp_path / "ck"), default_budget=10),
        connectors=site["connectors"],
    ).run()
    urls = [r["url"] for r in res.records.select("url").collect()]
    assert not [u for u in urls if "h0.example.test/record/1" in u]
    assert any("h0.example.test/record/2" in u for u in urls)
    assert any("h1.example.test/record/1" in u for u in urls)  # unaffected


def test_robots_table_backfills_old_schema(spark, tmp_path):
    """A robots_politeness cache written by an older build (no
    probe_status/probed_round columns) must not crash a resume: the loader
    backfills the bookkeeping columns and the effective-politeness window
    still picks one row per host."""
    from crawler_spark.plans.rounds import CrawlEngine, EngineConfig

    ck = str(tmp_path / "ck")
    old = spark.createDataFrame(
        [("h0", 100, 5, ["/private"])],
        "host string, crawl_delay_ms long, budget_per_round int,"
        " disallow array<string>",
    )
    import os

    old.write.parquet(os.path.join(ck, "robots_politeness"))
    seeds = spark.createDataFrame(
        [("c0", 0, "http://h0/search?page=1", "page", 5, 1, None, "none")],
        "connector_id string, seed_idx int, url string, paging_style string,"
        " limit int, start_page int, max_offset int, related_policy string",
    )
    eng = CrawlEngine(
        spark, None, seeds, politeness=None,
        cfg=EngineConfig(ckpt_dir=ck, fetch_mode="live",
                         robots_ttl_rounds=2),
    )
    eng._refresh_effective_politeness(round_no=5)
    rows = {r["host"]: r for r in eng.politeness.collect()}
    assert rows["h0"]["disallow"] == ["/private"]
    assert rows["h0"]["crawl_delay_ms"] == 100


def test_robots_cache_compaction_keeps_latest_row(spark, tmp_path):
    """Compacting the robots sidecar rewrites the probe cache keeping each
    host's newest row — TTL re-probes otherwise accrete one file per wave
    that every refresh re-reads."""
    import os

    from crawler_spark.plans.rounds import CrawlEngine, EngineConfig

    ck = str(tmp_path / "ck")
    rdir = os.path.join(ck, "robots_politeness")
    schema = (
        "host string, crawl_delay_ms long, budget_per_round int,"
        " disallow array<string>, probe_status int, probed_round int"
    )
    spark.createDataFrame(
        [("h0", 100, 5, [], 200, 0), ("h2", 250, 5, ["/y"], 200, 2)], schema
    ).write.mode("append").parquet(rdir)
    spark.createDataFrame(
        [
            ("h0", 700, 5, ["/x"], 200, 3),
            ("h1", 0, 5, [], 503, 3),
            # h2: fresh TRANSIENT must not delete the older final row —
            # the winner window still prefers the unexpired final probe
            ("h2", 0, 5, ["/"], 503, 3),
        ],
        schema,
    ).write.mode("append").parquet(rdir)

    seeds = spark.createDataFrame(
        [("c0", 0, "http://h0/search?page=1", "page", 5, 1, None, "none")],
        "connector_id string, seed_idx int, url string, paging_style string,"
        " limit int, start_page int, max_offset int, related_policy string",
    )
    eng = CrawlEngine(
        spark, None, seeds, politeness=None,
        cfg=EngineConfig(ckpt_dir=ck, fetch_mode="live"),
    )
    eng._robots.compact(max_files=1)
    rows = {}
    for r in eng._load_robots_table().collect():
        rows.setdefault(r["host"], []).append(r)
    assert len(rows["h0"]) == 1  # two finals → freshest survives
    assert rows["h0"][0]["probed_round"] == 3
    assert rows["h0"][0]["disallow"] == ["/x"]
    assert rows["h1"][0]["probe_status"] == 503  # transient row retained
    # h2 keeps BOTH the fresh transient and the final row it must not shadow
    assert sorted(r["probe_status"] for r in rows["h2"]) == [200, 503]
    # and the effective politeness still resolves after compaction
    eng._refresh_effective_politeness(round_no=3)
    pol = {r["host"]: r for r in eng.politeness.collect()}
    assert pol["h0"]["crawl_delay_ms"] == 700
    # the unexpired final row wins for h2 despite the fresher transient
    assert pol["h2"]["disallow"] == ["/y"]


# ---- RFC 9309 wildcards + Allow rules (longest-match, allow wins ties) ----


def test_parse_allow_rules():
    p = parse_robots(
        b"User-agent: *\nDisallow: /a\nAllow: /a/pub\nDisallow: /*.pdf$\n"
    )
    assert p["disallow"] == ["/a", "/*.pdf$"]
    assert p["allow"] == ["/a/pub"]


def _blocked(spark, rules, paths):
    from crawler_spark.operators.politeness import robots_blocked
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(p,) for p in paths], "path string")
    out = df.select(
        "path", robots_blocked(F.col("path"), F.array(
            *[F.lit(r) for r in rules])).alias("b")
    )
    return {r["path"]: r["b"] for r in out.collect()}


def test_rfc_matching_wildcards_and_anchors(spark):
    got = _blocked(
        spark,
        ["/private", "/*.pdf$", "/tmp/*/x"],
        ["/private/a", "/privatey", "/doc.pdf", "/doc.pdfx",
         "/tmp/1/x", "/tmp/1/2/x", "/tmp/x", "/ok"],
    )
    assert got["/private/a"] and got["/privatey"]  # prefix semantics
    assert got["/doc.pdf"] and not got["/doc.pdfx"]  # $ anchors the end
    assert got["/tmp/1/x"] and got["/tmp/1/2/x"]  # * spans any run
    assert not got["/tmp/x"]  # * requires its surrounding literals
    assert not got["/ok"]


def test_rfc_allow_overrides_by_length(spark):
    rules = ["/a", "!/a/pub"]
    got = _blocked(spark, rules, ["/a/secret", "/a/pub/x", "/a/pub"])
    assert got["/a/secret"]
    assert not got["/a/pub/x"] and not got["/a/pub"]
    # equal length: allow wins the tie (RFC 9309 S2.2.2)
    got = _blocked(spark, ["/ab", "!/ab"], ["/ab/x"])
    assert not got["/ab/x"]
    # shorter allow does NOT override a longer disallow
    got = _blocked(spark, ["/a/priv", "!/a"], ["/a/priv/x", "/a/other"])
    assert got["/a/priv/x"] and not got["/a/other"]


def test_rfc_regex_metachars_are_literal(spark):
    got = _blocked(
        spark, ["/p(1).x+?", "/q|r"], ["/p(1).x+?y", "/p11axz", "/q|r/s", "/q"]
    )
    assert got["/p(1).x+?y"] and got["/q|r/s"]
    assert not got["/p11axz"] and not got["/q"]


def test_parse_normalizes_bare_word_rules():
    """RFC 9309 rule values must start with '/'; the wild ships bare words
    ('Disallow: admin') and leading-wildcard patterns ('Allow: *.html').
    Bare words normalize to '/'-anchored; explicit wildcards stay verbatim
    (round-4 ADVICE: unanchored bare words could allow-override a longer
    valid disallow)."""
    p = parse_robots(
        b"User-agent: *\nDisallow: admin\nAllow: *.html\nDisallow: /x\n"
    )
    assert p["disallow"] == ["/admin", "/x"]
    assert p["allow"] == ["*.html"]


def test_rfc_priority_excludes_dollar_anchor(spark):
    """'$' is an anchor, not a matched octet: '!/a/pub' (allow, 6 octets)
    must beat '/a/pub$' (disallow, 6 octets + anchor) on the allow-wins
    tie-break — counting the '$' made the disallow 'longer' and flipped
    the outcome."""
    got = _blocked(spark, ["/a/pub$", "!/a/pub"], ["/a/pub"])
    assert not got["/a/pub"]
    # and the anchor itself still works
    got = _blocked(spark, ["/a/pub$"], ["/a/pub", "/a/pubx"])
    assert got["/a/pub"] and not got["/a/pubx"]


def test_allow_rules_flow_through_politeness_tables(spark):
    from crawler_spark.operators.robots import politeness_from_robots

    pages = spark.createDataFrame(
        [("http://h9.test/robots.txt",
          b"User-agent: *\nDisallow: /a\nAllow: /a/pub\n")],
        "url string, html binary",
    )
    row = politeness_from_robots(pages).first()
    assert row["disallow"] == ["/a", "!/a/pub"]


def test_engine_end_to_end_wildcard_disallow(spark, tmp_path):
    # a politeness table carrying a wildcard pattern blocks matching
    # record paths in a real crawl
    from crawler_spark.plans.rounds import CrawlEngine, EngineConfig
    from crawler_spark.sources.sitegen import (
        SiteSpec, generate_site, site_to_spark,
    )

    site = generate_site(SiteSpec(n_hosts=1, details_per_host=8, limit=4))
    sdfs = site_to_spark(spark, site)
    base = CrawlEngine(
        spark, sdfs["pages"], sdfs["seeds"], sdfs["politeness"],
        EngineConfig(ckpt_dir=str(tmp_path / "a")),
    ).run()
    urls = sorted(r["url"] for r in base.records.select("url").collect())
    victim = urls[0]
    suffix = victim.rsplit("/", 1)[-1]
    from pyspark.sql import functions as F

    pol = sdfs["politeness"].withColumn(
        "disallow", F.array(F.lit(f"/*/{suffix}$"))
    )
    res = CrawlEngine(
        spark, sdfs["pages"], sdfs["seeds"], pol,
        EngineConfig(ckpt_dir=str(tmp_path / "b")),
    ).run()
    got = {r["url"] for r in res.records.select("url").collect()}
    assert victim not in got
    assert got == set(urls) - {
        u for u in urls if u.endswith("/" + suffix)
    }
