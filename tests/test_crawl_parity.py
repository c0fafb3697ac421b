"""End-to-end parity: CrawlEngine vs the pure-Python sequential oracle
(SURVEY.md §5.2 items 1-3).

1. crawl-order parity — engine records sorted by (connector_id, seed_idx,
   page_no, in_page_idx, dfs_rank) == oracle write sequence,
2. URL-seen set parity — exact set equality over written record urls,
3. byte-identical extracted text per url (north_star gate).
"""

import pytest

from crawler_spark.oracle.replay import replay
from crawler_spark.plans.rounds import CrawlEngine, EngineConfig
from crawler_spark.sources.sitegen import SiteSpec, generate_site, site_to_spark

SPEC = SiteSpec(
    n_hosts=4,
    details_per_host=25,
    limit=8,
    related_per_host=5,
    unknown_total_hosts=(2,),
    budget_per_round=7,
)


@pytest.fixture(scope="module")
def site():
    return generate_site(SPEC)


@pytest.fixture(scope="module")
def oracle(site):
    pages = {r.url: r.html for r in site["pages"].itertuples()}
    seeds = site["seeds"].to_dict("records")
    return replay(pages, seeds)


@pytest.fixture(scope="module")
def engine_result(spark, site, tmp_path_factory):
    sdfs = site_to_spark(spark, site)
    cfg = EngineConfig(
        ckpt_dir=str(tmp_path_factory.mktemp("ckpt")),
        default_budget=7,
        use_bloom=True,
        bloom_partitions=4,
    )
    eng = CrawlEngine(
        spark, sdfs["pages"], sdfs["seeds"], sdfs["politeness"], cfg
    )
    return eng.run()


def test_records_written_set_parity(engine_result, oracle):
    got = {r["url"] for r in engine_result.records.select("url").collect()}
    assert got == set(oracle.webtext.keys())


def test_crawl_order_parity(engine_result, oracle):
    rows = engine_result.records.select(
        "connector_id", "seed_idx", "page_no", "in_page_idx", "dfs_rank", "url"
    ).collect()
    got = [
        r["url"]
        for r in sorted(
            rows,
            key=lambda r: (
                r["connector_id"],
                r["seed_idx"],
                r["page_no"],
                r["in_page_idx"],
                r["dfs_rank"],
            ),
        )
    ]
    want = [w["url"] for w in oracle.written]
    assert got == want


def test_webtext_byte_parity(engine_result, oracle, site):
    got = {
        r["url"]: r["text"] for r in engine_result.webtext.collect()
    }
    assert got == oracle.webtext
    # and the golden column in the corpus agrees (generator-composed bytes)
    golden = {
        r.url: r.text for r in site["pages"].itertuples() if r.url in got
    }
    assert got == golden


def test_field_merge_and_image_dedup(engine_result, oracle):
    recs = {
        r["url"]: r for r in engine_result.records.collect()
    }
    n_multi = 0
    for url, orec in oracle.records.items():
        erec = recs[url]
        got_fields = [(f["label"], list(f["values"])) for f in erec["fields"]]
        want_fields = [(l, list(v)) for l, v in orec["fields"]]
        assert got_fields == want_fields, url
        assert [i["url"] for i in erec["images"]] == [
            i["url"] for i in orec["images"]
        ], url
        n_multi += any(len(v) > 1 for _, v in want_fields)
    assert n_multi > 0  # the merge path was actually exercised


def test_metrics_recorded(engine_result):
    assert engine_result.rounds > 1
    assert sum(m["records_written"] for m in engine_result.metrics) == \
        engine_result.records.count()


def test_content_filter_keep_parity(spark, tmp_path):
    """P2 content filter (risd-museum.js:77-87): records failing the filter
    are visited (URL-seen) but NOT written, identically in the engine and
    the replay oracle."""
    from crawler_spark.operators.extract import ConnectorConfig

    site = generate_site(SiteSpec(n_hosts=2, details_per_host=15, limit=5))
    connectors = {
        f"c{h}": ConnectorConfig(
            connector_id=f"c{h}",
            content_filter_label="Material",
            content_filter_substr="a",
        )
        for h in range(2)
    }
    pages = {r.url: r.html for r in site["pages"].itertuples()}
    oracle = replay(pages, site["seeds"].to_dict("records"), connectors)

    sdfs = site_to_spark(spark, site)
    res = CrawlEngine(
        spark, sdfs["pages"], sdfs["seeds"], sdfs["politeness"],
        EngineConfig(ckpt_dir=str(tmp_path / "ck"), default_budget=8),
        connectors=connectors,
    ).run()
    got = {r["url"]: r["text"] for r in res.webtext.collect()}
    assert got == oracle.webtext
    # the filter actually split the corpus: some visited pages unwritten
    n_visited = res.fetch_log.where("status = 200").count()
    assert 0 < len(got) < n_visited


def test_shared_seed_url_parity(spark, tmp_path):
    """Two connectors list the same search URL under different seed
    configs. The reference walks each seed's chain with its own config:
    c0's chain is capped after page 1, so c1's uncapped chain writes the
    records of the later pages. Both seed rows enter the frontier, and the
    engine writes exactly the oracle's records in its order."""
    site = generate_site(
        SiteSpec(n_hosts=1, details_per_host=8, limit=4, budget_per_round=7)
    )
    seeds = site["seeds"]
    seeds.loc[1] = {**seeds.loc[0].to_dict(), "connector_id": "c1"}
    seeds.loc[0, ["paging_style", "max_offset"]] = ["unknown_total", 4]
    pages = {r.url: r.html for r in site["pages"].itertuples()}
    oracle = replay(pages, seeds.to_dict("records"))
    # the shared URL really splits the written records across both chains
    assert {w["connector_id"] for w in oracle.written} == {"c0", "c1"}

    sdfs = site_to_spark(spark, site)
    res = CrawlEngine(
        spark, sdfs["pages"], sdfs["seeds"], sdfs["politeness"],
        EngineConfig(ckpt_dir=str(tmp_path / "ck"), default_budget=7),
    ).run()
    order = ("connector_id", "seed_idx", "page_no", "in_page_idx", "dfs_rank")
    got = [
        (r["url"], r["connector_id"])
        for r in sorted(
            res.records.select("url", *order).collect(),
            key=lambda r: tuple(r[k] for k in order),
        )
    ]
    assert got == [(w["url"], w["connector_id"]) for w in oracle.written]


def test_url_seen_set_parity(engine_result, oracle, site, spark):
    """north_rule: 'the final URL-seen set must match the reference's
    output under the same seed list and politeness budget'. The
    reference's seen mechanism is the per-record written-file
    short-circuit (record.js:135-138 via base.js) — it covers RECORD urls
    only; search/list pages are re-fetched every run by design. The
    engine's url_seen is its frontier-dedup superset, so parity is:
    restricted to record urls it equals the oracle's seen set exactly,
    and the complement is precisely the search pagination pages the
    frontier tracked."""
    from pyspark.sql import functions as F

    pages = {r.url: r.html for r in site["pages"].itertuples()}
    urls = spark.createDataFrame(
        [(u,) for u in pages], "url string"
    ).select("url", F.xxhash64("url").alias("h"))
    got = {
        r["url"]
        for r in engine_result.url_seen.join(
            urls, engine_result.url_seen.url_hash == urls.h
        ).select("url").collect()
    }
    # every engine-seen hash resolved to a site url (no phantom hashes)
    assert engine_result.url_seen.count() == len(got)
    record_seen = {u for u in got if "/search" not in u}
    assert record_seen == oracle.url_seen
    # the search-page complement must equal the pagination pages the
    # ORACLE's sequential replay fetched — an independent source (the
    # previous comparison against a filter of `got` itself was a
    # tautology that an engine tracking zero search pages also passed)
    oracle_search = {
        u for u in oracle.fetches if "/search" in u and u in pages
    }
    assert got - record_seen == oracle_search
    assert oracle_search  # non-vacuous: the spec generates pagination
