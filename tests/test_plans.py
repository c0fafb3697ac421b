"""Physical-plan regressions — the shapes that matter at 100 TB must not
silently degrade (SURVEY.md §4):

* fixture fetch: the huge pages side is scanned once and SEMI-filtered by a
  broadcast of the bounded batch — never built into a join hash table;
* parquet scans get predicate pushdown + column pruning.
"""

from pyspark.sql import functions as F


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fetch_join_broadcasts_batch_not_pages(spark, tmp_path):
    from crawler_spark.operators.fetch import fixture_fetch

    pages = spark.range(10_000).select(
        F.concat(F.lit("http://h/"), F.col("id").cast("string")).alias("url"),
        F.encode(F.lit("<html>x</html>"), "utf-8").alias("html"),
        F.current_timestamp().alias("warc_ts"),
    )
    batch = spark.range(100).select(
        F.concat(F.lit("http://h/"), F.col("id").cast("string")).alias("url"),
        F.lit(0).alias("attempts"),
    )
    plan = _executed_plan(fixture_fetch(batch, pages, batch_bound=100))
    # pages side passes through a LeftSemi whose BUILD side is the batch
    assert "LeftSemi" in plan
    assert "BuildRight" in plan
    # and the only outer join builds the (bounded) semi-filtered result
    assert plan.count("SortMergeJoin") == 0


def test_fetch_multi_snapshot_no_fanout(spark):
    """A Common-Crawl-style pages table with several warc_ts snapshots per
    url must not fan the popped row out into duplicate records: the LATEST
    snapshot wins, deterministically."""
    from datetime import datetime

    from crawler_spark.operators.fetch import fixture_fetch

    pages = spark.createDataFrame(
        [
            ("http://h/1", b"old", datetime(2024, 1, 1)),
            ("http://h/1", b"new", datetime(2024, 6, 1)),
            ("http://h/2", b"only", datetime(2024, 1, 1)),
        ],
        "url string, html binary, warc_ts timestamp",
    )
    batch = spark.createDataFrame(
        [("http://h/1", 0), ("http://h/2", 0)], "url string, attempts int"
    )
    rows = fixture_fetch(batch, pages, batch_bound=2).collect()
    assert len(rows) == 2  # one row per popped url, never per snapshot
    by_url = {r["url"]: bytes(r["body"]) for r in rows}
    assert by_url == {"http://h/1": b"new", "http://h/2": b"only"}


def test_fetch_broadcast_gate_both_sides(spark):
    """The batch-URL broadcast is hinted only under a driver-known row
    bound that fits BROADCAST_MAX_BYTES — a host-unbounded batch must NOT
    carry the hint (the round batch is per-host-bounded but unbounded in
    hosts, so at 10^10-frontier scale the hint would blow the driver)."""
    from crawler_spark.operators import fetch as fetch_mod

    pages = spark.range(1000).select(
        F.concat(F.lit("http://h/"), F.col("id").cast("string")).alias("url"),
        F.encode(F.lit("<html>x</html>"), "utf-8").alias("html"),
        F.current_timestamp().alias("warc_ts"),
    )
    batch = spark.range(50).select(
        F.concat(F.lit("http://h/"), F.col("id").cast("string")).alias("url"),
        F.lit(0).alias("attempts"),
    )
    over = fetch_mod.BROADCAST_MAX_BYTES // fetch_mod.URL_BYTES + 1
    small = fetch_mod.fixture_fetch(batch, pages, batch_bound=50)
    big = fetch_mod.fixture_fetch(batch, pages, batch_bound=over)
    # the hint surfaces in the optimized logical plan's Join node
    # (rightHint=(strategy=broadcast)): present under the gate, absent
    # (left to Catalyst stats/AQE) past it
    small_opt = small._jdf.queryExecution().optimizedPlan().toString()
    big_opt = big._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" in small_opt.lower()
    assert "broadcast" not in big_opt.lower()
    # parity: both plans return the same rows
    assert sorted(r["url"] for r in small.collect()) == sorted(
        r["url"] for r in big.collect()
    )


def test_pop_batch_global_cap_is_take_ordered(spark):
    """pop_batch(global_batch=...) must compile the global cap to
    TakeOrderedAndProject — never a single-partition row_number window
    funneling the whole budget-bounded batch through one task."""
    from crawler_spark.operators.politeness import pop_batch

    frontier = spark.range(500).select(
        F.concat(F.lit("http://h"), (F.col("id") % 7).cast("string"),
                 F.lit("/p/"), F.col("id").cast("string")).alias("url"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.concat(F.lit("h"), (F.col("id") % 7).cast("string")).alias("host"),
        (F.col("id") % 3).cast("int").alias("depth"),
        F.lit(0.0).alias("score"),
        F.lit(0).alias("seed_idx"),
        F.lit(0).alias("page_no"),
        (F.col("id") % 11).cast("int").alias("in_page_idx"),
        F.col("id").cast("int").alias("dfs_rank"),
        F.lit(0).alias("round_added"),
        F.lit(0).alias("attempts"),
        F.lit(0).alias("not_before"),
        F.lit("record").alias("kind"),
        F.lit("c0").alias("connector_id"),
    )
    out = pop_batch(frontier, None, default_budget=20, global_batch=37,
                    popped_bound=500)
    plan = _executed_plan(out)
    assert "TakeOrderedAndProject" in plan
    # the real hazard: a global row_number window needs Exchange
    # SinglePartition — the whole batch through one task
    assert "SinglePartition" not in plan
    assert out.count() == 37


def test_parquet_pushdown_and_pruning(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(1000).select(
        "id",
        (F.col("id") % 7).alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
    ).write.parquet(p)
    df = spark.read.parquet(p).where(F.col("k") == 3).select("id")
    plan = _executed_plan(df)
    assert "PushedFilters: [IsNotNull(k), EqualTo(k,3)]" in plan
    # column pruning: v is not read
    assert "ReadSchema: struct<id:bigint,k:bigint>" in plan


def test_page_style_null_total_stops_after_first_page(spark, tmp_path):
    """A page-style search whose count selector is missing (total=None)
    must NOT chain next pages: the reference derives totalPages from the
    count (base.js:68-69) and stops after page 1 without it — chaining
    would fetch pages the sequential oracle never visits and break
    crawl-order/URL-seen parity."""
    import pandas as pd

    from crawler_spark import schemas
    from crawler_spark.oracle.replay import replay
    from crawler_spark.plans.rounds import CrawlEngine, EngineConfig
    from crawler_spark.sources.sitegen import (
        SiteSpec,
        _render_search,
        generate_site,
        site_to_spark,
    )

    site = generate_site(SiteSpec(n_hosts=1, details_per_host=8, limit=3))
    pages_pd = site["pages"]
    # strip the count element from every search page (count selector misses)
    def decount(row):
        if "/search" not in row["url"]:
            return row["html"]
        # keep links, drop the count div: re-render without count
        return row["html"].replace(
            row["html"][: row["html"].find(b"<ul")], b"<html><body>"
        )

    pages_pd = pages_pd.assign(html=[decount(r) for _, r in pages_pd.iterrows()])
    sdfs = site_to_spark(spark, {**site, "pages": pages_pd})

    cfg = EngineConfig(ckpt_dir=str(tmp_path / "ck"), default_budget=10)
    res = CrawlEngine(
        spark, sdfs["pages"], sdfs["seeds"], sdfs["politeness"], cfg,
        connectors=site["connectors"],
    ).run()
    fetched = {r["url"] for r in res.fetch_log.collect()}
    # page 1 fetched, pages 2/3 NEVER fetched despite existing in the corpus
    assert "http://h0.example.test/search?page=1" in fetched
    assert "http://h0.example.test/search?page=2" not in fetched
    assert "http://h0.example.test/search?page=3" not in fetched

    # parity with the sequential replay under the same degraded corpus
    pages_map = {r["url"]: r["html"] for _, r in pages_pd.iterrows()}
    oracle = replay(pages_map, site["seeds"].to_dict("records"),
                    site["connectors"])
    got = {r["url"]: r["text"] for r in res.webtext.collect()}
    assert got == oracle.webtext


def test_result_cap_compiles_to_take_ordered(spark):
    """O2/W2 driver queries: orderBy().limit() must stay a
    TakeOrderedAndProject (per-partition heaps) — a global single-partition
    Sort here would be the 100×-unsafe plan."""
    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    for q in ("o2_result_cap", "w2_crawl_order_rank"):
        plan = _executed_plan(entry_mod.queries()[q](spark, sf))
        assert "TakeOrderedAndProject" in plan, q


def test_scratch_dir_sweeps_dead_pid_leftovers(tmp_path, monkeypatch):
    """_scratch_dir reclaims siblings stranded by SIGKILLed harness runs
    (their atexit never ran) while leaving live-pid siblings alone."""
    import hashlib
    import os
    import subprocess
    import tempfile

    import __spark_entry__ as entry_mod

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    p = subprocess.Popen(["true"])
    p.wait()  # reaped: p.pid is now a dead pid
    key = hashlib.md5(b"/root/testdata/sfX").hexdigest()[:8]
    stale = tmp_path / f"spark_graft_t_{key}_{p.pid}"
    stale.mkdir()
    live = tmp_path / f"spark_graft_t_{key}_1"  # pid 1 is always alive
    live.mkdir()
    d = entry_mod._scratch_dir("t", "/root/testdata/sfX")
    assert not stale.exists()
    assert live.exists()
    assert os.path.isdir(d)


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark gram set must BROADCAST (map-side probe); a
    sort-merge join would shuffle the full corpus gram table."""
    from crawler_spark.functions.dedup import decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.limit(5)
    plan = _executed_plan(decontaminate(docs, bench, n=8, min_overlap=2))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tiny_round_thresholds_scale_with_cluster_width():
    """The AQE/narrow-shuffle tiny-round switches derive from
    defaultParallelism (unless pinned): local[32] reproduces the measured
    100k constant, a 4000-core cluster scales both proportionally, and an
    explicit aqe_min_batch pins the threshold."""
    from crawler_spark.plans.rounds import EngineConfig, tiny_round_thresholds

    cfg = EngineConfig(ckpt_dir="/tmp/x")
    assert tiny_round_thresholds(32, cfg) == (32 * 200 * 16, 4)  # = 102_400
    aqe, floor = tiny_round_thresholds(4000, cfg)
    assert aqe == 4000 * 200 * 16 and floor == 500
    pinned = EngineConfig(ckpt_dir="/tmp/x", aqe_min_batch=123)
    assert tiny_round_thresholds(4000, pinned)[0] == 123
    # degenerate widths never produce a zero floor
    assert tiny_round_thresholds(1, cfg) == (1 * 200 * 16, 4)


def test_bloom_table_filter_strategies(spark, tmp_path):
    """`filter_unseen` picks its physical strategy like Catalyst picks
    joins: tiny bitset tables flag candidates map-side off a broadcast
    (zero candidate shuffle — no cogroup exchange), big tables ship each
    bitset once per pid group via cogroup. Both must be reachable, both
    must return identical rows."""
    from pyspark.sql import functions as F

    from crawler_spark.operators.seen import BloomTable

    seen = spark.range(0, 100, 2).select(F.col("id").alias("url_hash"))
    cands = spark.range(100).select(F.col("id").alias("url_hash"))
    bt = BloomTable(str(tmp_path / "b"), n_partitions=4)
    bt.build(seen, version=0)
    want = set(range(1, 100, 2))

    # auto on a 4-bucket toy table → broadcast (under the 64 MB budget)
    out = bt.filter_unseen(cands, seen, version=0, cache_registry=[])
    plan = _executed_plan(out)
    assert "FlatMapCoGroupsInPandas" not in plan
    assert {r["url_hash"] for r in out.collect()} == want

    # forced cogroup (what auto picks past BROADCAST_MAX_BYTES)
    out2 = bt.filter_unseen(cands, seen, version=0, cache_registry=[], strategy="cogroup")
    plan2 = _executed_plan(out2)
    assert "FlatMapCoGroupsInPandas" in plan2
    assert {r["url_hash"] for r in out2.collect()} == want

    # an EXPLICIT cogroup call (rounds.py passes pick_strategy() precisely
    # to skip per-round driver jobs) must not run the broadcast-payload
    # metadata agg, let alone pin a bitset collect it never reads
    bt2 = BloomTable.adopt(str(tmp_path / "b"))
    out3 = bt2.filter_unseen(
        cands, seen, version=0, cache_registry=[], strategy="cogroup"
    )
    assert {r["url_hash"] for r in out3.collect()} == want
    assert bt2._payload_cache == {}


def test_politeness_broadcast_gate_both_sides(spark):
    """apply_robots / pop_batch broadcast the politeness table only when
    the caller's driver-known byte bound fits BROADCAST_MAX_BYTES — with
    live robots acquisition the table is one row per PROBED HOST
    (millions at 10^10-frontier scale), so past the bound the joins must
    degrade to shuffle joins instead of blowing the driver."""
    from crawler_spark.operators import politeness as pol_mod

    frontier = spark.range(200).select(
        F.concat(F.lit("http://h"), (F.col("id") % 5).cast("string"),
                 F.lit("/p/"), F.col("id").cast("string")).alias("url"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.concat(F.lit("h"), (F.col("id") % 5).cast("string")).alias("host"),
        (F.col("id") % 3).cast("int").alias("depth"),
        F.lit(0.0).alias("score"),
        F.lit(0).alias("seed_idx"),
        F.lit(0).alias("page_no"),
        F.col("id").cast("int").alias("in_page_idx"),
        F.lit(0).alias("dfs_rank"),
        F.lit(0).alias("round_added"),
        F.lit(0).alias("attempts"),
        F.lit(0).alias("not_before"),
        F.lit("record").alias("kind"),
        F.lit("c0").alias("connector_id"),
    )
    politeness = spark.createDataFrame(
        [("h0", 0, 3, ["/x"]), ("h1", 0, 2, [])],
        "host string, crawl_delay_ms long, budget_per_round int,"
        " disallow array<string>",
    )
    over = pol_mod.BROADCAST_MAX_BYTES + 1
    for fn in (
        lambda pb: pol_mod.apply_robots(frontier, politeness, politeness_bytes=pb),
        lambda pb: pol_mod.pop_batch(
            frontier, politeness, default_budget=2,
            prune_shuffle=False, politeness_bytes=pb,
        ),
    ):
        small = fn(1024)
        big = fn(over)
        small_opt = small._jdf.queryExecution().optimizedPlan().toString()
        big_opt = big._jdf.queryExecution().optimizedPlan().toString()
        assert "broadcast" in small_opt.lower()
        assert "broadcast" not in big_opt.lower()
        # parity across the gate
        assert sorted(r["url"] for r in small.collect()) == sorted(
            r["url"] for r in big.collect()
        )


def test_salted_repartition_counts_gate(spark):
    """salted_host_repartition broadcasts the per-host counts frame only
    when the batch row bound (or a paid exact host count) fits the
    broadcast budget."""
    from crawler_spark.operators import politeness as pol_mod

    batch = spark.range(100).select(
        F.concat(F.lit("http://h"), (F.col("id") % 4).cast("string"),
                 F.lit("/"), F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("h"), (F.col("id") % 4).cast("string")).alias("host"),
        (F.col("id") % 3).cast("int").alias("depth"),
        F.lit(0).alias("seed_idx"),
        F.lit(0).alias("page_no"),
        F.col("id").cast("int").alias("in_page_idx"),
        F.lit(0).alias("dfs_rank"),
    )
    small = pol_mod.salted_host_repartition(batch, 10, batch_bound=100)
    # bound over budget BUT the exact host count (4) decides → broadcast
    over_rows = pol_mod.BROADCAST_MAX_BYTES // pol_mod.KEY_BYTES + 1
    decided = pol_mod.salted_host_repartition(batch, 10, batch_bound=over_rows)
    assert "broadcast" in (
        small._jdf.queryExecution().optimizedPlan().toString().lower()
    )
    assert "broadcast" in (
        decided._jdf.queryExecution().optimizedPlan().toString().lower()
    )
    assert sorted(r["url"] for r in small.collect()) == sorted(
        r["url"] for r in decided.collect()
    )


def test_link_graph_persistence_and_offline_pagerank(spark, tmp_path):
    """EngineConfig(persist_link_graph=True) commits (src_hash, dst_hash)
    edges per round; the accumulated log feeds offline PageRank (the batch
    re-scorer) and covers exactly the crawl's parent→child link events."""
    from crawler_spark.operators.opic import pagerank
    from crawler_spark.plans.checkpoint import Checkpointer
    from crawler_spark.plans.rounds import CrawlEngine, EngineConfig
    from crawler_spark.sources.sitegen import (
        SiteSpec, generate_site, site_to_spark,
    )

    site = generate_site(
        SiteSpec(n_hosts=2, details_per_host=8, limit=4, related_per_host=2)
    )
    sdfs = site_to_spark(spark, site)
    ck = str(tmp_path / "ck")
    res = CrawlEngine(
        spark, sdfs["pages"], sdfs["seeds"], sdfs["politeness"],
        EngineConfig(ckpt_dir=ck, use_bloom=True, bloom_partitions=2,
                     persist_link_graph=True),
        connectors=site["connectors"],
    ).run()
    n_records = res.records.count()
    edges = Checkpointer(ck).load_all_deltas(spark, "link_graph_delta")
    assert edges is not None
    n_edges = edges.count()
    # every record detail page was announced by a search-page link
    assert n_edges >= n_records > 0
    # edges are hash-keyed and non-degenerate
    assert edges.where(F.col("src_hash") == F.col("dst_hash")).count() == 0
    # offline re-scoring runs over the log: ranks form a distribution
    pr = pagerank(edges, n_iter=3, src="src_hash", dst="dst_hash")
    total = pr.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-6
    # detail pages (pointed to by searches) outrank anything unlinked:
    # top-ranked node must be a link target
    top = pr.orderBy(F.desc("rank")).first()
    dsts = {r["dst_hash"] for r in edges.select("dst_hash").collect()}
    assert top["id"] in dsts


def test_frontier_row_builder_matches_frontier_schema(spark, tmp_path, monkeypatch):
    """Every frontier_rows call site — seeds, recrawl rows, the round's
    record / next-page / related candidates, sitemap rows — yields exactly
    schemas.FRONTIER names, types and order, which keeps the loop's
    positional unions safe. Schema analysis only: no crawl, no Spark job."""
    from types import SimpleNamespace

    import pytest

    from crawler_spark import schemas
    from crawler_spark.operators.extract import ROUND_OUT_SCHEMA
    from crawler_spark.operators.frontier import frontier_rows, seeds_to_frontier
    from crawler_spark.operators.sitemaps import sitemap_frontier_rows
    from crawler_spark.plans import rounds

    want = [(f.name, f.dataType) for f in schemas.FRONTIER.fields]

    def shape(df):
        return [(f.name, f.dataType) for f in df.schema.fields]

    built = []

    def spy(*a, **kw):
        out = frontier_rows(*a, **kw)
        built.append(out)
        return out

    def last_job():
        ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    job0 = last_job()
    monkeypatch.setattr(rounds, "frontier_rows", spy)
    seeds = spark.createDataFrame([], schemas.SEEDS)
    eng = rounds.CrawlEngine(
        spark, spark.createDataFrame([], schemas.FRONTIER), seeds,
        cfg=rounds.EngineConfig(ckpt_dir=str(tmp_path / "ck")),
    )

    assert shape(seeds_to_frontier(seeds)) == want
    wave = spark.createDataFrame(
        [], "host string, url string, lastmod string, priority double"
    )
    assert shape(sitemap_frontier_rows(wave, round_added=2)) == want

    # recrawl rows: stop the run-start step right after the builder
    class Built(Exception):
        pass

    def stop(*a, **kw):
        raise Built

    monkeypatch.setattr(rounds, "add_candidates", stop)
    with pytest.raises(Built):
        eng._add_recrawl(
            SimpleNamespace(round_no=3, frontier=None),
            spark.createDataFrame([], "url string, connector_id string"),
        )

    # the round's candidates, from extract-shaped links and records
    meta = spark.createDataFrame([], schemas.FRONTIER).select(
        "url", "kind", "connector_id", "seed_idx", "page_no", "in_page_idx",
        "dfs_rank", "depth", "score", F.lit("none").alias("related_policy"),
    )
    extracted = spark.createDataFrame([], ROUND_OUT_SCHEMA).join(meta, "url")
    rnd = rounds._Round(no=3)
    rnd.links = extracted.select(
        F.col("url").alias("parent_url"), "connector_id", "seed_idx",
        "page_no", "depth", "score", "total_count", "out_url", "out_idx",
    )
    rnd.recs = extracted
    eng._expand(rnd)
    assert shape(rnd.cands) == want

    # the engine's own call sites: recrawl, record, next-page, related
    assert len(built) == 4
    for df in built:
        assert shape(df) == want
    assert last_job() == job0


def _frontier_row(url_hash, connector_id, seed_idx=0, page_no=0, round_added=0):
    return (
        f"http://h/{url_hash}", url_hash, "h", 0, 0.0, seed_idx, page_no, 0, 0,
        round_added, 0, round_added, "record", connector_id,
    )


def test_add_candidates_keeps_lowest_ordered_row_per_url(spark):
    """One window over frontier ∪ candidates keeps, per url_hash, the row
    the sequential reference would visit first — whichever side it came
    from — and passes uncontested frontier rows and candidates through."""
    from crawler_spark import schemas
    from crawler_spark.operators.frontier import add_candidates

    # (frontier rows, candidate rows, the winners' (url_hash,
    # connector_id, seed_idx, page_no))
    cases = {
        "frontier_row_wins": (
            [_frontier_row(1, "c0")],
            [_frontier_row(1, "c0", seed_idx=2, round_added=1)],
            [(1, "c0", 0, 0)],
        ),
        "candidate_wins": (
            [_frontier_row(2, "c0", seed_idx=3)],
            [_frontier_row(2, "c0", seed_idx=1, round_added=1)],
            [(2, "c0", 1, 0)],
        ),
        "duplicate_candidates": (
            [_frontier_row(9, "c0")],
            [
                _frontier_row(3, "c0", page_no=4, round_added=1),
                _frontier_row(3, "c0", page_no=2, round_added=1),
                _frontier_row(3, "c0", page_no=4, round_added=1),
            ],
            [(3, "c0", 0, 2), (9, "c0", 0, 0)],
        ),
        "connector_tiebreak": (
            [_frontier_row(4, "c1")],
            [_frontier_row(4, "c0", seed_idx=5, page_no=5, round_added=1)],
            [(4, "c0", 5, 5)],
        ),
        "empty_candidates": (
            [_frontier_row(5, "c0"), _frontier_row(6, "c1")],
            [],
            [(5, "c0", 0, 0), (6, "c1", 0, 0)],
        ),
        "no_frontier": (
            [],
            [_frontier_row(7, "c1"), _frontier_row(7, "c0", seed_idx=9)],
            [(7, "c0", 9, 0)],
        ),
    }
    for case, (front_rows, cand_rows, winners) in cases.items():
        out = add_candidates(
            spark.createDataFrame(front_rows, schemas.FRONTIER),
            spark.createDataFrame(cand_rows, schemas.FRONTIER),
        )
        got = sorted(
            (r["url_hash"], r["connector_id"], r["seed_idx"], r["page_no"])
            for r in out.collect()
        )
        assert got == winners, case


def test_add_candidates_is_one_exchange(spark):
    """The merge reads the candidates once: one hash Exchange for the
    window, no key distinct and no broadcast of the candidates' keys."""
    from crawler_spark import schemas
    from crawler_spark.operators.frontier import add_candidates

    frontier = spark.createDataFrame(
        [_frontier_row(1, "c0"), _frontier_row(2, "c0")], schemas.FRONTIER
    )
    cands = spark.createDataFrame(
        [_frontier_row(2, "c1", round_added=1), _frontier_row(3, "c0")],
        schemas.FRONTIER,
    )
    # the engine runs tiny rounds with AQE off; an adaptive plan would
    # print its initial and final plans both
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = add_candidates(frontier, cands)
        assert df.count() == 3
        plan = _executed_plan(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert plan.count("Exchange") == 1
    assert "Exchange hashpartitioning(url_hash" in plan
    assert "BroadcastExchange" not in plan
