"""Executor-side Bloom sidecar (BloomTable) + checkpoint delta compaction.

The table-backed path must answer exactly like the exact anti-join (false
positives routed to the exact confirm; never a false "definitely new" from a
CURRENT bitset), stay correct across incremental updates, and expose only
_SUCCESS-committed versions. Compaction must be invisible to readers: the
compact+tail read equals the raw union for every (upto, after) window the
engine uses.
"""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def seen_and_cands(spark):
    seen = spark.range(0, 3000, 3).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    cands = spark.range(0, 3000).select(
        F.col("id"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
    )
    return seen, cands


def test_build_and_query_matches_exact(spark, tmp_path, seen_and_cands):
    from crawler_spark.operators.seen import BloomTable

    seen, cands = seen_and_cands
    bt = BloomTable(str(tmp_path / "blooms"), n_partitions=8)
    bt.build(seen, version=0)
    assert bt.latest_version() == 0

    got = {r["id"] for r in bt.filter_unseen(cands, seen, version=0, cache_registry=[]).collect()}
    want = {i for i in range(3000) if i % 3 != 0}
    assert got == want


def test_incremental_update(spark, tmp_path, seen_and_cands):
    from crawler_spark.operators.seen import BloomTable

    seen, cands = seen_and_cands
    bt = BloomTable(str(tmp_path / "blooms2"), n_partitions=8)
    bt.build(seen, version=0)
    # round 1 fetches ids 1 mod 3 → new delta
    delta = spark.range(1, 3000, 3).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    bt.update(spark, from_version=0, delta=delta, version=1)
    assert bt.latest_version() == 1
    seen2 = seen.unionByName(delta)
    got = {r["id"] for r in bt.filter_unseen(cands, seen2, version=1, cache_registry=[]).collect()}
    assert got == {i for i in range(3000) if i % 3 == 2}
    # old version pruned (crash-safety keeps only version-1 back)
    import os

    assert not os.path.isdir(str(tmp_path / "blooms2" / "v-1"))


@pytest.mark.parametrize("strategy", ["broadcast", "cogroup"])
def test_revoked_hashes_readmitted_by_exact_confirm(
    spark, tmp_path, seen_and_cands, strategy
):
    """Revocation needs nothing in the table: with the bitsets built from
    the FULL seen set and the confirm reading seen minus the revoked set R
    (the engine's _all_seen_df and _seen_df), the result equals a plain
    anti-join against seen minus R. A Bloom has no false negatives, so every
    revoked hash is a suspect that the confirm admits as new."""
    from crawler_spark.operators.seen import BloomTable

    seen, cands = seen_and_cands
    bt = BloomTable(str(tmp_path / "blooms3"), n_partitions=8)
    bt.build(seen, version=0)
    revoked = spark.createDataFrame(
        [(r["url_hash"],) for r in seen.limit(5).collect()], "h long"
    )
    seen_minus = seen.join(
        revoked, seen["url_hash"] == F.col("h"), "left_anti"
    )
    reg = []
    got = {
        r["id"]
        for r in bt.filter_unseen(
            cands, seen_minus, version=0, cache_registry=reg,
            strategy=strategy,
        ).collect()
    }
    want = {
        r["id"]
        for r in cands.join(seen_minus, "url_hash", "left_anti").collect()
    }
    assert len(want) == 2000 + 5  # every non-seen id, plus the revoked ones
    assert got == want
    for f in reg:
        f.unpersist()


def test_compaction_invisible_to_readers(spark, tmp_path):
    from crawler_spark.plans.checkpoint import Checkpointer

    ck = Checkpointer(str(tmp_path / "ck"))
    for r in range(6):
        df = spark.range(r * 10, r * 10 + 10).select(
            F.col("id").alias("url_hash")
        )
        ck.commit_round(r, {"seen_delta": df}, {})

    raw = {
        r["url_hash"]
        for r in ck.load_all_deltas(
            spark, "seen_delta", use_compact=False
        ).collect()
    }
    ck.compact(spark, "seen_delta", upto=3)
    assert ck.compacted_upto("seen_delta") == 3
    # full read = compact(≤3) + raw deltas 4-5
    got = {
        r["url_hash"] for r in ck.load_all_deltas(spark, "seen_delta").collect()
    }
    assert got == raw == set(range(60))
    # upto window below the compact → raw dirs (compact covers too much)
    upto2 = {
        r["url_hash"]
        for r in ck.load_all_deltas(spark, "seen_delta", upto=2).collect()
    }
    assert upto2 == set(range(30))
    # after window → raw dirs (compact can't split)
    after3 = {
        r["url_hash"]
        for r in ck.load_all_deltas(spark, "seen_delta", after=3).collect()
    }
    assert after3 == set(range(40, 60))
    # incremental re-compaction folds the old compact + tail
    ck.compact(spark, "seen_delta", upto=5)
    assert ck.compacted_upto("seen_delta") == 5
    got5 = {
        r["url_hash"] for r in ck.load_all_deltas(spark, "seen_delta").collect()
    }
    assert got5 == set(range(60))
    # repeating an already-covered horizon is a no-op, not a
    # read-and-overwrite of the same upto=K path (Spark refuses to
    # overwrite a path it is also reading from)
    ck.compact(spark, "seen_delta", upto=5)
    ck.compact(spark, "seen_delta", upto=4)
    assert ck.compacted_upto("seen_delta") == 5
    again = {
        r["url_hash"] for r in ck.load_all_deltas(spark, "seen_delta").collect()
    }
    assert again == set(range(60))


def test_engine_resumes_with_missing_stale_blooms(spark, tmp_path):
    """Crash between round commit and bloom write leaves a stale (or
    deleted) bitset table. A stale bloom could answer 'definitely new' for
    a committed hash — the engine must refuse it, fall back to the exact
    anti-join for the round, rebuild, and keep full replay parity."""
    import shutil

    from crawler_spark.oracle.replay import replay
    from crawler_spark.plans.rounds import CrawlEngine, EngineConfig
    from crawler_spark.sources.sitegen import (
        SiteSpec,
        generate_site,
        site_to_spark,
    )

    site = generate_site(SiteSpec(n_hosts=2, details_per_host=10, limit=5))
    sdfs = site_to_spark(spark, site)
    ck = str(tmp_path / "ck")
    cfg_kill = EngineConfig(
        ckpt_dir=ck, default_budget=6, use_bloom=True, bloom_partitions=4,
        max_rounds=2,
    )
    CrawlEngine(
        spark, sdfs["pages"], sdfs["seeds"], sdfs["politeness"], cfg_kill,
        connectors=site["connectors"],
    ).run()
    # simulate the crash window: bitsets gone, commits intact
    shutil.rmtree(f"{ck}/blooms", ignore_errors=True)

    cfg = EngineConfig(
        ckpt_dir=ck, default_budget=6, use_bloom=True, bloom_partitions=4
    )
    res = CrawlEngine(
        spark, sdfs["pages"], sdfs["seeds"], sdfs["politeness"], cfg,
        connectors=site["connectors"],
    ).run()
    pages = {r["url"]: r["html"] for _, r in site["pages"].iterrows()}
    oracle = replay(pages, site["seeds"].to_dict("records"),
                    site["connectors"])
    got = {r["url"]: r["text"] for r in res.webtext.collect()}
    assert got == oracle.webtext  # no double-crawl, no lost records
    # and the table was rebuilt for the resumed rounds
    from crawler_spark.operators.seen import BloomTable

    assert BloomTable(f"{ck}/blooms", 4).latest_version() is not None


def test_meta_persisted_and_config_mismatch_rejected(spark, tmp_path, seen_and_cands):
    """Bitsets are keyed pid = url_hash % n_partitions, so a table is only
    trustworthy under the config that built it. build/update persist
    (n_partitions, fpp); any mismatch — or a missing meta — reads as
    incompatible, the same treatment as a stale version."""
    from crawler_spark.operators.seen import BloomTable

    seen, _ = seen_and_cands
    bt = BloomTable(str(tmp_path / "bm"), n_partitions=4, fpp=0.01)
    bt.build(seen, version=0)
    assert bt.meta(0) == {"n_partitions": 4, "fpp": 0.01}
    assert bt.compatible(0)
    bt.update(spark, from_version=0, delta=seen.limit(1), version=1)
    assert bt.compatible(1)
    # same dir opened under a different partition count → incompatible
    assert not BloomTable(str(tmp_path / "bm"), n_partitions=8).compatible(1)
    assert not BloomTable(
        str(tmp_path / "bm"), n_partitions=4, fpp=0.001
    ).compatible(1)
    assert not bt.compatible(None)
    # missing meta (pre-meta table / crash between parquet and meta write)
    import os

    os.remove(os.path.join(str(tmp_path / "bm"), "v1", BloomTable.META))
    assert not bt.compatible(1)


def test_engine_resume_with_different_bloom_partitions(spark, tmp_path):
    """Resuming a crawl with a different bloom_partitions config must NOT
    trust the old table (wrong pid routing would report committed hashes
    'definitely new' → duplicate fetches): the engine falls back to the
    exact anti-join, full-rebuilds under the new config, and keeps replay
    parity."""
    from crawler_spark.operators.seen import BloomTable
    from crawler_spark.oracle.replay import replay
    from crawler_spark.plans.rounds import CrawlEngine, EngineConfig
    from crawler_spark.sources.sitegen import (
        SiteSpec,
        generate_site,
        site_to_spark,
    )

    site = generate_site(SiteSpec(n_hosts=2, details_per_host=10, limit=5))
    sdfs = site_to_spark(spark, site)
    ck = str(tmp_path / "ck")
    CrawlEngine(
        spark, sdfs["pages"], sdfs["seeds"], sdfs["politeness"],
        EngineConfig(ckpt_dir=ck, default_budget=6, use_bloom=True,
                     bloom_partitions=4, max_rounds=2),
        connectors=site["connectors"],
    ).run()
    assert BloomTable(f"{ck}/blooms", 4).meta(1)["n_partitions"] == 4

    # resume under a DIFFERENT partition count
    res = CrawlEngine(
        spark, sdfs["pages"], sdfs["seeds"], sdfs["politeness"],
        EngineConfig(ckpt_dir=ck, default_budget=6, use_bloom=True,
                     bloom_partitions=7),
        connectors=site["connectors"],
    ).run()
    pages = {r["url"]: r["html"] for _, r in site["pages"].iterrows()}
    oracle = replay(pages, site["seeds"].to_dict("records"),
                    site["connectors"])
    got = {r["url"]: r["text"] for r in res.webtext.collect()}
    assert got == oracle.webtext  # no duplicate fetches, no lost records
    # table rebuilt under the NEW config
    bt7 = BloomTable(f"{ck}/blooms", 7)
    v = bt7.latest_version()
    assert v is not None and bt7.meta(v)["n_partitions"] == 7


def test_auto_bloom_switch(spark, tmp_path):
    """use_bloom="auto" (the default): exact anti-join while the seen set is
    small — no bitset table materializes — and the Bloom sidecar switches
    itself on once the committed seen count crosses the threshold, with
    replay parity throughout."""
    import os

    from crawler_spark.oracle.replay import replay
    from crawler_spark.plans.rounds import CrawlEngine, EngineConfig
    from crawler_spark.sources.sitegen import (
        SiteSpec,
        generate_site,
        site_to_spark,
    )

    site = generate_site(SiteSpec(n_hosts=2, details_per_host=10, limit=5))
    sdfs = site_to_spark(spark, site)
    pages = {r["url"]: r["html"] for _, r in site["pages"].iterrows()}
    oracle = replay(pages, site["seeds"].to_dict("records"),
                    site["connectors"])

    # default threshold (2M): this toy crawl never enables the sidecar
    ck1 = str(tmp_path / "ck_exact")
    res = CrawlEngine(
        spark, sdfs["pages"], sdfs["seeds"], sdfs["politeness"],
        EngineConfig(ckpt_dir=ck1, default_budget=6),
        connectors=site["connectors"],
    ).run()
    assert {r["url"]: r["text"] for r in res.webtext.collect()} == oracle.webtext
    assert not os.path.isdir(f"{ck1}/blooms")

    # tiny threshold: the switch engages mid-crawl, parity unchanged
    ck2 = str(tmp_path / "ck_auto")
    res2 = CrawlEngine(
        spark, sdfs["pages"], sdfs["seeds"], sdfs["politeness"],
        EngineConfig(ckpt_dir=ck2, default_budget=6,
                     bloom_auto_threshold=5, bloom_partitions=4),
        connectors=site["connectors"],
    ).run()
    assert {r["url"]: r["text"] for r in res2.webtext.collect()} == oracle.webtext
    from crawler_spark.operators.seen import BloomTable

    bt = BloomTable(f"{ck2}/blooms", 4)
    assert bt.latest_version() is not None  # sidecar engaged itself


def test_sized_for_and_adopt(spark, tmp_path, seen_and_cands):
    """Auto-sizing from the seen count (VERDICT r2 #6): partitions target
    TARGET_PER_PART hashes per bucket, clamped power-of-two; adopt() reopens
    an existing table under its persisted config so resume never invalidates
    a healthy table."""
    from crawler_spark.operators.seen import BloomTable

    t = BloomTable.sized_for("/tmp/x", 10_000_000_000)
    assert t.n_partitions == 4096
    assert t.expected_per_part >= 10_000_000_000 // 4096
    assert BloomTable.sized_for("/tmp/x", 0).n_partitions == 16
    assert BloomTable.sized_for("/tmp/x", 5_000_000).n_partitions == 16
    assert BloomTable.sized_for("/tmp/x", 100_000_000).n_partitions == 32

    seen, _ = seen_and_cands
    bt = BloomTable(str(tmp_path / "ad"), n_partitions=8, fpp=0.02)
    bt.build(seen, version=3)
    ad = BloomTable.adopt(str(tmp_path / "ad"))
    assert (ad.n_partitions, ad.fpp) == (8, 0.02)
    assert ad.compatible(3)
    # no table yet → defaults
    assert BloomTable.adopt(str(tmp_path / "nothing")).n_partitions == 16
