"""--force and selective re-crawl (base.js:165; images-checker semantics at
the URL level). A recrawl wave's revocation lives only in the engine's seen
view: its hashes are anti-joined out of the pre-run seen deltas, and the
Bloom bitsets, which still hold them, route them to that exact confirm."""

import os

from pyspark.sql import functions as F

from crawler_spark.plans.rounds import CrawlEngine, EngineConfig
from crawler_spark.sources.sitegen import SiteSpec, generate_site, site_to_spark

SPEC = SiteSpec(n_hosts=2, details_per_host=8, limit=4, related_per_host=2)
RECRAWL = [
    ("http://h0.example.test/record/2", "c0"),
    ("http://h1.example.test/record/5", "c1"),
]


def _engine(spark, sdfs, ck, default_budget=10, **kw):
    cfg = EngineConfig(ckpt_dir=ck, default_budget=default_budget,
                       use_bloom=True, bloom_partitions=4, **kw)
    return CrawlEngine(spark, sdfs["pages"], sdfs["seeds"],
                       sdfs["politeness"], cfg)


def test_selective_recrawl_refetches_only_marked(spark, tmp_path, monkeypatch):
    from pyspark import StorageLevel

    site = generate_site(SPEC)
    sdfs = site_to_spark(spark, site)
    ck = str(tmp_path / "ck")
    first = _engine(spark, sdfs, ck).run()
    n_first = first.records.count()
    rounds_first = first.rounds

    recrawl = spark.createDataFrame(RECRAWL, "url string, connector_id string")
    persisted = []
    frame_cls = type(recrawl)
    persist = frame_cls.persist
    monkeypatch.setattr(
        frame_cls, "persist",
        lambda df, *a, **k: persisted.append(df) or persist(df, *a, **k),
    )
    eng = _engine(spark, sdfs, ck)
    second = eng.run(recrawl=recrawl)
    monkeypatch.undo()
    # every round the recrawl run commits records the revocation count, in
    # the manifest and in the in-memory round log
    assert second.metrics
    for m in second.metrics:
        assert m["revoked"] == len(RECRAWL)
        assert eng.ckpt.round_metric(m["round"], "revoked") == len(RECRAWL)
    # the run-scoped recrawl-hash cache is released when run() returns
    hashes = [df for df in persisted if df.columns == ["url_hash"]]
    assert hashes
    assert all(df.storageLevel == StorageLevel.NONE for df in hashes)
    # exactly the marked urls were fetched again, in rounds after the first run
    new_fetches = second.fetch_log.where(
        (F.col("round") >= rounds_first) & (F.col("status") == 200)
    ).select("url").collect()
    assert sorted(r["url"] for r in new_fetches) == sorted(u for u, _ in RECRAWL)
    # their records were rewritten (appended) — everything else untouched
    assert second.records.count() == n_first + len(RECRAWL)

    # a third run with no recrawl marks does nothing (idempotent again)
    third = _engine(spark, sdfs, ck).run()
    assert third.records.count() == second.records.count()


def test_recrawl_larger_than_one_round_budget(spark, tmp_path):
    """A recrawl wave bigger than one round's per-host budget: 12 marked
    URLs on one host pop over several rounds, so the URLs left after the
    first recrawl round must survive that round's frontier snapshot and
    its reload. Every marked URL is fetched again, exactly once."""
    site = generate_site(
        SiteSpec(n_hosts=3, details_per_host=18, limit=5, related_per_host=2)
    )
    sdfs = site_to_spark(spark, site)
    ck = str(tmp_path / "ckbig")
    first = _engine(spark, sdfs, ck, default_budget=7).run()
    urls = [(f"http://h0.example.test/record/{i}", "c0") for i in range(1, 13)]
    rc = spark.createDataFrame(urls, "url string, connector_id string")
    second = _engine(spark, sdfs, ck, default_budget=7).run(recrawl=rc)
    assert second.rounds - first.rounds >= 2
    refetched = second.fetch_log.where(
        (F.col("round") >= first.rounds) & (F.col("status") == 200)
    ).select("url").collect()
    assert sorted(r["url"] for r in refetched) == sorted(u for u, _ in urls)
    assert second.records.count() == first.records.count() + len(urls)


def test_force_recrawls_everything(spark, tmp_path):
    site = generate_site(SPEC)
    sdfs = site_to_spark(spark, site)
    ck = str(tmp_path / "ckf")
    first = _engine(spark, sdfs, ck).run()
    n_first = first.records.count()

    # force run from scratch state but same ckpt dir: frontier is exhausted,
    # so re-seed by disabling resume
    forced = _engine(spark, sdfs, str(tmp_path / "ckf2"), force=True).run()
    assert forced.records.count() == n_first


def test_force_does_not_refetch_within_run(spark, tmp_path):
    """--force ignores PRE-RUN history only: a URL fetched earlier in the
    SAME forced run is seen again (reference: the refetched file's rewrite
    re-arms the skip-if-exists check — base.js:135-138,165). Every URL is
    fetched exactly once in the forced run."""
    site = generate_site(SPEC)
    sdfs = site_to_spark(spark, site)
    forced = _engine(spark, sdfs, str(tmp_path / "ckf3"), force=True).run()
    fetched = [r["url"] for r in forced.fetch_log.collect()]
    assert len(fetched) == len(set(fetched)), "URL fetched twice under force"


def test_second_wave_revokes_only_its_own_urls(spark, tmp_path):
    """Two recrawl waves on the SAME engine: wave 2 re-fetches exactly its
    own URLs. Wave 1's revocations must not leak into it (those URLs were
    re-fetched, so they are seen again), and no revocation state is
    written beside the checkpoint."""
    site = generate_site(SPEC)
    sdfs = site_to_spark(spark, site)
    ck = str(tmp_path / "ckcum")
    n_first = _engine(spark, sdfs, ck).run().records.count()

    eng = _engine(spark, sdfs, ck)
    wave_a = spark.createDataFrame(RECRAWL, "url string, connector_id string")
    second = eng.run(recrawl=wave_a)
    assert second.records.count() == n_first + len(RECRAWL)

    wave_b = spark.createDataFrame(
        [
            ("http://h0.example.test/record/1", "c0"),
            ("http://h1.example.test/record/4", "c1"),
        ],
        "url string, connector_id string",
    )
    third = eng.run(recrawl=wave_b)
    assert third.records.count() == n_first + len(RECRAWL) + 2
    refetched = third.fetch_log.where(
        (F.col("round") >= second.rounds) & (F.col("status") == 200)
    ).select("url").collect()
    assert sorted(r["url"] for r in refetched) == sorted(
        u for u, _ in wave_b.collect()
    )
    assert not os.path.exists(os.path.join(ck, "_revoked_sidecar"))


def test_fresh_start_wipes_stale_rounds(spark, tmp_path):
    """run(resume=False) over an existing checkpoint removes the old run's
    committed rounds: the assembled outputs contain ONLY the new run's
    rows, and a later resume continues the NEW crawl, not the old one."""
    site = generate_site(SPEC)
    sdfs = site_to_spark(spark, site)
    ck = str(tmp_path / "ckw")
    first = _engine(spark, sdfs, ck).run()
    n = first.records.count()
    rounds_first = first.rounds

    fresh = _engine(spark, sdfs, ck, force=True).run(resume=False)
    # no stale union: exactly one record row per record, not two
    assert fresh.records.count() == n
    assert fresh.rounds <= rounds_first
    # resume after the fresh run continues IT (no new fetches needed)
    again = _engine(spark, sdfs, ck).run()
    assert again.records.count() == n
