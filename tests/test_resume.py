"""Checkpoint/resume + politeness regression tests (SURVEY.md §5.2 item 4,
§4.3.4; north_rule "resumable from checkpoint").

Also pins the round-batch seen-set fix: a URL fetched in round k and
rediscovered from a page fetched in the same round must NOT be fetched
again (the Bloom sidecar only covers committed rounds, so the round batch
needs its own exact anti-join — see rounds.py).
"""

from collections import Counter

import pytest

from crawler_spark.oracle.replay import replay
from crawler_spark.plans.rounds import CrawlEngine, EngineConfig
from crawler_spark.sources.sitegen import SiteSpec, generate_site, site_to_spark

# budget 10 / 3 hosts / limit 6 reproduces same-round rediscovery of related
# records (the configuration that exposed the duplicate-fetch bug)
SPEC = SiteSpec(n_hosts=3, details_per_host=20, limit=6)


@pytest.fixture(scope="module")
def site():
    return generate_site(SPEC)


@pytest.fixture(scope="module")
def oracle(site):
    pages = {r.url: r.html for r in site["pages"].itertuples()}
    return replay(pages, site["seeds"].to_dict("records"))


def _engine(spark, sdfs, ckpt_dir, **kw):
    cfg = EngineConfig(
        ckpt_dir=ckpt_dir, default_budget=10, use_bloom=True,
        bloom_partitions=4, **kw,
    )
    return CrawlEngine(
        spark, sdfs["pages"], sdfs["seeds"], sdfs["politeness"], cfg
    )


def test_kill_resume_reaches_identical_state(spark, site, oracle, tmp_path):
    sdfs = site_to_spark(spark, site)
    ck = str(tmp_path / "ck")
    killed = _engine(spark, sdfs, ck, max_rounds=3).run()
    assert killed.rounds == 3  # stopped mid-crawl

    resumed = _engine(spark, sdfs, ck).run()
    urls = [r["url"] for r in resumed.records.select("url").collect()]
    # no duplicate fetches across the kill/resume boundary (bug regression)
    assert {u: c for u, c in Counter(urls).items() if c > 1} == {}
    assert sorted(urls) == sorted(oracle.webtext.keys())

    # webtext byte parity survives resume
    wt = {r["url"]: r["text"] for r in resumed.webtext.collect()}
    assert wt == oracle.webtext

    # idempotent re-run of a complete checkpoint adds nothing
    rerun = _engine(spark, sdfs, ck).run()
    assert rerun.records.count() == resumed.records.count()


def _last_job_id(spark) -> int:
    # job IDs are one global sequence; a job-group filter would miss the
    # commit's thread-pool writes
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1)


@pytest.fixture(scope="module")
def fresh_run(spark, site, tmp_path_factory):
    sdfs = site_to_spark(spark, site)
    ck = str(tmp_path_factory.mktemp("ck_fresh"))
    j0 = _last_job_id(spark)
    res = _engine(spark, sdfs, ck).run()
    return {"sdfs": sdfs, "ckpt": ck, "result": res,
            "jobs": _last_job_id(spark) - j0}


@pytest.fixture(scope="module")
def fresh_result(fresh_run):
    return fresh_run["result"]


# measured: 87 jobs for this crawl (4 rounds, no empty probe round; the
# seed count and round 0's pop count run under the tiny-round switch; the
# per-connector config is collected once, not broadcast twice a round)
FRESH_CRAWL_MAX_JOBS = 87


def test_fresh_crawl_job_budget(fresh_run):
    assert fresh_run["jobs"] <= FRESH_CRAWL_MAX_JOBS


STAGES = (
    "pop", "fetch", "sidecar_upkeep", "extract", "expand", "seen_filter",
    "commit", "bloom_upkeep",
)


def test_rounds_record_stage_walls(fresh_run):
    from crawler_spark.plans.checkpoint import Checkpointer

    ckpt = Checkpointer(fresh_run["ckpt"])
    for i, m in enumerate(fresh_run["result"].metrics):
        # every stage's wall in the round log; the stages before the
        # commit in the committed manifest. The run's first round also
        # holds the work run() does before its loop.
        first = ("run_start",) if i == 0 else ()
        assert tuple(m["stage_s"]) == first + STAGES
        assert all(s >= 0 for s in m["stage_s"].values())
        manifest = ckpt.manifest(m["round"])
        committed = manifest["metrics"]["stage_s"]
        assert tuple(committed) == first + STAGES[:6]
        # each written table's write wall, in both
        assert set(m["commit_s"]) == set(manifest["lineage"])
        assert "frontier" in m["commit_s"]
        assert all(s >= 0 for s in m["commit_s"].values())
        assert manifest["metrics"]["commit_s"] == m["commit_s"]
        # generated-class compiles: up to the commit in the manifest, the
        # whole round in the round log
        compiles = manifest["metrics"]["codegen_compiles"]
        assert isinstance(compiles, int) and compiles >= 0
        assert isinstance(m["codegen_compiles"], int)
        assert m["codegen_compiles"] >= compiles


def test_repeat_crawl_compiles_no_code(spark, fresh_run, tmp_path):
    # a second crawl of the same site runs only plan shapes the first one
    # compiled: with the codegen cache sized above a crawl's working set
    # (session.SESSION_DEFAULTS) every generated class is a cache hit,
    # where Spark's 100-entry default recompiles ~145 classes a round
    res = _engine(spark, fresh_run["sdfs"], str(tmp_path / "ck")).run()
    assert res.metrics
    compiles = [m["codegen_compiles"] for m in res.metrics]
    assert compiles == [0] * len(compiles)


def test_resume_refuses_round_without_frontier_snapshot(spark, site, tmp_path):
    # older builds could commit a round whose frontier was stored as
    # add/del deltas instead of a snapshot; resuming such a checkpoint
    # names the round and the way out instead of failing on a later read
    from crawler_spark import schemas

    eng = _engine(spark, site_to_spark(spark, site), str(tmp_path / "ck"))
    seen = spark.createDataFrame([(1,)], schemas.URL_SEEN)
    eng.ckpt.commit_round(0, {"seen_delta": seen}, {"popped": 1})
    with pytest.raises(RuntimeError, match="round 0 .*--no-resume"):
        eng.run()


def test_complete_checkpoint_resume_is_idle(spark, fresh_run, monkeypatch):
    from crawler_spark.plans import rounds

    pops = []
    pop = rounds.pop_batch
    monkeypatch.setattr(
        rounds, "pop_batch", lambda *a, **k: pops.append(1) or pop(*a, **k)
    )
    eng = _engine(spark, fresh_run["sdfs"], fresh_run["ckpt"])
    latest = eng.ckpt.latest_round()
    res = eng.run()
    assert pops == []  # no pop ran
    assert res.metrics == [] and eng.ckpt.latest_round() == latest
    assert res.rounds == fresh_run["result"].rounds


def test_fresh_run_has_no_duplicate_fetches(fresh_result):
    res = fresh_result
    urls = [r["url"] for r in res.records.select("url").collect()]
    assert {u: c for u, c in Counter(urls).items() if c > 1} == {}
    # fetch_log also fetches each ok URL exactly once
    log_urls = [
        r["url"]
        for r in res.fetch_log.where("status = 200").select("url").collect()
    ]
    assert {u: c for u, c in Counter(log_urls).items() if c > 1} == {}


def test_robots_disallow_never_crawled(spark, tmp_path):
    site = generate_site(
        SiteSpec(n_hosts=2, details_per_host=10, limit=5,
                 disallow={0: ["/record/1"]})
    )
    sdfs = site_to_spark(spark, site)
    res = _engine(spark, sdfs, str(tmp_path / "ck")).run()
    urls = [r["url"] for r in res.records.select("url").collect()]
    # /record/1 prefix covers record/1 and record/1x — none may appear for h0
    assert not [u for u in urls if "h0.example.test/record/1" in u]
    # other host unaffected
    assert any("h1.example.test/record/1" in u for u in urls)


def test_per_host_budget_respected(fresh_result):
    # every round's per-host fetch count ≤ budget (10)
    from pyspark.sql import functions as F

    host = F.regexp_extract("url", r"http://([^/]+)/", 1)
    per = (
        fresh_result.fetch_log.groupBy("round", host.alias("host"))
        .count()
        .collect()
    )
    assert per and all(r["count"] <= 10 for r in per)
