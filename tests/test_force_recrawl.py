"""--force and selective re-crawl (base.js:165; images-checker semantics at
the URL level; SURVEY.md §4.3.2 cuckoo delete spill)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_spark.plans.rounds import CrawlEngine, EngineConfig
from crawler_spark.sources.sitegen import SiteSpec, generate_site, site_to_spark

SPEC = SiteSpec(n_hosts=2, details_per_host=8, limit=4, related_per_host=2)
RECRAWL = [
    ("http://h0.example.test/record/2", "c0"),
    ("http://h1.example.test/record/5", "c1"),
]


def _engine(spark, sdfs, ck, **kw):
    cfg = EngineConfig(ckpt_dir=ck, default_budget=10, use_bloom=True,
                       bloom_partitions=4, **kw)
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
    second = _engine(spark, sdfs, ck).run(recrawl=recrawl)
    monkeypatch.undo()
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


def test_cuckoo_roundtrip_and_vectorized_contains():
    from crawler_spark.operators.seen import CuckooFilter

    cf = CuckooFilter(256)
    hashes = np.array([3, -7, 123456789, -987654321, 2**62], dtype=np.int64)
    for h in hashes:
        assert cf.add(int(h))
    assert cf.contains_many(hashes).all()
    absent = np.array([11, -13, 999999999], dtype=np.int64)
    assert not cf.contains_many(absent).any()
    # scalar and vector paths agree
    for h in list(hashes) + list(absent):
        assert cf.contains(int(h)) == bool(
            cf.contains_many(np.array([h], dtype=np.int64))[0]
        )
    # serialization roundtrip preserves membership
    cf2 = CuckooFilter.from_bytes(cf.to_bytes(), cf.n_buckets)
    assert cf2.contains_many(hashes).all()
    # delete revokes membership
    assert cf.delete(int(hashes[0]))
    assert not cf.contains(int(hashes[0]))


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


def test_selective_recrawl_distributed_sidecar(spark, tmp_path, monkeypatch):
    """Same selective-recrawl semantics as above, but with the driver-cuckoo
    gate forced to 0 so the revocation wave takes the DISTRIBUTED path: a
    bucket-partitioned parquet sidecar consumed by filter_unseen's
    hash-keyed join. The driver cuckoo must stay unused and parity must be
    byte-identical to the cuckoo path."""
    import os

    from crawler_spark.operators.seen import BloomTable

    monkeypatch.setattr(BloomTable, "REVOKED_DRIVER_MAX", 0)
    site = generate_site(SPEC)
    sdfs = site_to_spark(spark, site)
    ck = str(tmp_path / "ckd")
    first = _engine(spark, sdfs, ck).run()
    n_first = first.records.count()
    rounds_first = first.rounds

    recrawl = spark.createDataFrame(RECRAWL, "url string, connector_id string")
    eng = _engine(spark, sdfs, ck)
    second = eng.run(recrawl=recrawl)
    new_fetches = second.fetch_log.where(
        (F.col("round") >= rounds_first) & (F.col("status") == 200)
    ).select("url").collect()
    assert sorted(r["url"] for r in new_fetches) == sorted(u for u, _ in RECRAWL)
    assert second.records.count() == n_first + len(RECRAWL)
    # structural: the wave never reached the driver cuckoo, and the sidecar
    # parquet exists bucket-partitioned under the checkpoint dir
    assert eng.bloom_table.deleted is None
    assert eng.bloom_table.revoked_df is not None
    assert os.path.isdir(os.path.join(ck, "_revoked_sidecar"))

    third = _engine(spark, sdfs, ck).run()
    assert third.records.count() == second.records.count()


def test_second_wave_over_cumulative_gate_takes_sidecar(
    spark, tmp_path, monkeypatch
):
    """Two recrawl waves on the SAME engine, each under the per-wave gate
    but over it combined: the engine must gate cumulatively (the cuckoo
    keeps wave 1) and route wave 2 to the distributed sidecar instead of
    crashing on mark_deleted's cumulative ValueError."""
    import os

    from crawler_spark.operators.seen import BloomTable

    monkeypatch.setattr(BloomTable, "REVOKED_DRIVER_MAX", 3)
    site = generate_site(SPEC)
    sdfs = site_to_spark(spark, site)
    ck = str(tmp_path / "ckcum")
    n_first = _engine(spark, sdfs, ck).run().records.count()

    eng = _engine(spark, sdfs, ck)
    wave_a = spark.createDataFrame(RECRAWL, "url string, connector_id string")
    second = eng.run(recrawl=wave_a)
    assert second.records.count() == n_first + len(RECRAWL)
    assert eng.bloom_table.n_revoked_driver == len(RECRAWL)  # cuckoo path

    wave_b = spark.createDataFrame(
        [
            ("http://h0.example.test/record/1", "c0"),
            ("http://h1.example.test/record/4", "c1"),
        ],
        "url string, connector_id string",
    )
    third = eng.run(recrawl=wave_b)  # 2 + 2 > 3: must NOT raise
    assert third.records.count() == n_first + len(RECRAWL) + 2
    # wave 2 went distributed; wave 1 stays in the driver cuckoo
    assert eng.bloom_table.n_revoked_driver == len(RECRAWL)
    assert eng.bloom_table.revoked_df is not None
    assert os.path.isdir(os.path.join(ck, "_revoked_sidecar"))


def test_mark_deleted_raises_over_gate(tmp_path, monkeypatch):
    import numpy as np

    from crawler_spark.operators.seen import BloomTable

    bt = BloomTable(str(tmp_path / "b"), n_partitions=4)
    monkeypatch.setattr(BloomTable, "REVOKED_DRIVER_MAX", 10)
    with pytest.raises(ValueError, match="set_revoked_df"):
        bt.mark_deleted(np.arange(11, dtype=np.int64))


def test_revoked_df_million_hashes_distributed(spark, tmp_path):
    """A ~10^6-hash revocation wave through set_revoked_df: filter_unseen
    must admit exactly (fresh ∪ revoked-seen) with the wave living only in
    executors — no driver cuckoo, no collect of the wave."""
    from crawler_spark.operators.seen import BloomTable

    h = lambda c: F.xxhash64(c.cast("string"))  # noqa: E731
    seen = spark.range(0, 4_000_000, 2).select(
        h(F.col("id")).alias("url_hash")
    )
    revoked = spark.range(0, 4_000_000, 4).select(
        h(F.col("id")).alias("url_hash")
    )
    cands = spark.range(0, 20_000).select(
        F.col("id"), h(F.col("id")).alias("url_hash")
    )
    bt = BloomTable(str(tmp_path / "blooms_rv"), n_partitions=8)
    bt.build(seen, version=0)
    bt.set_revoked_df(revoked)
    assert bt.deleted is None
    # caller contract: the seen view passed in is revocation-filtered
    # (exactly what the engine's load_all_deltas anti-join produces)
    seen_minus = seen.join(
        revoked.select(F.col("url_hash").alias("__r")),
        F.col("url_hash") == F.col("__r"),
        "left_anti",
    )
    reg = []
    got = {
        r["id"]
        for r in bt.filter_unseen(
            cands, seen_minus, version=0, cache_registry=reg
        ).collect()
    }
    want = {i for i in range(20_000) if i % 2 == 1 or i % 4 == 0}
    assert got == want
    for f in reg:
        f.unpersist()


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


def test_mark_deleted_over_gate_leaves_table_intact(tmp_path, monkeypatch):
    """An over-gate wave must be rejected WITHOUT being recorded: the
    caller reroutes it through set_revoked_df, and later small --force
    waves on the same instance must still fit under the gate."""
    import numpy as np

    from crawler_spark.operators.seen import BloomTable

    bt = BloomTable(str(tmp_path / "b2"), n_partitions=4)
    monkeypatch.setattr(BloomTable, "REVOKED_DRIVER_MAX", 10)
    with pytest.raises(ValueError, match="set_revoked_df"):
        bt.mark_deleted(np.arange(11, dtype=np.int64))
    # rejected hashes were NOT recorded
    assert bt._deleted_hashes == []
    assert bt.deleted is None
    # a small follow-up wave still lands in the cuckoo
    bt.mark_deleted(np.array([101, 102], dtype=np.int64))
    assert sorted(bt._deleted_hashes) == [101, 102]
    assert bt.deleted is not None
    assert bt.deleted.contains(101) and bt.deleted.contains(102)
