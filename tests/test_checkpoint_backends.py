"""Checkpointer interface contract, run against BOTH backends: the parquet
+manifest emulation (plans/checkpoint.py) and the catalog-table binding
(plans/catalog.py — Iceberg in production via DataFrameWriterV2, the V1
session catalog here, same control flow). Plus a full CrawlEngine run with
catalog checkpointing: kill/resume parity vs the parquet-backed crawl."""

import pytest
from pyspark.sql import functions as F

from crawler_spark import schemas
from crawler_spark.plans.catalog import CatalogCheckpointer
from crawler_spark.plans.checkpoint import Checkpointer
from crawler_spark.plans.rounds import _round_stats_from_written


def _mk(kind, spark, tmp_path, tag):
    if kind == "parquet":
        return Checkpointer(str(tmp_path / "ck"))
    db = f"cktest_{tag}"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path / 'wh'}'")
    return CatalogCheckpointer(spark, f"spark_catalog.{db}.run")


def _frontier(spark, n, start=0):
    rows = [
        (f"http://h/p{i}", i, "h", 0, 0.0, 0, 0, i, 0, 0, 0, 0, "record", "c0")
        for i in range(start, start + n)
    ]
    return spark.createDataFrame(rows, schemas.FRONTIER)


def _seen(spark, hashes):
    return spark.createDataFrame([(int(h),) for h in hashes], schemas.URL_SEEN)


def _records(spark, ids):
    rows = [
        ("c0", str(i), f"http://h/p{i}", [("t", [f"v{i}"])], [], None, 0, 0, i, 0)
        for i in ids
    ]
    return spark.createDataFrame(rows, schemas.RECORDS)


def _webtext(spark, ids):
    rows = [(f"http://h/p{i}", f"text {i}", None, None) for i in ids]
    return spark.createDataFrame(rows, schemas.WEBTEXT)


def _fetch_log(spark, round_no, n_ok, n_fail):
    rows = [
        (round_no, f"http://h/p{i}", 200, None, 10, None, 0)
        for i in range(n_ok)
    ] + [
        (round_no, f"http://h/f{i}", 404, "x", 0, None, 0)
        for i in range(n_fail)
    ]
    return spark.createDataFrame(rows, schemas.FETCH_LOG)


def _commit(ck, spark, round_no, n):
    """One engine-shaped round commit; parquet backend uses the footer
    stats_cb, catalog computes the same keys itself."""
    tables = {
        "seen_delta": _seen(spark, range(round_no * 10, round_no * 10 + n)),
        "records_delta": _records(spark, range(round_no * 10, round_no * 10 + n)),
        "webtext_delta": _webtext(spark, range(round_no * 10, round_no * 10 + n)),
        "fetch_log_delta": _fetch_log(spark, round_no, n, 1),
        "frontier": _frontier(spark, 5 + round_no),
    }
    metrics = {"popped": n}
    cb = _round_stats_from_written if isinstance(ck, Checkpointer) else None
    ck.commit_round(round_no, tables, metrics, stats_cb=cb)
    return metrics


@pytest.mark.parametrize("kind", ["parquet", "catalog"])
def test_checkpoint_interface_contract(kind, spark, tmp_path):
    ck = _mk(kind, spark, tmp_path, "iface")
    assert ck.latest_round() is None
    assert ck.load_all_deltas(spark, "seen_delta") is None

    m0 = _commit(ck, spark, 0, n=3)
    m1 = _commit(ck, spark, 1, n=2)
    _commit(ck, spark, 2, n=4)

    # identical metric keys/values from both backends' stats paths
    assert (m0["fetched_ok"], m0["fetch_failed"]) == (3, 1)
    assert m0["records_written"] == 3 and m0["frontier_rows"] == 5
    assert m1["records_written"] == 2 and m1["frontier_rows"] == 6
    # each table's write wall, in the metrics and the manifest
    tables = {
        "seen_delta", "records_delta", "webtext_delta", "fetch_log_delta",
        "frontier",
    }
    assert set(m0["commit_s"]) == tables and set(m1["commit_s"]) == tables
    assert all(s >= 0 for s in m1["commit_s"].values())
    assert ck.round_metric(1, "commit_s") == m1["commit_s"]

    assert ck.committed_rounds() == [0, 1, 2]
    assert ck.latest_round() == 2
    assert ck.sum_metric("fetched_ok") == 9
    assert ck.round_metric(1, "popped") == 2 and ck.round_metric(9, "x") is None

    assert ck.has_table(0, "frontier") and ck.has_table(2, "frontier")
    assert not ck.has_table(1, "link_graph_delta")
    assert not ck.has_table(3, "frontier")
    assert ck.load(spark, 0, "frontier").count() == 5
    assert {r["url_hash"] for r in ck.load(spark, 2, "seen_delta").collect()} == {
        20, 21, 22, 23
    }

    # delta-union windows
    assert ck.load_all_deltas(spark, "seen_delta").count() == 9
    assert ck.load_all_deltas(spark, "seen_delta", upto=1).count() == 5
    assert ck.load_all_deltas(spark, "seen_delta", after=0).count() == 6
    assert ck.load_all_deltas(spark, "link_graph_delta", upto=0) is None

    # compaction surface exists on both (no-op on catalog)
    ck.compact(spark, "seen_delta", upto=2)
    assert ck.load_all_deltas(spark, "seen_delta").count() == 9

    # killed-commit invisibility: data rows without a manifest never
    # surface through any reader, and cleanup keeps the committed state
    if kind == "parquet":
        import os

        part = ck.round_dir(3)
        _seen(spark, [99]).write.parquet(os.path.join(part, "seen_delta"))
    else:
        _seen(spark, [99]).withColumn(
            "__round", F.lit(3)
        ).write.mode("append").partitionBy("__round").saveAsTable(
            ck._tbl("seen_delta")
        )
    assert ck.latest_round() == 2
    assert ck.load_all_deltas(spark, "seen_delta").count() == 9
    ck.cleanup_partial()
    assert ck.latest_round() == 2
    assert ck.load_all_deltas(spark, "seen_delta").count() == 9

    # re-committing the killed round must REPLACE its orphan rows, not
    # append next to them (idempotent partition overwrite). Re-plant the
    # orphans AFTER cleanup: the parquet backend's cleanup_partial rmtree'd
    # the manifest-less dir, which would otherwise make this vacuous there
    # (and on the V1 catalog, where DELETE is unsupported, the original
    # orphans survived cleanup anyway — both paths now recommit over live
    # orphan rows)
    if kind == "parquet":
        import os

        _seen(spark, [98, 99]).write.mode("overwrite").parquet(
            os.path.join(ck.round_dir(3), "seen_delta")
        )
    else:
        _seen(spark, [98]).withColumn(
            "__round", F.lit(3)
        ).write.mode("append").partitionBy("__round").saveAsTable(
            ck._tbl("seen_delta")
        )
    _commit(ck, spark, 3, n=2)
    assert ck.load(spark, 3, "seen_delta").count() == 2
    assert ck.load_all_deltas(spark, "seen_delta").count() == 11

    # fresh-start wipe drops everything
    ck.wipe()
    assert ck.latest_round() is None
    assert ck.load_all_deltas(spark, "seen_delta") is None


def test_engine_runs_on_catalog_checkpoint(spark, tmp_path):
    """Full crawl with catalog-table checkpointing: kill after 2 rounds,
    resume to completion, outputs match the parquet-checkpointed crawl."""
    from crawler_spark.plans.rounds import CrawlEngine, EngineConfig
    from crawler_spark.sources.sitegen import (
        SiteSpec,
        generate_site,
        site_to_spark,
    )

    site = generate_site(SiteSpec(n_hosts=2, details_per_host=10, limit=4))
    sdfs = site_to_spark(spark, site)
    db = "cktest_engine"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path / 'wh'}'")

    def run(catalog, tag, **kw):
        cfg = EngineConfig(
            ckpt_dir=str(tmp_path / tag),
            default_budget=6,
            catalog_checkpoint=(
                f"spark_catalog.{db}.crawl" if catalog else None
            ),
            **kw,
        )
        return CrawlEngine(
            spark, sdfs["pages"], sdfs["seeds"], sdfs["politeness"], cfg,
            connectors=site["connectors"],
        ).run()

    run(True, "cat", max_rounds=2)  # simulated kill
    res = run(True, "cat")  # resume on catalog tables
    ref = run(False, "parq")

    def key(r):
        recs = sorted(
            (x["url"], x["id"]) for x in r.records.collect()
        )
        web = sorted((x["url"], x["text"]) for x in r.webtext.collect())
        seen = sorted(x["url_hash"] for x in r.url_seen.collect())
        return recs, web, seen

    assert key(res) == key(ref)
    # idempotent over the complete catalog checkpoint
    again = run(True, "cat")
    assert again.records.count() == res.records.count()
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
