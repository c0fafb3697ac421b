"""Structured-Streaming frontier ingestion (SURVEY.md §2.9): watermarked
in-window dedup + exactly-once file sink + batch-loop handoff."""

import json
import time

import pytest
from pyspark.sql import functions as F

from crawler_spark.streaming.ingest import (
    CANDIDATE_STREAM_SCHEMA,
    candidates_from_stream,
    start_frontier_sink,
)


def _write_feed(path, rows):
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def test_stream_ingest_dedup_and_sink(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    out = tmp_path / "frontier_sink"
    ckpt = tmp_path / "ckpt"

    rows = [
        # messy duplicates of the same resource → one row after canonical+dedup
        {"url": "HTTP://H0.Example.TEST:80/a/../r/1?utm=x", "discovered_ts": "2026-01-01 00:00:01", "depth": 0, "score": 0.0, "connector_id": "c0"},
        {"url": "http://h0.example.test/r/1", "discovered_ts": "2026-01-01 00:00:02", "depth": 0, "score": 0.0, "connector_id": "c0"},
        {"url": "http://h1.example.test/r/2", "discovered_ts": "2026-01-01 00:00:03", "depth": 1, "score": 0.5, "connector_id": "c0"},
        {"url": "javascript:void(0)", "discovered_ts": "2026-01-01 00:00:04", "depth": 0, "score": 0.0, "connector_id": "c0"},  # non-fetchable → dropped
    ]
    _write_feed(feed / "batch1.ndjson", rows)

    stream = (
        spark.readStream.schema(CANDIDATE_STREAM_SCHEMA)
        .json(str(feed))
    )
    cands = candidates_from_stream(stream, drop_params=frozenset({"utm"}))
    q = start_frontier_sink(cands, str(out), str(ckpt))
    q.awaitTermination(120)

    got = spark.read.parquet(str(out))
    urls = sorted(r["url"] for r in got.collect())
    # RFC-3986 canonicalization collapsed case/port/dot-segments/utm, so the
    # two messy variants became one row
    assert urls == [
        "http://h0.example.test/r/1",
        "http://h1.example.test/r/2",
    ]
    assert "url_hash" in got.columns and "host" in got.columns

    # exactly-once: restart over the same input adds nothing
    stream2 = spark.readStream.schema(CANDIDATE_STREAM_SCHEMA).json(str(feed))
    q2 = start_frontier_sink(
        candidates_from_stream(stream2, drop_params=frozenset({"utm"})),
        str(out), str(ckpt),
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(out)).count() == 2

    # second feed file: new url appended, old duplicate suppressed in-window
    _write_feed(feed / "batch2.ndjson", [
        {"url": "http://h0.example.test/r/1", "discovered_ts": "2026-01-01 00:00:05", "depth": 0, "score": 0.0, "connector_id": "c0"},
        {"url": "http://h2.example.test/r/3", "discovered_ts": "2026-01-01 00:00:06", "depth": 0, "score": 0.0, "connector_id": "c0"},
    ])
    stream3 = spark.readStream.schema(CANDIDATE_STREAM_SCHEMA).json(str(feed))
    q3 = start_frontier_sink(
        candidates_from_stream(stream3, drop_params=frozenset({"utm"})),
        str(out), str(ckpt),
    )
    q3.awaitTermination(120)
    final = sorted(r["url"] for r in spark.read.parquet(str(out)).collect())
    assert "http://h2.example.test/r/3" in final
    assert len(final) == 3  # r/1 not re-admitted within the watermark window


def test_per_host_rates_tumbling_counts(spark, tmp_path):
    """per_host_rates (politeness feed): tumbling event-time windows with
    per-host candidate counts, exercised through a real streaming query."""
    import json

    from crawler_spark.streaming.ingest import (
        candidates_from_stream,
        per_host_rates,
    )

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"url": "http://h0.test/a", "discovered_ts": "2026-01-01 00:00:10",
         "depth": 0, "score": 0.0, "connector_id": "c0"},
        {"url": "http://h0.test/b", "discovered_ts": "2026-01-01 00:00:50",
         "depth": 0, "score": 0.0, "connector_id": "c0"},
        {"url": "http://h1.test/a", "discovered_ts": "2026-01-01 00:01:20",
         "depth": 0, "score": 0.0, "connector_id": "c1"},
    ]
    (src / "b.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = spark.readStream.schema(
        "url string, discovered_ts timestamp, depth int, score double, "
        "connector_id string"
    ).json(str(src))
    rates = per_host_rates(candidates_from_stream(stream))
    got: list = []
    q = (
        rates.writeStream.foreachBatch(
            lambda df, _eid: got.extend(df.collect())
        )
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    by = {(r["host"], r["window_start"].minute): r["n_candidates"]
          for r in got}
    assert by == {("h0.test", 0): 2, ("h1.test", 1): 1}
