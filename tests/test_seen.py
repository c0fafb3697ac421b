"""Bloom URL-seen structures (SURVEY.md §4.3.2)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from crawler_spark.operators.seen import BloomFilter


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=200))
def test_bloom_no_false_negatives(items):
    bf = BloomFilter.sized_for(max(len(items), 1), fpp=0.01)
    arr = np.array(items, dtype=np.int64)
    bf.add_many(arr)
    if len(arr):
        assert bf.maybe_contains(arr).all()


def test_bloom_fpp_reasonable():
    rng = np.random.default_rng(7)
    items = rng.integers(-(2**62), 2**62, 10_000, dtype=np.int64)
    probes = rng.integers(-(2**62), 2**62, 10_000, dtype=np.int64)
    bf = BloomFilter.sized_for(10_000, fpp=0.01)
    bf.add_many(items)
    fp = bf.maybe_contains(probes).mean()
    assert fp < 0.05


def test_bloom_roundtrip_bytes():
    bf = BloomFilter.sized_for(100)
    bf.add_many(np.arange(100, dtype=np.int64))
    bf2 = BloomFilter.from_bytes(bf.to_bytes(), bf.n_bits, bf.n_hashes)
    assert bf2.maybe_contains(np.arange(100, dtype=np.int64)).all()


def test_bloomtable_exact_parity(spark, tmp_path):
    """Bloom pre-filter + exact confirm == plain anti-join, always.
    (The ONE seen-set API: BloomTable; the driver-dict SeenSet was
    retired — exact anti-join is the small-scale path.)"""
    from pyspark.sql import functions as F

    from crawler_spark.operators.seen import BloomTable

    seen = spark.range(0, 5000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    cands = spark.range(2500, 7500).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.col("id").alias("payload"),
    )
    bt = BloomTable(str(tmp_path / "blooms"), n_partitions=8)
    bt.build(seen, version=0)
    got = sorted(
        r["payload"]
        for r in bt.filter_unseen(cands, seen, version=0, cache_registry=[]).collect()
    )
    assert got == list(range(5000, 7500))
