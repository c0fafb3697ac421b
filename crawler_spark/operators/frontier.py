"""Frontier construction & maintenance (SURVEY.md §2.1 S1, §2.7 U1).

The reference's frontier is implicit — pagination counters + seed lists +
related queues (base.js:19-23,59-65; seed rotations vam.js:10-14,
ceres-mcu.js:27-106). Here it is an explicit DataFrame with the deterministic
ordering tuple ``(seed_idx, page_no, in_page_idx, dfs_rank)`` that makes crawl
order reproducible under any parallelism (SURVEY.md §4.3.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawler_spark import schemas
from crawler_spark.functions.canonicalize import url_hash, url_host


def seeds_to_frontier(seeds: DataFrame, round_added: int = 0) -> DataFrame:
    """U1 seed-list union → initial frontier of search pages.

    ``seed_idx`` ordering is part of crawl-order parity (vam.js:10-14).
    """
    return (
        seeds.select(
            F.col("url"),
            url_hash(F.col("url")).alias("url_hash"),
            url_host(F.col("url")).alias("host"),
            F.lit(0).alias("depth"),
            F.lit(0.0).alias("score"),
            F.col("seed_idx"),
            F.col("start_page").alias("page_no"),
            F.lit(-1).alias("in_page_idx"),
            F.lit(0).alias("dfs_rank"),
            F.lit(round_added).alias("round_added"),
            F.lit(0).alias("attempts"),
            F.lit(round_added).alias("not_before"),
            F.lit("search").alias("kind"),
            F.col("connector_id"),
        )
        .withColumn("depth", F.col("depth").cast("int"))
        .withColumn("page_no", F.col("page_no").cast("int"))
    )


def add_candidates(
    frontier: DataFrame, candidates: DataFrame, broadcast_keys: bool = False
) -> DataFrame:
    """Union new links into the frontier, deduping per url_hash by keeping
    the lowest-ordered occurrence (J4 in-round memo cache,
    joconde.js:41,184-187) — that is exactly the row the sequential
    reference would have visited first, so ordering parity survives
    duplicate discovery.

    Scale shape: the row_number window is a SORT shuffle, so it runs only
    over the *contested* keys (url_hashes present in both sides) plus the
    new candidates; the untouched bulk of the frontier passes through a
    hash anti-join instead of being re-sorted every round.
    """
    from pyspark.sql import Window

    # frontier frames are always FRONTIER-shaped — the static column list
    # avoids `.columns` (which forces full analysis of the deep per-round
    # plan), and the explicit selects make the positional unions safe
    # (`unionByName` would re-analyze both children per call)
    cols = [f.name for f in schemas.FRONTIER.fields]
    cand = candidates.select(*cols)
    cand_keys = cand.select("url_hash").distinct()
    if broadcast_keys:
        # tiny (driver-bound) rounds hand lineage-truncated candidate
        # frames whose LogicalRDD plans carry no size stats — the caller
        # asserts the round bound makes the key set broadcast-small
        cand_keys = F.broadcast(cand_keys)
    contested = frontier.join(cand_keys, "url_hash", "left_semi")
    untouched = frontier.join(cand_keys, "url_hash", "left_anti")

    # connector_id leads the order: the reference runs connectors
    # sequentially in id order, so a URL listed by TWO connectors is
    # visited (and attributed) by the lexicographically first one — and it
    # doubles as the deterministic tiebreaker for otherwise-equal tuples
    w = Window.partitionBy("url_hash").orderBy(
        F.col("connector_id").asc(),
        F.col("seed_idx").asc(),
        F.col("page_no").asc(),
        F.col("in_page_idx").asc(),
        F.col("dfs_rank").asc(),
        F.col("round_added").asc(),
    )
    pool = contested.select(*cols).union(cand)
    deduped = (
        pool.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return untouched.select(*cols).union(deduped.select(*cols))


def remove_popped(frontier: DataFrame, popped: DataFrame) -> DataFrame:
    """Frontier minus the batch just fetched (by url_hash anti-join)."""
    return frontier.join(
        popped.select(F.col("url_hash").alias("__p_h")),
        frontier["url_hash"] == F.col("__p_h"),
        "left_anti",
    )
