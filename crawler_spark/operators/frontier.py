"""Frontier construction & maintenance (SURVEY.md §2.1 S1, §2.7 U1).

The reference's frontier is implicit — pagination counters + seed lists +
related queues (base.js:19-23,59-65; seed rotations vam.js:10-14,
ceres-mcu.js:27-106). Here it is an explicit DataFrame with the deterministic
ordering tuple ``(seed_idx, page_no, in_page_idx, dfs_rank)`` that makes crawl
order reproducible under any parallelism (SURVEY.md §4.3.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crawler_spark import schemas
from crawler_spark.functions.canonicalize import url_hash, url_host


def frontier_rows(
    df: DataFrame,
    url: Column,
    *,
    depth: Column | int,
    seed_idx: Column | int,
    page_no: Column | int,
    in_page_idx: Column | int,
    dfs_rank: Column | int,
    round_added: int,
    kind: str,
    connector_id: Column,
    score: Column | float = 0.0,
    host: Column | None = None,
) -> DataFrame:
    """New frontier rows for the URLs ``url`` of ``df``, in
    ``schemas.FRONTIER`` column order and types (so positional unions of
    builder output are safe). ``url_hash`` and ``host`` derive from the URL
    unless ``host`` is given; a new row has ``attempts = 0`` and
    ``not_before = round_added``."""

    def val(v, dtype: str) -> Column:
        return (v if isinstance(v, Column) else F.lit(v)).cast(dtype)

    return df.select(
        url.alias("url"),
        url_hash(url).alias("url_hash"),
        (url_host(url) if host is None else host).alias("host"),
        val(depth, "int").alias("depth"),
        val(score, "double").alias("score"),
        val(seed_idx, "int").alias("seed_idx"),
        val(page_no, "int").alias("page_no"),
        val(in_page_idx, "int").alias("in_page_idx"),
        val(dfs_rank, "int").alias("dfs_rank"),
        val(round_added, "int").alias("round_added"),
        F.lit(0).alias("attempts"),
        val(round_added, "int").alias("not_before"),
        F.lit(kind).alias("kind"),
        connector_id.alias("connector_id"),
    )


def seeds_to_frontier(seeds: DataFrame, round_added: int = 0) -> DataFrame:
    """U1 seed-list union → initial frontier of search pages.

    ``seed_idx`` ordering is part of crawl-order parity (vam.js:10-14).
    Seed rows that share a URL (the same listing under two connectors) all
    enter the frontier, so round 0 fetches each under its own connector, as
    the reference walks each seed's search chain; one that round 0 leaves
    unpopped is deduped by the next ``add_candidates``.
    """
    return frontier_rows(
        seeds,
        F.col("url"),
        depth=0,
        seed_idx=F.col("seed_idx"),
        page_no=F.col("start_page"),
        in_page_idx=-1,
        dfs_rank=0,
        round_added=round_added,
        kind="search",
        connector_id=F.col("connector_id"),
    )


def add_candidates(frontier: DataFrame, candidates: DataFrame) -> DataFrame:
    """Union new links into the frontier, deduping per url_hash by keeping
    the lowest-ordered occurrence (J4 in-round memo cache,
    joconde.js:41,184-187) — that is exactly the row the sequential
    reference would have visited first, so ordering parity survives
    duplicate discovery.

    One row_number window over frontier ∪ candidates, partitioned by
    url_hash: a single hash Exchange and no global ordering. The
    candidates are often a deep round lineage (aggregations, explodes, the
    seen anti-join); the plan reads them once, so that lineage runs once.
    The window dedups the frontier side too, so the result holds one row
    per url_hash whatever the input frontier held.
    """
    from pyspark.sql import Window

    # frontier frames are always FRONTIER-shaped — the static column list
    # avoids `.columns` (which forces full analysis of the deep per-round
    # plan), and the explicit selects make the positional union safe
    # (`unionByName` would re-analyze both children per call)
    cols = [f.name for f in schemas.FRONTIER.fields]

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
    pool = frontier.select(*cols).union(candidates.select(*cols))
    return (
        pool.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def remove_popped(frontier: DataFrame, popped: DataFrame) -> DataFrame:
    """Frontier minus the batch just fetched (by url_hash anti-join)."""
    return frontier.join(
        popped.select(F.col("url_hash").alias("__p_h")),
        frontier["url_hash"] == F.col("__p_h"),
        "left_anti",
    )
