"""The batch-iterative crawl loop (SURVEY.md §3.1 Spark re-expression).

One round is one Spark DAG, built by one ``CrawlEngine`` method per stage
(``_run_rounds`` calls them in this order, each timed into the round's
``stage_s``):

    _pop             frontier ─(robots)─(W1 per-host budget pop)
                              ─(salted host repartition)
    _fetch           ─(J2 fixture-fetch join)─[fetched, materialized once]
    _sidecar_upkeep  ─(adaptive / trap / alias / validator sidecars, WARC)
    _extract         ─(one extract pass, Arrow UDF: search → links,
                       detail → records)─(page-metadata join)
                      ─[extracted, materialized once]─(secondary chains)
    _expand          ─(record links, next pages, related → URL gates)
    _seen_filter     ─(J1 seen anti-join / Bloom)─(+ retries)
    _commit          ─(frontier union)─(checkpoint commit)
    _bloom_upkeep    ─(Bloom build/update, seen-delta compaction)

The driver stops after the commit whose exact frontier count is 0, so no
empty round is probed after the last one.

The reference's sequential page loop (base.js:67-113) is the degenerate
1-host / budget-1 case; its deterministic visit order is preserved not by
executing sequentially but by carrying the ordering tuple
``(seed_idx, page_no, in_page_idx, dfs_rank)`` on every row and assigning
related-record ranks per connector policy (after/before parent write —
met-museum.js:241-253 vs joconde.js:180-200). Parity = sort by tuple.

Scale notes (the parts that must survive 1000 executors / 10^10 URLs):

* the frontier union dedup is a per-key window over ``url_hash`` — a single
  hash-partitioned shuffle over frontier ∪ candidates, no global ordering
  anywhere, that runs the round's candidate lineage once
  (``add_candidates``);
* the seen set is only ever touched by (a) Bloom-prefiltered anti-join reads
  and (b) per-round delta appends — never rewritten;
* the pages scan is joined against a broadcast of the (bounded) round batch,
  so each round reads only the fetched keys' row groups;
* all per-row logic (HTML parse, canonicalize) is Arrow-batched;
* the pop window exchange moves only the ordering tuple, never full rows
  (pop_batch prune_shuffle) — at 10^10 rows that exchange is the round's
  largest data movement.

The remaining per-round O(frontier) write — the full snapshot — has a
delta mode (``EngineConfig.frontier_storage="delta"``): each round
persists only its candidate additions and popped-hash tombstones (both
O(round batch)) with a full snapshot every ``frontier_snapshot_every``
rounds; reconstruction replays the same remove/add functions over the
snapshot, so state is identical by construction (parity-pinned against
full mode AND the replay oracle in tests/test_frontier_delta.py).
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field as dc_field

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crawler_spark import schemas
from crawler_spark.functions.canonicalize import url_hash, url_host
from crawler_spark.operators import opic as opic_mod
from crawler_spark.operators.extract import (
    RECORD_OUT_COLS,
    ROUND_OUT_SCHEMA,
    ConnectorConfig,
    extract_links_batch_for,
    extract_records_batch_for,
    extract_round_batch,
)
from crawler_spark.operators.fetch import (
    fixture_fetch,
    live_fetch,
    live_retryable,
    split_retries,
)
from crawler_spark.operators.frontier import (
    add_candidates,
    frontier_rows,
    remove_popped,
    seeds_to_frontier,
)
from crawler_spark.operators import politeness as politeness_mod
from crawler_spark.operators.politeness import (
    apply_robots,
    pop_batch,
    salted_host_repartition,
)
from crawler_spark.operators import secondary
from crawler_spark.operators.seen import BloomTable
from crawler_spark.plans.checkpoint import Checkpointer
from crawler_spark.plans.sidecar import (
    Sidecar,
    freshest,
    keep_all,
    keep_freshest,
)


def _round_stats_from_written(lineage: dict) -> dict:
    """Per-round fetch/record metrics from the parquet the commit just
    wrote (north_rule: per-round fetch/parse metrics) — zero extra Spark
    actions, so the round DAG is analyzed and executed exactly once.

    Bounded by construction: ``records_written`` reads only parquet footers
    (O(files) metadata), and the fetch-log status/bytes read is O(round
    batch), which the per-host budgets cap regardless of crawl size."""
    import os

    import pyarrow.parquet as pq

    def _footer_rows(name: str) -> int:
        ent = lineage[name]
        return sum(
            pq.ParquetFile(os.path.join(ent["path"], f)).metadata.num_rows
            for f in ent["files"]
        )

    n_records = _footer_rows("records_delta")
    # exact committed frontier size, carried in the manifest so the next
    # round (or a resume) can size its frontier WRITE layout without ever
    # running a count action over the (possibly 10^10-row) frontier.
    # Delta-frontier rounds don't write the snapshot — they report None and
    # the loop keeps a driver-side upper bound instead.
    n_frontier = _footer_rows("frontier") if "frontier" in lineage else None
    # delta rounds: exact row count of the add delta (footer metadata only).
    # Dedup against the live frontier can only shrink it, so it is a true
    # upper bound on this round's frontier growth — the loop uses it to keep
    # its driver-side frontier_rows bound honest on BIG rounds too (where no
    # n_links count action ever runs).
    n_adds = _footer_rows("frontier_add") if "frontier_add" in lineage else None
    fl = lineage["fetch_log_delta"]
    n_ok = n_failed = n_bytes = n_304 = 0
    for f in fl["files"]:
        t = pq.read_table(
            os.path.join(fl["path"], f), columns=["status", "bytes"]
        )
        status = t.column("status").to_numpy(zero_copy_only=False)
        byts = t.column("bytes").to_numpy(zero_copy_only=False)
        ok = status == 200
        nm = status == 304
        n_ok += int(ok.sum())
        # a 304 is a successful visit that cost no transfer, not a failure
        n_failed += int((~ok & ~nm).sum())
        n_304 += int(nm.sum())
        n_bytes += int(np.nan_to_num(byts[ok].astype("float64")).sum())
    return {
        "fetched_ok": n_ok,
        "fetch_failed": n_failed,
        "not_modified": n_304,
        "bytes_fetched": n_bytes,
        "records_written": n_records,
        "frontier_rows": n_frontier,
        "frontier_adds": n_adds,
    }


# adaptive backoff bounds (EngineConfig.adaptive_politeness): the largest
# crawl-delay multiplier, and the delay a throttling host with no configured
# crawl-delay backs off from
ADAPTIVE_MAX_FACTOR = 64.0
ADAPTIVE_BASE_DELAY_MS = 1000
# pointer-jumping bound of the canonical alias collapse
CANONICAL_MAX_HOPS = 8


@dataclass
class EngineConfig:
    ckpt_dir: str
    # round checkpointing backend: None (default) = the parquet+manifest
    # emulation under ckpt_dir; "[catalog.]namespace.prefix" = catalog
    # tables via plans/catalog.CatalogCheckpointer — real Iceberg tables
    # when an Iceberg catalog is configured, the session catalog otherwise.
    # ckpt_dir is still required either way: the Bloom bitset table and the
    # probed-robots cache are filesystem sidecars.
    catalog_checkpoint: str | None = None
    default_budget: int = 1000
    global_batch: int | None = None
    max_rounds: int = 10_000
    # URL-seen strategy: True = always BloomTable, False = always exact
    # anti-join, "auto" (default) = exact until the seen set crosses
    # bloom_auto_threshold rows, then the Bloom sidecar switches on — the
    # 10^10-URL configuration engages itself instead of being opt-in. The
    # seen count comes from the committed manifests' fetched_ok metrics
    # (zero extra Spark jobs).
    use_bloom: bool | str = "auto"
    bloom_auto_threshold: int = 2_000_000
    # None (default) = auto-size: adopt an existing table's persisted
    # partition count on resume, and re-size from the committed seen count
    # (BloomTable.sized_for) at each full rebuild. An int pins it.
    bloom_partitions: int | None = None
    # full Bloom rebuild cadence, also the seen-delta compaction cadence:
    # compaction folds the O(rounds) per-round delta dirs into one table so
    # a 10^4-round crawl doesn't read 10^4 directories per round
    bloom_rebuild_every: int = 8
    use_opic: bool = False
    opic_initial_cash: float = 1.0
    target_per_task: int = 200
    max_attempts: int = 10
    # --force (base.js:165): ignore the whole URL-seen set and re-crawl
    force: bool = False
    # "fixture" (pages-table join, tests/recorded corpora) or "live"
    # (real HTTP via stdlib urllib, per-host crawl-delay enforced in-worker)
    fetch_mode: str = "fixture"
    fetch_timeout_s: float = 60.0  # base.js:39
    user_agent: str = "crawler-spark/0.1"
    # live robots.txt acquisition (live mode only): a bounded fetch wave of
    # <scheme://netloc>/robots.txt at run start (seed + recrawl hosts) and
    # per round (hosts newly added to the frontier — each URL's host is
    # probed before the round that could pop it). Parsed rows append to a
    # persistent ckpt-side table; user-supplied politeness rows always win
    # for their hosts. Unavailable robots ⇒ explicit allow-all row
    # (RFC 9309 §2.3.1), which also records the probe.
    live_robots: bool = True
    robots_timeout_s: float = 20.0
    # opt-in live sitemap discovery: one bounded fetch wave of
    # <scheme://netloc>/sitemap.xml over the seed hosts at FRESH run start
    # (plus one capped child wave for sitemapindex files). Discovered URLs
    # enter the frontier as depth-1 records scored by sitemap <priority>,
    # through the same add_candidates dedup as extracted links; on resume
    # the wave is skipped — round 0's commit already holds its rows.
    live_sitemaps: bool = False
    # opt-in URL curation gate (functions/urlfilter.url_junk) on extracted
    # link candidates: crawler-trap shapes (param explosions, digit-soup
    # paths, session tokens, oversize URLs) are dropped BEFORE the seen
    # anti-join, so they never cost Bloom/frontier work. A blocklist
    # DataFrame is passed to CrawlEngine(url_blocklist=...) and applies
    # even when the heuristics stay off.
    url_junk_filter: bool = False
    # opt-in adaptive per-host backoff (live mode): hosts answering a
    # round's fetches with 429/503 for at least half of at least 4 requests
    # (politeness.throttle_stats) get their crawl-delay multiplied ×2 for
    # following rounds (up to ADAPTIVE_MAX_FACTOR); a clean round halves
    # the factor back toward 1. A host with no configured delay backs off
    # from ADAPTIVE_BASE_DELAY_MS. AIMD-shaped, persisted next to the
    # checkpoint like the robots probe cache, so resume keeps the learned
    # factors.
    adaptive_politeness: bool = False
    # opt-in evidence-based trap suppression (the incremental twin of
    # functions/urlfilter.host_dup_stats): per-host HLL sketches of
    # distinct URL hashes vs distinct body fingerprints, merged across
    # rounds in a host-grain sidecar (Datasketches HLL ≈ KB per host
    # regardless of URL count, so 10^6 hosts is a ~GB table, never a
    # 10^10-row set). A host whose estimated URL count exceeds
    # trap_min_urls with urls/fingerprints ≥ trap_dup_ratio (calendar
    # traps, session-id loops mint unbounded URLs over near-constant
    # content) is anti-joined out of link candidates from the NEXT round
    # on. Shape-based suppression (url_junk_filter) is the prior; this is
    # the posterior learned from fetched bytes.
    trap_detection: bool = False
    trap_min_urls: int = 1000
    trap_dup_ratio: float = 20.0
    # opt-in <link rel=canonical> alias collapse: pages declaring a
    # canonical different from their own URL feed an append-only alias
    # sidecar (url → canonical, O(round) extraction — the tag pull is a
    # JVM regexp inside the fetched-bytes scan, operators/redirects.py);
    # from the NEXT round, link candidates are rewritten to the collapsed
    # terminal (pointer-jumped over the alias map, cycles dropped) BEFORE
    # the seen anti-join, so the frontier and URL-seen set key on
    # canonical identity and alias duplicates are never fetched. Off by
    # default: rewriting changes crawl order vs the reference's literal
    # URL identity, so it must never engage under a parity gate.
    canonical_collapse: bool = False
    # opt-in conditional revisit fetches (live mode, RFC 9110 §13): ETag /
    # Last-Modified response validators persist in a checkpoint sidecar
    # (url → validators, freshest per url); popped batches join them back
    # so revisits send If-None-Match / If-Modified-Since, and an unchanged
    # resource answers 304 — headers, no body. The 304 row is a permanent
    # non-200 for the round (no re-parse, no new record — the previously
    # committed record IS the current content), which is exactly the
    # bandwidth shape a 10^10-URL recrawl needs: unchanged pages cost a
    # request, not a transfer. Pairs with the change-rate revisit
    # scheduler (operators/revisit.py) deciding WHEN to revisit.
    conditional_fetch: bool = False
    # opt-in soft-404 suppression at the record sink: a fetched page whose
    # extracted text trips the high-confidence content signal (error
    # phrase AND abnormally short body — functions/urlfilter.is_soft404,
    # pure JVM predicate riding the existing extraction scan) produces no
    # record/webtext row. The URL still counts as fetched and seen — the
    # page EXISTS, it is just an HTTP-200 error template; suppressing the
    # visit would make the frontier re-pop it forever.
    soft404_filter: bool = False
    # opt-in webtext curation at run() end (mirrors soft404_filter's
    # sink-stage opt-in shape, but runs on the ASSEMBLED corpus, where
    # cross-document dedup is well-defined — a per-round pass could never
    # see a dup whose twin committed three rounds earlier). Both are
    # recomputed deterministically from the committed deltas, so
    # resume/exactly-once round semantics are untouched.
    #
    # keep_best: near-dup clusters (MinHash-LSH banded pairs → distributed
    # connected components) keep only the highest-quality_score member —
    # the curation a training-data pipeline wants at the sink.
    keep_best: bool = False
    keep_best_threshold: float = 0.62
    # dedup_paragraphs: cross-document paragraph dedup — a paragraph
    # survives only at its globally-first (url_hash, pos) occurrence;
    # every later copy is cut and the survivors are rejoined in document
    # order (functions/dedup.paragraph_dedup — hash-keyed aggregation,
    # no pair join). Applied AFTER keep_best when both are on.
    dedup_paragraphs: bool = False
    # opt-in language backfill on the webtext sink: live fetches carry no
    # corpus language (lang is NULL), so the input_hint shape loses its
    # lang column exactly when crawling for real. When on, NULL lang is
    # filled from the stopword-vote heuristic (functions/textstats.langid
    # — pure JVM, rides the existing extraction projection); a non-NULL
    # lang (fixture corpora, WARC Content-Language) is never overridden.
    lang_detect: bool = False
    # opt-in WARC archive mirror: write each round's fetched-OK pages as
    # Common-Crawl-style containers under <warc_out>/round=<N>/ (the
    # archive-as-you-crawl shape; sources/warc.warc_export — one
    # .warc.gz per partition, written to temp + atomically renamed, so a
    # killed/re-run round replaces whole files, never tears them
    # (fixture-mode bytes are fully deterministic; live timestamps vary).
    warc_out: str | None = None
    # re-probe cadence: a cached robots row older than this many rounds no
    # longer counts as known, so the host is re-probed on its next wave
    # (rules changing mid-crawl are picked up). None = cache for the crawl.
    robots_ttl_rounds: int | None = None
    # AQE self-tuning: AQE's value (runtime coalescing, skew-join splits)
    # begins when round batches carry real data; below this popped-URL
    # count the engine turns spark.sql.adaptive.enabled off for the round
    # and restores the session setting when run() returns. Measured on the
    # e2e fixture crawl: AQE's per-shuffle sub-jobs + re-planning cost
    # ~45 s/round of driver time at 20-URL rounds (319 jobs → 144, wall
    # 225 s → 87 s) while changing nothing about the result. A 100 TB crawl
    # pops millions of URLs per round and keeps AQE on throughout; only
    # tail/test/interactive rounds duck under. None (default) derives the
    # threshold from CLUSTER WIDTH: defaultParallelism × target_per_task ×
    # 16 (= the measured 100k on local[32] with the default 200-row
    # target), so the tiny-round optimizations scale with the executor
    # count instead of being pinned to this box. An int pins it.
    aqe_min_batch: int | None = None
    # frontier persistence: "full" rewrites the whole frontier snapshot
    # every round (simple, cheapest at driver-bound round sizes); "delta"
    # writes O(round batch) add/del deltas per round plus a full snapshot
    # every frontier_snapshot_every rounds — at a 10^10-row frontier the
    # per-round full rewrite is the engine's largest write, so delta mode
    # cuts commit IO ~snapshot_every×; "auto" (default) is full below
    # frontier_delta_threshold driver-known frontier rows and delta above
    # (like use_bloom="auto", the at-scale configuration engages itself).
    # State reconstruction replays the SAME remove_popped/add_candidates
    # functions the live loop applies (semantics identical by
    # construction, parity-tested in tests/test_frontier_delta.py); resume
    # works from any committed round, mid-interval included, and
    # mixed-mode checkpoints (auto crossing the threshold) reconstruct
    # naturally — any round with a snapshot is a replay base.
    frontier_storage: str = "auto"
    frontier_delta_threshold: int = 10_000_000
    frontier_snapshot_every: int = 8
    # delta-frontier expiry: keep only the newest N frontier snapshots (and
    # the add/del deltas they need) — bounds checkpoint storage over a long
    # delta crawl, where old O(frontier) snapshots dominate. None (default)
    # keeps full history (kill-anywhere resume to ANY round); production
    # sets e.g. 2, trading resume depth for bounded storage — the horizon
    # is recorded in frontier_expiry.json.
    frontier_expire_intervals: int | None = None
    # opt-in per-round link-graph edge log (src_hash, dst_hash) — the input
    # for offline frontier re-scoring (operators/opic.py:pagerank) between
    # crawls. Off by default: it adds O(round links) commit volume.
    persist_link_graph: bool = False


def tiny_round_thresholds(
    default_parallelism: int, cfg: "EngineConfig"
) -> tuple[int, int]:
    """(aqe_min, shuffle_floor) for the tiny-round optimizations, derived
    from CLUSTER WIDTH unless pinned: the AQE/narrow-shuffle switch engages
    below defaultParallelism × target_per_task × 16 popped URLs (= the
    measured 100k on local[32] with the default 200-row target), and the
    narrowed shuffle never drops below 1/8 of the cores — so a 4000-core
    cluster keeps both behaviors at proportionally bigger rounds instead of
    inheriting this box's constants."""
    par = max(1, default_parallelism)
    aqe_min = (
        cfg.aqe_min_batch
        if cfg.aqe_min_batch is not None
        else par * cfg.target_per_task * 16
    )
    return aqe_min, max(4, par // 8)


@dataclass
class CrawlResult:
    records: DataFrame
    webtext: DataFrame
    url_seen: DataFrame
    fetch_log: DataFrame
    rounds: int
    metrics: list[dict]


def _robots_is_final(col):
    # a probe is FINAL (cacheable) for 200 and 4xx; 5xx/network rows are
    # transient disallow-alls that the next wave re-probes
    return (col >= 200) & (col < 500)


def _robots_backfill(rob: DataFrame) -> DataFrame:
    # bookkeeping columns absent from tables written by older builds (a
    # resume must not crash on its own cache)
    if "probe_status" not in rob.columns:
        rob = rob.withColumn("probe_status", F.lit(200))
    if "probed_round" not in rob.columns:
        rob = rob.withColumn("probed_round", F.lit(0))
    return rob


def _robots_fold(rob: DataFrame) -> DataFrame:
    """Robots probe-cache compaction: TTL re-probes append one row per host
    per wave. Keep, per host, the freshest row overall AND the freshest
    FINAL row (≤2 rows) — exactly the rows the effective-politeness winner
    window can ever select at ANY round (the freshest unexpired final is
    always the freshest final, and the freshness-wins fallback is the
    freshest overall). Keeping only the single freshest row would let a
    fresh transient (5xx disallow-all) probe DELETE a still-unexpired final
    row and wrongly block the host until the next re-probe."""
    rob = _robots_backfill(rob)
    final = _robots_is_final(F.col("probe_status"))
    w_all = Window.partitionBy("host").orderBy(
        F.col("probed_round").desc(),
        final.desc(),
        F.col("probe_status").asc(),
    )
    w_final = Window.partitionBy("host", final).orderBy(
        F.col("probed_round").desc(), F.col("probe_status").asc()
    )
    return (
        rob.withColumn("__rn", F.row_number().over(w_all))
        .withColumn("__rf", F.row_number().over(w_final))
        .where((F.col("__rn") == 1) | (final & (F.col("__rf") == 1)))
        .drop("__rn", "__rf")
    )


_FRONTIER_COLS = schemas.FRONTIER.fieldNames()


def _expandable():
    """Record rows whose connector follows related links."""
    return (F.col("kind") == "record") & F.col("related_policy").isin(
        "after_parent_write", "before_parent_write"
    )


@dataclass
class _RunState:
    """What one ``CrawlEngine.run`` carries from round to round."""

    round_no: int
    # the latest committed round when the run started (-1: fresh crawl)
    start_latest: int
    # the round whose commit the bloom table must cover to be trusted
    last_committed: int | None
    # running seen-set size from the committed manifests (no Spark job);
    # drives the use_bloom="auto" exact→Bloom switch
    seen_count: int
    # session settings, restored when run() returns
    orig_aqe: str
    orig_shuffle: str
    # tiny_round_thresholds
    aqe_min: int
    shuffle_floor: int
    has_lang: bool
    # the run-start frontier (_start_frontier), then each commit's
    frontier: DataFrame | None = None
    # driver-known frontier size (exact, or an upper bound after delta
    # rounds) — sizes the frontier WRITE layout each round; None = unknown
    # (old manifests without the metric), which disables the sizing, never
    # correctness
    frontier_rows: int | None = None
    # set once a commit's exact frontier count is 0 (or a complete
    # checkpoint is resumed): no further round runs
    frontier_empty: bool = False
    # run(recrawl=...): the revoked hashes and their count
    recrawl_hashes: DataFrame | None = None
    n_revoked: int | None = None
    # delta-frontier persistence: run-start additions no commit holds yet
    pending_add_rows: DataFrame | None = None
    # frames persisted for the whole run, released when run() returns
    run_caches: list = dc_field(default_factory=list)
    metrics_log: list = dc_field(default_factory=list)


@dataclass
class _Round:
    """One round's frames and driver-known sizes, filled in stage by
    stage."""

    no: int
    # the driver JVM's generated-class compile count at round start
    codegen0: int = 0
    # wall seconds per stage, recorded by stage()
    stage_s: dict = dc_field(default_factory=dict)
    # frames persisted by the round's stages, released at its end
    caches: list = dc_field(default_factory=list)
    # pop
    pol_bytes: int | None = None
    allowed: DataFrame | None = None
    popped_raw: DataFrame | None = None
    popped: DataFrame | None = None
    remaining: DataFrame | None = None
    n_popped: int = 0
    # n_popped < aqe_min: a driver-bound round (tiny_round_thresholds)
    tiny: bool = False
    # the round's shuffle width
    width: int = 0
    # fetch
    fetched: DataFrame | None = None
    ok: DataFrame | None = None
    retry: DataFrame | None = None
    seen_round: DataFrame | None = None
    # extract
    links: DataFrame | None = None
    recs: DataFrame | None = None
    n_links: int = 0
    n_recs: int = 0
    # expand
    cands: DataFrame | None = None
    # seen_filter
    round_adds: DataFrame | None = None
    # commit
    metrics: dict = dc_field(default_factory=dict)
    snapshot_round: bool = True

    @contextmanager
    def stage(self, name: str):
        """Record the enclosed block's wall seconds as ``stage_s[name]``."""
        t0 = time.perf_counter()
        yield
        self.stage_s[name] = round(time.perf_counter() - t0, 3)

    def small(self, df: DataFrame) -> DataFrame:
        """Broadcast-hint a round-bounded frame in tiny rounds. A frame
        derived from a join inherits the join's size over-estimate — a
        persisted or checkpointed frame reports its origin plan's
        statistics (PySpark 4.1: a 50-row broadcast join over a 2M-row scan
        reports ~3.2 GB planned, persisted or eager-localCheckpointed) — so
        the planner would not broadcast it; the driver KNOWS the bound
        (n_popped). Big rounds keep planner / AQE decisions."""
        return F.broadcast(df) if self.tiny else df


def _codegen_compiles(spark: SparkSession) -> int:
    """Generated classes the driver JVM has compiled so far (Spark's
    ``CodegenMetrics``). A class found in the JVM-wide codegen cache
    (``spark.sql.codegen.cache.maxEntries``) is not compiled again, so a
    round whose plan shapes an earlier round already ran adds little."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _materialize_once(df: DataFrame, rnd: _Round) -> DataFrame:
    """``df`` computed exactly once, before any of the commit's concurrent
    writes can race to be its first materializer — concurrent
    first-computes of an uncached block each run the lineage, and in live
    mode that lineage is real HTTP requests (duplicate fetches would break
    politeness).

    Tiny rounds: EVERY Dataset op eagerly re-analyzes its whole logical
    plan, so at tiny batches the dominant round cost is Catalyst analysis
    over the join lineage, paid again by each downstream op. The eager
    localCheckpoint is the one materialization AND swaps the plan for a
    shallow scan of it. Coalesce after: a join inherits the pages scan's
    file partitioning (32+ mostly-empty partitions for a handful of rows),
    and the coalesced count is what every downstream stage of the round
    then runs at. Big rounds persist and count instead: analysis amortizes
    there, and a lost persisted block is recomputed from lineage, where a
    lost local-checkpoint block fails the job."""
    if rnd.tiny:
        return df.localCheckpoint(eager=True).coalesce(rnd.width)
    df = df.persist()
    df.count()
    return df


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        seeds: DataFrame,
        politeness: DataFrame | None = None,
        cfg: EngineConfig | None = None,
        connectors: dict[str, ConnectorConfig] | None = None,
        url_blocklist: DataFrame | None = None,
    ):
        self.spark = spark
        self.pages = pages
        self.seeds = seeds
        self.politeness = politeness
        # live robots acquisition: user-supplied rows are kept separate so
        # they always win over probed ones; self.politeness becomes the
        # effective union the round loop enforces
        self._user_politeness = politeness
        self.cfg = cfg or EngineConfig(ckpt_dir="/tmp/crawler_spark_ckpt")
        # per-connector extraction programs (body format, selectors,
        # encoding); shipped inside the extractor task closures
        self.connectors = connectors
        # opt-in URL curation gate on link candidates (functions/urlfilter):
        # cfg.url_junk_filter enables the structural-junk heuristics, and a
        # blocklist DataFrame (one `domain` column of registrable domains)
        # anti-joins candidates before they ever reach the seen filter
        self.url_blocklist = url_blocklist
        if self.cfg.catalog_checkpoint:
            from crawler_spark.plans.catalog import CatalogCheckpointer

            self.ckpt = CatalogCheckpointer(spark, self.cfg.catalog_checkpoint)
        else:
            self.ckpt = Checkpointer(self.cfg.ckpt_dir)
        import os as _os

        # checkpoint sidecars (plans/sidecar.py): per-key caches persisted
        # NEXT TO the checkpoint, keyed by host or url, not by round —
        # resume reuses them. Each is constructed with its fold and file
        # bound; the domain readers and updates below interpret the rows.
        def _sidecar(name, fold, max_files=64):
            return Sidecar(
                spark, _os.path.join(self.cfg.ckpt_dir, name), fold, max_files
            )

        # probed-robots politeness rows (re-probing on every resume would
        # hammer every known host)
        self._robots = _sidecar("robots_politeness", _robots_fold)
        # adaptive-backoff factors; factor-1.0 rows (== absent) fold away
        self._adaptive = _sidecar(
            "adaptive_politeness",
            lambda t: keep_freshest("host")(t).where(F.col("factor") > 1.0),
        )
        # trap-suppression sketches
        self._traps = _sidecar("trap_sketches", keep_freshest("host"))
        # rel=canonical / redirect alias map: RAW edges, not collapsed — the
        # read path pointer-jumps, so stored pairs keep later-learned chain
        # links composable
        self._aliases = _sidecar("canonical_aliases", keep_freshest("url"))
        # HTTP validators (ETag/Last-Modified)
        self._validators = _sidecar("http_validators", keep_freshest("url"))
        # 304 visit log: unchanged-revisit evidence for the change-rate
        # estimator — HISTORY, not state, so compaction keeps every row
        self._nm = _sidecar("not_modified_visits", keep_all, max_files=256)
        # persisted frames created by _curate_webtext (one LSH gram frame
        # per run when keep_best is on); the caller unpersists after the
        # curated outputs materialize
        self._curation_caches: list = []
        bloom_root = _os.path.join(self.cfg.ckpt_dir, "blooms")
        if self.cfg.bloom_partitions is None:
            # auto: adopt the persisted partition count (resume keeps a
            # healthy table trusted); re-sized from the seen count at the
            # next full rebuild
            self.bloom_table = BloomTable.adopt(bloom_root)
        else:
            self.bloom_table = BloomTable(
                bloom_root, self.cfg.bloom_partitions
            )
        # per-connector paging/related config — a handful of rows, broadcastable
        self.seed_cfg = seeds.select(
            "connector_id",
            "paging_style",
            "limit",
            "start_page",
            "max_offset",
            "related_policy",
        ).dropDuplicates(["connector_id"])

    # ------------------------------------------------------------------
    def _empty(self, schema) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    # ---- adaptive per-host backoff (AIMD on 429/503) ---------------------

    def _load_adaptive_factors(self) -> DataFrame | None:
        """Freshest ``(host, factor)`` per host from the sidecar, or None.
        Rows at factor 1.0 are equivalent to absent (kept until compaction
        folds them away)."""
        t = self._adaptive.read()
        if t is None:
            return None
        return freshest(t, "host").select("host", "factor")

    def _adaptive_update(self, fetched: DataFrame, round_no: int) -> None:
        """One bounded append per live round: hosts whose throttle-signal
        ratio crossed the config threshold double their factor (capped);
        hosts that answered clean halve back toward 1. Work is one
        aggregation over the already-materialized round batch plus a join
        against the (compacted) factor table."""
        stats = politeness_mod.throttle_stats(fetched)
        old = self._load_adaptive_factors()
        if old is not None:
            stats = stats.join(
                old.select("host", F.col("factor").alias("__old")),
                "host",
                "left",
            )
        else:
            stats = stats.withColumn("__old", F.lit(None).cast("double"))
        oldf = F.coalesce(F.col("__old"), F.lit(1.0))
        newf = (
            F.when(
                F.col("backoff"),
                F.least(oldf * 2, F.lit(ADAPTIVE_MAX_FACTOR)),
            )
            .when(F.col("clean"), F.greatest(oldf / 2, F.lit(1.0)))
            .otherwise(oldf)
        )
        rows = stats.select(
            "host",
            newf.alias("factor"),
            F.lit(int(round_no)).alias("updated_round"),
        ).where(newf != oldf)
        if rows.count():
            self._adaptive.append(rows)

    # -- trap suppression (evidence-based; the incremental form of
    #    functions/urlfilter.host_dup_stats) -------------------------------

    def _load_trap_sketches(self) -> DataFrame | None:
        """Freshest (host, url_sk, fp_sk) per host from the sidecar —
        sketches are merged cumulatively at update time, so the newest
        row per host IS the whole-crawl state."""
        t = self._traps.read()
        if t is None:
            return None
        return freshest(t, "host").select("host", "url_sk", "fp_sk")

    def _trap_update(self, ok: DataFrame, round_no: int) -> None:
        """One bounded append per round: per-host HLL sketches of this
        round's distinct URL hashes and body fingerprints, hll_union'd
        into the persisted state for the hosts the round touched (other
        hosts' rows stay put; freshest-per-host read). O(round batch)
        aggregation — the same cost shape as the adaptive-backoff
        update."""
        from crawler_spark.functions.urlfilter import url_host

        cur = (
            ok.select(
                url_host(F.col("url")).alias("host"),
                F.xxhash64("url").alias("__u"),
                F.xxhash64("body").alias("__f"),
            )
            .groupBy("host")
            .agg(
                F.hll_sketch_agg("__u").alias("url_sk"),
                F.hll_sketch_agg("__f").alias("fp_sk"),
            )
        )
        old = self._load_trap_sketches()
        if old is not None:
            cur = cur.join(
                old.select(
                    "host",
                    F.col("url_sk").alias("__ou"),
                    F.col("fp_sk").alias("__of"),
                ),
                "host",
                "left",
            ).select(
                "host",
                F.when(F.col("__ou").isNull(), F.col("url_sk"))
                .otherwise(F.hll_union("url_sk", "__ou"))
                .alias("url_sk"),
                F.when(F.col("__of").isNull(), F.col("fp_sk"))
                .otherwise(F.hll_union("fp_sk", "__of"))
                .alias("fp_sk"),
            )
        self._traps.append(
            cur.withColumn("updated_round", F.lit(int(round_no)))
        )

    def _trapped_hosts(self) -> DataFrame | None:
        """Hosts whose sketch estimates cross the trap thresholds. Host
        grain over the (tiny) sidecar — Catalyst's own size estimate
        broadcasts it into the candidate gate's anti-join."""
        sk = self._load_trap_sketches()
        if sk is None:
            return None
        est_u = F.hll_sketch_estimate("url_sk")
        est_f = F.greatest(F.hll_sketch_estimate("fp_sk"), F.lit(1))
        return sk.where(
            (est_u >= self.cfg.trap_min_urls)
            & (est_u.cast("double") / est_f >= self.cfg.trap_dup_ratio)
        ).select("host")

    # ---- <link rel=canonical> alias collapse --------------------------

    def _alias_update(self, ok: DataFrame, round_no: int) -> None:
        """One bounded append per round: (url, canonical) for every fetched
        page declaring a canonical different from its own URL. The tag
        extraction is a JVM regexp over the already-scanned bytes; only
        pages WITH a differing declaration produce rows (typically a small
        fraction of the batch), so the sidecar is O(aliased pages), never
        O(frontier).

        BOTH alias sources — rel=canonical hrefs here and 3xx landings
        below — canonicalize the target with the row's OWN connector
        drop_params (the set extract_links applied to this connector's
        discovered URLs): an alias target carrying a dropped param (e.g.
        ?width=5 under drop_params={'width'}) would otherwise be stored
        under a different xxhash64 seen-key than its link-discovered form
        and the collapse would miss, re-fetching the resource."""
        from crawler_spark.functions.canonicalize import (
            canonicalize_urls_by_connector_udf,
            canonicalize_urls_udf,
            rel_canonical_href,
        )

        per_conn = bool(self.connectors) and "connector_id" in ok.columns
        if per_conn:
            _canon_by_conn = canonicalize_urls_by_connector_udf(
                {cid: c.drop_params for cid, c in self.connectors.items()}
            )

            def canon_col(target, base):
                return _canon_by_conn(target, base, F.col("connector_id"))

        else:
            _canon_default = canonicalize_urls_udf(frozenset())

            def canon_col(target, base):
                return _canon_default(target, base)

        html = F.col("body")
        if dict(ok.dtypes).get("body") == "binary":
            html = F.decode(html, "UTF-8")
        aliases = (
            ok.select(
                "url", "body",
                *(["connector_id"] if per_conn else []),
            )
            .withColumn(
                "__canon", canon_col(rel_canonical_href(html), F.col("url"))
            )
            .where(
                F.col("__canon").isNotNull()
                & (F.col("__canon") != F.col("url"))
            )
            .select(
                "url",
                F.col("__canon").alias("canonical"),
                F.lit(int(round_no)).alias("updated_round"),
            )
        )
        if "final_url" in ok.columns:
            # live mode: 3xx chains the HTTP opener followed are aliases
            # too (redirects.py module docstring's "recorded at fetch
            # time" source) — same sidecar, same collapse. A page that
            # both redirected AND declares a canonical keeps only the
            # rel=canonical row (the deeper target; also makes the
            # freshest-per-url read deterministic within a round).
            # The landing URL is canonicalized like every other alias
            # target (same per-connector canon_col as the rel=canonical
            # rows above): a Location header can carry an uppercase host,
            # a default port, dot-segments, or a connector-dropped param,
            # and storing it raw would give the same resource a different
            # xxhash64 seen-key than its link-discovered form (round-4
            # ADVICE).
            landed = ok.where(
                F.col("final_url").isNotNull()
                & (F.col("final_url") != F.col("url"))
            )
            redirects = (
                landed.select(
                    "url",
                    canon_col(
                        F.col("final_url"), F.col("url")
                    ).alias("canonical"),
                    F.lit(int(round_no)).alias("updated_round"),
                )
                .where(
                    F.col("canonical").isNotNull()
                    & (F.col("canonical") != F.col("url"))
                )
            )
            aliases = aliases.unionByName(
                redirects.join(
                    aliases.select(F.col("url").alias("__cu")),
                    redirects["url"] == F.col("__cu"),
                    "left_anti",
                )
            )
        self._aliases.append(aliases)

    def _load_alias_map(self) -> DataFrame | None:
        """Collapsed alias map ``(url, canonical_final)`` or None.

        Freshest declaration per url wins (a page may change its canonical
        between revisits), then canonical-of-canonical chains — including
        chains learned across DIFFERENT rounds in either order — are
        collapsed by pointer jumping (operators/redirects.py:
        resolve_redirects, ceil(log2 max_hops)+1 equi-joins over the alias
        table only). Cycle rows (sites do ship canonical loops) resolve to
        nothing and are dropped: the candidate keeps its literal URL."""
        t = self._aliases.read()
        if t is None:
            return None
        from crawler_spark.operators.redirects import resolve_redirects

        edges = freshest(t, "url").select("url", "canonical")
        out = resolve_redirects(
            edges, "url", "canonical", max_hops=CANONICAL_MAX_HOPS
        )
        return out.where(F.col("resolved")).select(
            "url", F.col("final_canonical").alias("canonical_final")
        )

    def _apply_alias_map(
        self, cands: DataFrame, amap: DataFrame
    ) -> DataFrame:
        """Rewrite candidate URLs to collapsed canonical identity: one
        LEFT equi-join on url (Sidecar.broadcast_if_small), url_hash/host
        recomputed JVM-side so the downstream seen anti-join and per-host
        politeness key on the terminal URL."""
        from crawler_spark.functions.canonicalize import url_host

        m = self._aliases.broadcast_if_small(amap).select(
            F.col("url").alias("__alias_u"),
            F.col("canonical_final").alias("__alias_c"),
        )
        joined = cands.join(
            m, cands["url"] == F.col("__alias_u"), "left"
        )
        new_url = F.coalesce(F.col("__alias_c"), cands["url"])
        repl = {
            "url": new_url.alias("url"),
            "url_hash": F.xxhash64(new_url).alias("url_hash"),
            "host": url_host(new_url).alias("host"),
        }
        return joined.select(
            *[repl.get(c, F.col(c)) for c in _FRONTIER_COLS]
        )

    # ---- HTTP validators (conditional revisit fetches) -----------------

    def _validators_update(self, ok: DataFrame, round_no: int) -> None:
        """One bounded append per round: (url, etag, last_modified) for
        every 200 response that supplied a validator. 304 rows never reach
        ``ok`` and need no update — the validators they were sent with are
        already the sidecar's freshest row for that url."""
        rows = ok.where(
            F.col("etag").isNotNull() | F.col("last_modified").isNotNull()
        ).select(
            "url",
            "etag",
            "last_modified",
            F.lit(int(round_no)).alias("updated_round"),
        )
        self._validators.append(rows)

    def _load_validators(self) -> DataFrame | None:
        """Freshest (url, req_etag, req_last_modified) per url, or None —
        column names match live_fetch's conditional-request inputs."""
        t = self._validators.read()
        if t is None:
            return None
        return freshest(t, "url").select(
            "url",
            F.col("etag").alias("req_etag"),
            F.col("last_modified").alias("req_last_modified"),
        )

    def _nm_update(self, fetched: DataFrame, round_no: int) -> None:
        """Append this round's 304 answers as (url, ts, round) — the
        unchanged-revisit evidence operators/revisit.py's
        visit_history_with_not_modified folds into the change-rate
        history. O(304s in the round); no read-modify-write."""
        rows = fetched.where(F.col("status") == 304).select(
            "url",
            F.col("warc_ts").alias("ts"),
            F.lit(int(round_no)).alias("round"),
        )
        self._nm.append(rows)

    def not_modified_visits(self) -> DataFrame | None:
        """All logged 304 visits ``(url, ts, fetch_id)`` or None —
        ``fetch_id`` is the round number (the deterministic same-ts
        tiebreak the change-rate window orders by)."""
        t = self._nm.read()
        if t is None:
            return None
        return t.select(
            "url", "ts", F.col("round").cast("long").alias("fetch_id")
        )

    def _curate_webtext(self, webtext: DataFrame) -> DataFrame:
        """Opt-in corpus curation on the assembled webtext (cfg.keep_best /
        cfg.dedup_paragraphs — see EngineConfig). Runs keep_best FIRST
        (drop whole near-dup documents, keeping each cluster's highest
        quality_score member), then paragraph dedup over the survivors
        (globally-first (url_hash, pos) copy of each paragraph wins;
        documents whose every paragraph lost are dropped entirely — an
        all-duplicate page IS a duplicate). Both stages are deterministic
        recomputations over the committed deltas: kill/resume re-derives
        the identical curated view.

        Scale shape: MinHash-LSH banded pairs (no cross join) → connected
        components → a ranking window over the PAIRED subset only;
        paragraph dedup is one hash aggregation keyed by the paragraph's
        xxhash64 plus an 8-byte equi-join back. The LSH stage persists one
        per-doc gram frame per run; it is registered in
        ``self._curation_caches`` for the caller to unpersist after the
        curated outputs materialize (the CLI does)."""
        cfg = self.cfg
        cols = list(webtext.columns)
        # freshest-per-url fold FIRST: the assembled delta log can carry
        # several rows per URL (a selective recrawl appends a fresh
        # webtext_delta row while the stale one remains), and both curation
        # stages key by url_hash — without the fold, paragraph_dedup would
        # interleave the stale and fresh copies' paragraphs into one
        # dedup_text and fan it back out to duplicate rows, and keep_best's
        # quality window would tie between same-id copies
        # nondeterministically. warc_ts descending picks the live copy;
        # the text-hash tiebreak keeps equal-timestamp folds deterministic.
        w = Window.partitionBy(url_hash(F.col("url"))).orderBy(
            F.col("warc_ts").desc_nulls_last(),
            F.xxhash64(F.col("text")).asc(),
        )
        out = (
            webtext.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        if cfg.keep_best:
            from crawler_spark.functions.dedup import (
                cluster_keep_best,
                minhash_lsh_pairs,
            )
            from crawler_spark.functions.textstats import quality_score

            keyed = out.withColumn(
                "__wid", url_hash(F.col("url"))
            ).withColumn("__q", quality_score(F.col("text")))
            pairs = minhash_lsh_pairs(
                keyed,
                threshold=cfg.keep_best_threshold,
                id_col="__wid",
                text_col="text",
                cache_registry=self._curation_caches,
            )
            best = cluster_keep_best(keyed, pairs, "__q", id_col="__wid")
            out = best.where(F.col("keep")).select(*cols)
        if cfg.dedup_paragraphs:
            from crawler_spark.functions.dedup import paragraph_dedup

            keyed = out.withColumn("__wid", url_hash(F.col("url")))
            rep = paragraph_dedup(keyed, id_col="__wid", text_col="text")
            out = (
                keyed.join(
                    rep.where(F.col("n_kept") > 0).select(
                        F.col("id").alias("__wid"), "dedup_text"
                    ),
                    "__wid",
                )
                .withColumn("text", F.col("dedup_text"))
                .select(*cols)
            )
        return out

    def _load_robots_table(self) -> DataFrame | None:
        rob = self._robots.read()
        return None if rob is None else _robots_backfill(rob)

    def _refresh_effective_politeness(self, round_no: int = 0) -> None:
        rob = self._load_robots_table()
        if rob is not None:
            # a host can hold several probe rows (transient retries, TTL
            # re-probes). Winner: freshest UNEXPIRED final probe; if every
            # final probe aged out, freshness wins outright — so a fresher
            # transient disallow-all beats an expired allow row (the host
            # stays blocked until a re-probe succeeds, RFC 9309 §2.3.1.4),
            # while a lone expired final row still beats nothing.
            final = _robots_is_final(F.col("probe_status"))
            unexpired = final
            if self.cfg.robots_ttl_rounds is not None:
                unexpired = final & (
                    F.col("probed_round")
                    > F.lit(int(round_no) - self.cfg.robots_ttl_rounds)
                )
            w = Window.partitionBy("host").orderBy(
                unexpired.desc(),
                F.col("probed_round").desc(),
                final.desc(),
                F.col("probe_status").asc(),
            )
            rob = (
                rob.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn", "probe_status", "probed_round")
            )
        if rob is None:
            self.politeness = self._user_politeness
            return
        if self._user_politeness is None:
            eff = rob
        else:
            extra = rob.join(
                self._user_politeness.select("host"), "host", "left_anti"
            )
            eff = self._user_politeness.unionByName(extra)
        # PERSIST the effective table: a round consumes self.politeness in
        # up to four joins (robots rules, pop budgets, live + secondary
        # delays) — left lazy, each of them would re-run the probe-cache
        # scan AND the winner window's shuffle. One cache per refresh; the
        # previous refresh's cache is released (async — consumers of the
        # old plan have already materialized by the next refresh point).
        prev = getattr(self, "_eff_pol_cache", None)
        if prev is not None:
            prev.unpersist(blocking=False)
        self._eff_pol_cache = eff.persist()
        self.politeness = self._eff_pol_cache

    def _robots_refresh(
        self, urls_df: DataFrame | None, serves_round: int = 0
    ) -> None:
        """Probe /robots.txt for every host in ``urls_df`` not yet covered
        (user politeness row or previous probe), append the parsed rows to
        the persistent robots table, and swap the effective politeness.

        Bounded by construction: the candidate set is one row per DISTINCT
        host of a round-batch-bounded frame (seeds / recrawl marks /
        round_adds), anti-joined against the known-host table — every
        probed host (success or not) gets a row, so no host is probed
        twice. All work is distributed; the only driver value is the wave
        row count that gates the append. ``serves_round``: the round the
        probed rules are first enforced in (commit-time waves pass
        round_no+1) — rows are stamped with it and TTL age is measured
        from it, so a ttl of K really covers K fetching rounds."""
        cfg = self.cfg
        if cfg.fetch_mode != "live" or not cfg.live_robots or urls_df is None:
            return
        from crawler_spark.operators.robots import robots_wave

        cand = (
            urls_df.select("url", url_host(F.col("url")).alias("host"))
            .where(F.col("host").isNotNull())
            .groupBy("host")
            .agg(F.min("url").alias("url"))
        )
        rob = self._load_robots_table()
        if rob is not None:
            # transient (5xx/network) probes do NOT count as known: their
            # disallow-all row blocks fetches meanwhile, and the next wave
            # re-probes the host (RFC 9309 §2.3.1.4). A TTL ages out final
            # probes too, so long crawls pick up changed rules.
            known_pred = _robots_is_final(F.col("probe_status"))
            if cfg.robots_ttl_rounds is not None:
                known_pred = known_pred & (
                    F.col("probed_round")
                    > F.lit(int(serves_round) - cfg.robots_ttl_rounds)
                )
            rob = rob.where(known_pred)
        known = [
            t.select("host")
            for t in (self._user_politeness, rob)
            if t is not None
        ]
        if known:
            k = known[0]
            for o in known[1:]:
                k = k.union(o)
            cand = cand.join(k.dropDuplicates(["host"]), "host", "left_anti")
        wave = robots_wave(
            cand,
            timeout_s=cfg.robots_timeout_s,
            user_agent=cfg.user_agent,
            default_budget=cfg.default_budget,
            probed_round=serves_round,
        ).persist()
        try:
            if wave.count():
                self._robots.append(wave)
                self._refresh_effective_politeness(serves_round)
        finally:
            wave.unpersist()

    def _load_frontier_state(self, upto: int) -> tuple[DataFrame, int]:
        """Delta-frontier reconstruction: the latest committed snapshot
        ≤ ``upto`` replayed forward through each later round's del/add
        deltas using the SAME remove_popped/add_candidates the live loop
        applies — frontier state after round ``upto`` is therefore
        bit-identical to what full-snapshot mode would have persisted.
        Bounded work: ≤ frontier_snapshot_every delta dirs, each O(round
        batch), applied as broadcast del probes + url_hash windows over
        one snapshot scan. Returns (frontier, snapshot_round) — the
        snapshot round's manifest carries the last exact frontier_rows."""
        committed = self.ckpt.committed_rounds()
        snap = None
        for r in reversed(committed):
            if r <= upto and self.ckpt.has_table(r, "frontier"):
                snap = r
                break
        if snap is None:
            horizon = self.ckpt.frontier_horizon()
            if horizon is not None:
                raise RuntimeError(
                    f"frontier state for round {upto} was expired"
                    f" (frontier_expire_intervals): resume horizon is round"
                    f" {horizon} — resume from a round ≥ the horizon"
                )
            raise RuntimeError(
                f"no frontier snapshot ≤ round {upto} in {self.ckpt.root} —"
                " delta-frontier checkpoints always snapshot round 0, so"
                " this checkpoint is corrupt or from an incompatible engine"
            )
        df = self.ckpt.load(self.spark, snap, "frontier")

        # broadcast each replayed round's del keys only under the
        # manifest-carried pop count (driver-known, no extra action): a
        # 10M-pop delta round's key set must not land on the driver — past
        # the bound the anti-join falls back to a shuffle
        for q in [r for r in committed if snap < r <= upto]:
            dels = self.ckpt.load(self.spark, q, "frontier_del")
            popped = self.ckpt.round_metric(q, "popped")
            if (
                popped is not None
                and int(popped) * politeness_mod.KEY_BYTES
                <= politeness_mod.BROADCAST_MAX_BYTES
            ):
                dels = F.broadcast(dels)
            adds = self.ckpt.load(self.spark, q, "frontier_add")
            df = add_candidates(remove_popped(df, dels), adds)
        return df, snap

    def run(
        self, resume: bool = True, recrawl: DataFrame | None = None
    ) -> CrawlResult:
        """Run (or resume) the crawl.

        ``recrawl``: optional (url, connector_id) rows whose seen status is
        revoked — the selective --force / images-checker path: their hashes
        are anti-joined out of the pre-run seen deltas (``_seen_df``) and
        they re-enter the frontier. Every round the run commits records the
        revocation count as ``metrics["revoked"]``.
        """
        spark, cfg = self.spark, self.cfg
        self.ckpt.cleanup_partial()
        if not resume and self.ckpt.latest_round() is not None:
            self._wipe()
        latest = self.ckpt.latest_round() if resume else None
        aqe_min, shuffle_floor = tiny_round_thresholds(
            spark.sparkContext.defaultParallelism, cfg
        )
        run = _RunState(
            round_no=0 if latest is None else latest + 1,
            start_latest=-1 if latest is None else latest,
            last_committed=latest,
            seen_count=(
                self.ckpt.sum_metric("fetched_ok") if latest is not None else 0
            ),
            # session AQE + shuffle-width settings, restored on exit;
            # per-round the engine toggles AQE off AND narrows the shuffle
            # width below cfg.aqe_min_batch popped URLs (see field doc) —
            # with AQE off, every shuffle otherwise runs the session's full
            # spark.sql.shuffle.partitions tasks over a handful of rows
            orig_aqe=spark.conf.get("spark.sql.adaptive.enabled", "true"),
            orig_shuffle=spark.conf.get("spark.sql.shuffle.partitions", "200"),
            aqe_min=aqe_min,
            shuffle_floor=shuffle_floor,
            # whether fetched pages carry a lang column, decided ONCE from
            # the run's inputs: live_fetch always emits `lang`, fixture mode
            # inherits it from the pages table. Checking a round frame's
            # `.columns` would force a full analysis of its deep plan.
            has_lang=(
                cfg.fetch_mode == "live"
                or "lang" in set(self.pages.schema.fieldNames())
            ),
        )
        try:
            run.frontier, run.frontier_rows, exact = self._start_frontier(
                run, latest
            )
            unioned = recrawl is not None
            if recrawl is not None:
                self._add_recrawl(run, recrawl)
            # live robots acquisition: effective politeness from any prior
            # probes, then a run-start wave over seed (+ recrawl) hosts so
            # the FIRST pop already honors their rules; the per-round wave
            # at commit covers hosts newly discovered by link extraction
            # and (under a TTL) hosts still being fetched
            self._refresh_effective_politeness(run.round_no)
            if cfg.fetch_mode == "live" and cfg.live_robots:
                src = self.seeds.select("url")
                if recrawl is not None:
                    src = src.union(recrawl.select("url"))
                self._robots_refresh(src, run.round_no)
            # opt-in live sitemap discovery (fresh starts only: a resume's
            # round-0 commit already persisted whatever the wave found, and
            # the seen-set/add_candidates dedup makes re-adding pointless)
            if cfg.fetch_mode == "live" and cfg.live_sitemaps and latest is None:
                unioned = self._add_sitemaps(run) or unioned
            # run-start frontier built ONCE: with recrawl/sitemap rows
            # unioned in, pop's window, its join-back and the first commit's
            # remove_popped would each rebuild the add_candidates lineage.
            # Gated on the driver-known tiny bound, so a big frontier is
            # never pinned in executor storage.
            if (
                unioned
                and run.frontier_rows is not None
                and run.frontier_rows < aqe_min
            ):
                run.frontier = run.frontier.localCheckpoint(eager=True)
            # an exactly-empty frontier (a complete checkpoint) runs no round
            run.frontier_empty = exact and run.frontier_rows == 0
            return self._run_rounds(run)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", run.orig_aqe)
            spark.conf.set("spark.sql.shuffle.partitions", run.orig_shuffle)
            for df in run.run_caches:
                df.unpersist()

    def _wipe(self) -> None:
        """Fresh start over an existing checkpoint (cli --no-resume /
        --force): wipe committed rounds, compacts, and the bitset table —
        otherwise stale rounds beyond this run's last round contaminate the
        assembled outputs and hijack later resumes."""
        import shutil

        self.ckpt.wipe()
        shutil.rmtree(self.bloom_table.root, ignore_errors=True)
        if self.cfg.bloom_partitions is None:
            self.bloom_table = BloomTable.adopt(self.bloom_table.root)
        else:
            self.bloom_table = BloomTable(
                self.bloom_table.root, self.cfg.bloom_partitions
            )

    def _start_frontier(
        self, run: _RunState, latest: int | None
    ) -> tuple[DataFrame, int | None, bool]:
        """(frontier, driver-known row count, whether the count is EXACT)
        at run start: the latest committed state on resume, the seed list
        on a fresh crawl. The count is exact for a snapshot footer or the
        seed count, an upper bound after a delta replay, and None when an
        old manifest lacks the metric (which disables layout sizing, never
        correctness)."""
        if latest is None:
            frontier = seeds_to_frontier(self.seeds)
            # the seed list is tiny by contract: count it under the
            # tiny-round switch (one job, no AQE query stages), then size
            # the switch from the exact count
            self._round_switch(run, 0)
            n = frontier.count()
            self._round_switch(run, n)
            # createDataFrame seed frames default to the session's full
            # parallelism — dozens of near-empty partitions that round 0's
            # whole pop/anti-join/union pipeline then inherits
            return frontier.coalesce(max(1, -(-n // 1_000_000))), n, True
        # branch on what the checkpoint actually contains, not the config
        # string: in "auto" mode delta commits engage past the row
        # threshold, so the latest round may or may not carry a frontier
        # snapshot — ckpt.has_table is the ground truth
        if self.ckpt.has_table(latest, "frontier"):
            frontier = self.ckpt.load(self.spark, latest, "frontier")
            n = self.ckpt.round_metric(latest, "frontier_rows")
            return frontier, None if n is None else int(n), True
        # mid-interval resume: snapshot + delta replay (identical state by
        # construction — see _load_frontier_state). The row bound is the
        # snapshot's exact count plus each later delta round's committed
        # adds bound, so auto-mode's delta-engagement check survives the
        # resume.
        frontier, snap = self._load_frontier_state(latest)
        n = self.ckpt.round_metric(snap, "frontier_rows")
        if n is not None:
            for q in self.ckpt.committed_rounds():
                if snap < q <= latest:
                    adds = self.ckpt.round_metric(q, "frontier_adds")
                    if adds is None:
                        # old manifest without the adds bound: an unknown
                        # term makes the whole bound unknown — never
                        # silently under-count (the bound gates broadcasts
                        # and the auto delta-engagement check)
                        n = None
                        break
                    n += int(adds)
        return frontier, None if n is None else int(n), False

    def _add_recrawl(self, run: _RunState, recrawl: DataFrame) -> None:
        """Revoke the seen status of ``recrawl``'s URLs and put them back
        in the frontier."""
        cfg = self.cfg
        rows = frontier_rows(
            recrawl,
            F.col("url"),
            depth=0,
            seed_idx=0,
            page_no=0,
            in_page_idx=0,
            dfs_rank=0,
            round_added=run.round_no,
            kind="record",
            connector_id=F.col("connector_id"),
        )
        run.frontier = add_candidates(run.frontier, rows)
        hashes = run.recrawl_hashes = rows.select("url_hash").persist()
        run.run_caches.append(hashes)
        # delta-frontier persistence: run-start additions exist only in
        # this run's memory until a commit persists them — ride the first
        # committed round's add delta (a snapshot commit covers them
        # implicitly and clears the pending set too). Armed for "auto" as
        # well: delta commits can engage mid-run there.
        if cfg.frontier_storage in ("delta", "auto"):
            run.pending_add_rows = rows
        # the revocation itself is _seen_df's anti-join of these hashes
        # from the pre-run seen deltas: the Bloom bitsets still hold them,
        # so they always reach that exact confirm. The count materializes
        # the persisted hashes and bounds the frontier growth.
        run.n_revoked = hashes.count()
        if run.frontier_rows is not None:
            run.frontier_rows += run.n_revoked

    def _add_sitemaps(self, run: _RunState) -> bool:
        """One live sitemap wave over the seed hosts; its URLs join the
        frontier. Returns whether the wave found any."""
        from crawler_spark.operators.sitemaps import (
            sitemap_frontier_rows,
            sitemap_wave,
        )

        cfg = self.cfg
        hosts = (
            self.seeds.select("url", url_host(F.col("url")).alias("host"))
            .where(F.col("host").isNotNull())
            .groupBy("host")
            .agg(F.min("url").alias("url"))
        )
        sm_rows = sitemap_frontier_rows(
            sitemap_wave(
                hosts, timeout_s=cfg.robots_timeout_s, user_agent=cfg.user_agent
            ),
            round_added=run.round_no,
        ).persist()
        n_sm = sm_rows.count()  # bounded: hosts × sitemap entries
        if not n_sm:
            sm_rows.unpersist()
            return False
        run.run_caches.append(sm_rows)
        run.frontier = add_candidates(run.frontier, sm_rows)
        if run.frontier_rows is not None:
            run.frontier_rows += n_sm
        if cfg.frontier_storage in ("delta", "auto"):
            # both are builder output in FRONTIER column order
            run.pending_add_rows = (
                sm_rows
                if run.pending_add_rows is None
                else run.pending_add_rows.union(sm_rows)
            )
        return True

    def _bloom_enabled(self, seen_count: int) -> bool:
        if self.cfg.use_bloom == "auto":
            return seen_count >= self.cfg.bloom_auto_threshold
        return bool(self.cfg.use_bloom)

    def _deltas_or_empty(self, name: str, schema, **window) -> DataFrame:
        d = self.ckpt.load_all_deltas(self.spark, name, **window)
        return d if d is not None else self._empty(schema)

    def _seen_df(self, run: _RunState) -> DataFrame:
        """The URL-seen set the exact anti-join and the Bloom confirm
        read."""
        if self.cfg.force:
            # --force ignores PRE-RUN history only: pages fetched by THIS
            # forced run become seen again, so a URL re-discovered later in
            # the same run (related link, second seed) is not re-fetched —
            # the reference analog is --force refetching once, after which
            # the rewritten file short-circuits repeat encounters
            # (base.js:135-138,165). Always-empty here would loop forever on
            # cyclic related graphs.
            return self._deltas_or_empty(
                "seen_delta", schemas.URL_SEEN, after=run.start_latest
            )
        if run.recrawl_hashes is None:
            return self._deltas_or_empty("seen_delta", schemas.URL_SEEN)
        # revoke recrawl hashes ONLY from deltas that predate this run —
        # once re-fetched, their fresh delta makes them seen again
        load = self.ckpt.load_all_deltas
        old = load(self.spark, "seen_delta", upto=run.start_latest)
        new = load(self.spark, "seen_delta", after=run.start_latest)
        if old is not None:
            old = old.join(
                run.recrawl_hashes.select(F.col("url_hash").alias("__rc_h")),
                old["url_hash"] == F.col("__rc_h"),
                "left_anti",
            )
        parts = [p for p in (old, new) if p is not None]
        if not parts:
            return self._empty(schemas.URL_SEEN)
        d = parts[0]
        for p in parts[1:]:
            d = d.unionByName(p)
        return d

    def _all_seen_df(self) -> DataFrame:
        """UNFILTERED seen deltas, for Bloom builds only: the bitsets may
        over-approximate (force-excluded / revoked hashes included) — the
        safe direction, since a bloom hit only routes the row to the exact
        confirm against _seen_df(), the filtered truth. An
        under-approximating bloom built from the filtered view would go
        stale the moment a later resume drops the force flag."""
        return self._deltas_or_empty("seen_delta", schemas.URL_SEEN)

    # ---- the round loop: one method per stage ------------------------

    def _run_rounds(self, run: _RunState) -> CrawlResult:
        """Rounds until the frontier is exhausted or ``max_rounds``. Each
        stage's wall lands in the round's ``stage_s``: the stages before
        the commit in the committed manifest, all eight in the in-memory
        round log (``CrawlResult.metrics``). ``codegen_compiles`` (the
        driver JVM's generated-class compiles) has the same split."""
        # the loop ends when a commit's EXACT frontier footer count is 0;
        # delta-frontier rounds carry only an upper bound and end through
        # the empty-pop path
        while run.round_no < self.cfg.max_rounds and not run.frontier_empty:
            rnd = _Round(
                no=run.round_no, codegen0=_codegen_compiles(self.spark)
            )
            with rnd.stage("pop"):
                self._pop(run, rnd)
            if rnd.n_popped == 0:
                nxt = self._earliest_backoff(rnd)
                if nxt is None:
                    break
                run.round_no = nxt
                continue
            with rnd.stage("fetch"):
                self._fetch(rnd)
            with rnd.stage("sidecar_upkeep"):
                self._sidecar_upkeep(run, rnd)
            with rnd.stage("extract"):
                self._extract(run, rnd)
            with rnd.stage("expand"):
                self._expand(rnd)
            with rnd.stage("seen_filter"):
                self._seen_filter(run, rnd)
            with rnd.stage("commit"):
                self._commit(run, rnd)
            with rnd.stage("bloom_upkeep"):
                self._bloom_upkeep(run, rnd)
            self._end_round(run, rnd)
        webtext = self._deltas_or_empty("webtext_delta", schemas.WEBTEXT)
        if self.cfg.keep_best or self.cfg.dedup_paragraphs:
            webtext = self._curate_webtext(webtext)
        return CrawlResult(
            records=self._deltas_or_empty("records_delta", schemas.RECORDS),
            webtext=webtext,
            url_seen=self._deltas_or_empty("seen_delta", schemas.URL_SEEN),
            fetch_log=self._deltas_or_empty("fetch_log_delta", schemas.FETCH_LOG),
            rounds=run.round_no,
            metrics=run.metrics_log,
        )

    def _pop(self, run: _RunState, rnd: _Round) -> None:
        """Robots rules, backoff eligibility and the per-host budget pop,
        then the round's size switches and the salted host repartition."""
        cfg = self.cfg
        # a driver-known frontier bound below aqe_min already proves the
        # round tiny: switch before the pop's count, so the count runs
        # without AQE's per-shuffle query-stage jobs (a resumed run's first
        # round would otherwise count under the session default)
        if run.frontier_rows is not None and run.frontier_rows < run.aqe_min:
            self._round_switch(run, run.frontier_rows, widen=False)
        # driver-known politeness size bound (robots probe cache bytes;
        # None without a probe cache — user rows are config scale and keep
        # their broadcast): gates every per-host broadcast this round — a
        # probed table spanning millions of hosts degrades to shuffle joins
        # instead of blowing the driver
        rnd.pol_bytes = self._robots.nbytes()
        rnd.allowed = (
            apply_robots(
                run.frontier, self.politeness, politeness_bytes=rnd.pol_bytes
            )
            if self.politeness is not None
            else run.frontier
        )
        # retry backoff eligibility (§2.9): rows delayed past this round
        # stay in the frontier but cannot be popped yet
        eligible = rnd.allowed.where(F.col("not_before") <= F.lit(rnd.no))
        # persist the pop result: the salting stage consumes it three times
        # (host counts, bucket total, the join) and would re-run the window
        # shuffle each time otherwise. persist, not localCheckpoint: the
        # size statistics are the same either way (a cached or checkpointed
        # plan reports its origin plan's estimate), so the joins against
        # the round batch rely on the explicit broadcast gates below
        # (popped_bound, batch_bound), not on statistics — and a persisted
        # block lost with its executor is recomputed from lineage, where a
        # lost local-checkpoint block fails the job
        rnd.popped_raw = pop_batch(
            eligible,
            self.politeness,
            cfg.default_budget,
            cfg.global_batch,
            # driver-known bound gating the join-back broadcast: pops can
            # never exceed the manifest-carried frontier row bound
            popped_bound=run.frontier_rows,
            politeness_bytes=rnd.pol_bytes,
        ).persist()
        # ONE action sizes everything downstream: n_popped doubles as the
        # round-batch count (repartition preserves it), the salt stage's
        # explicit partition count, and the AQE small-round switch — the
        # salting stage's own two sizing jobs are skipped. Each extra
        # driver action re-analyzes the full round DAG, which at small
        # rounds costs more than the job itself.
        n = rnd.n_popped = rnd.popped_raw.count()
        if n == 0:
            rnd.popped_raw.unpersist()
            return
        rnd.tiny = n < run.aqe_min
        rnd.width = self._round_switch(run, n)
        # live mode: no salt — one worker per host so the in-worker
        # crawl-delay bounds the host's AGGREGATE request rate (k salt
        # buckets would fetch at k× the allowed rate). Live sizing stays in
        # the salting stage (a host count there is noise next to network
        # wall); fixture mode passes the explicit count.
        salt = cfg.fetch_mode != "live"
        rnd.popped = salted_host_repartition(
            rnd.popped_raw,
            cfg.target_per_task,
            salt=salt,
            num_partitions=(
                max(1, -(-n // cfg.target_per_task)) if salt else None
            ),
            # gates the host-counts broadcast (counts rows ≤ n_popped)
            batch_bound=n,
        ).persist()
        rnd.remaining = remove_popped(run.frontier, rnd.popped)

    def _round_switch(
        self, run: _RunState, rows: int, widen: bool = True
    ) -> int:
        """The tiny-round session switch for a round of ``rows`` popped
        URLs; returns the shuffle width it set. Below ``aqe_min`` AQE is
        off and the width narrowed to ``rows / target_per_task`` (never
        below ``shuffle_floor``); at or above it, the session's settings
        hold. ``widen=False`` (``rows`` is only a bound) never widens the
        current width.

        The narrowing: with AQE off, every shuffle (frontier dedup, window
        pop, bloom routing) otherwise launches the session's full width
        over a handful of rows — task-launch overhead, not work. It affects
        plan-time only, so the NEXT round's pop inherits this round's
        width: rounds of similar size, self-correcting, and restored on run
        exit. Never widened past the session setting."""
        spark = self.spark
        tiny = rows < run.aqe_min
        if run.orig_aqe == "true":
            want = "false" if tiny else "true"
            if spark.conf.get("spark.sql.adaptive.enabled") != want:
                spark.conf.set("spark.sql.adaptive.enabled", want)
        width = int(run.orig_shuffle)
        if tiny:
            per_task = max(1, self.cfg.target_per_task)
            width = min(width, max(run.shuffle_floor, -(-rows // per_task)))
        now = spark.conf.get("spark.sql.shuffle.partitions")
        if not widen:
            width = min(width, int(now))
        if now != str(width):
            spark.conf.set("spark.sql.shuffle.partitions", str(width))
        return width

    def _earliest_backoff(self, rnd: _Round) -> int | None:
        """After an empty pop: the earliest FUTURE backoff round among
        robots-ALLOWED rows, or None when nothing is left. Robots-disallowed
        rows are never popped and linger with not_before <= the round;
        taking min over the raw frontier would see them, conclude
        nxt <= round, and silently drop pending future retries."""
        nxt = (
            rnd.allowed.where(F.col("not_before") > F.lit(rnd.no))
            .agg(F.min("not_before"))
            .first()[0]
        )
        return None if nxt is None else int(nxt)

    def _fetch(self, rnd: _Round) -> None:
        """Fetch the popped batch, materialized exactly once, and split it
        into ok / retry rows and the round's seen additions."""
        cfg = self.cfg
        live = cfg.fetch_mode == "live"
        if live:
            fetched = live_fetch(
                self._live_fetch_input(rnd),
                timeout_s=cfg.fetch_timeout_s,
                user_agent=cfg.user_agent,
                connectors=self.connectors,
            )
        else:
            fetched = fixture_fetch(
                rnd.popped, self.pages, batch_bound=rnd.n_popped
            )
        fetched = rnd.fetched = _materialize_once(fetched, rnd)
        rnd.ok, rnd.retry, _ = split_retries(
            fetched, cfg.max_attempts, live_retryable() if live else None
        )
        # the round's seen additions: every 200 body, PLUS — under
        # conditional fetch — every 304 answer. A 304 confirms the stored
        # copy is current, so the URL is seen again; without this, a
        # recrawl-revoked URL answering 304 stayed permanently unseen (304s
        # land in `dead` via split_retries) and every later rediscovery
        # re-fetched it for another 304 (round-4 ADVICE).
        rnd.seen_round = rnd.ok.select("url_hash")
        if cfg.conditional_fetch and live:
            rnd.seen_round = rnd.seen_round.union(
                fetched.where(F.col("status") == 304).select("url_hash")
            )

    def _live_fetch_input(self, rnd: _Round) -> DataFrame:
        """The popped batch with each host's crawl delay (configured, times
        any adaptive backoff factor) and, under conditional fetch, each
        URL's stored validators."""
        cfg = self.cfg
        batch_in = rnd.popped
        if self.politeness is not None:
            delays = self.politeness.select(
                F.col("host").alias("__d_host"),
                F.col("crawl_delay_ms"),
            )
            # pol_bytes gate, same as apply_robots/pop_batch
            if (
                rnd.pol_bytes is None
                or rnd.pol_bytes <= politeness_mod.BROADCAST_MAX_BYTES
            ):
                delays = F.broadcast(delays)
            batch_in = (
                batch_in.join(
                    delays, batch_in["host"] == F.col("__d_host"), "left"
                )
                .drop("__d_host")
                .withColumn(
                    "crawl_delay_ms",
                    F.coalesce(F.col("crawl_delay_ms"), F.lit(0)),
                )
            )
        fac = self._load_adaptive_factors() if cfg.adaptive_politeness else None
        if fac is not None:
            fac = fac.where(F.col("factor") > 1.0).select(
                F.col("host").alias("__f_host"), "factor"
            )
            fac = self._adaptive.broadcast_if_small(fac)
            if "crawl_delay_ms" not in batch_in.columns:
                batch_in = batch_in.withColumn("crawl_delay_ms", F.lit(0))
            # a throttling host with no configured delay backs off from the
            # base; factors multiply the larger
            backed_off = (
                F.greatest(
                    F.col("crawl_delay_ms"), F.lit(ADAPTIVE_BASE_DELAY_MS)
                )
                * F.col("factor")
            ).cast("long")
            batch_in = (
                batch_in.join(
                    fac, batch_in["host"] == F.col("__f_host"), "left"
                )
                .drop("__f_host")
                .withColumn(
                    "crawl_delay_ms",
                    F.when(F.col("factor").isNotNull(), backed_off).otherwise(
                        F.col("crawl_delay_ms")
                    ),
                )
                .drop("factor")
            )
        vals = self._load_validators() if cfg.conditional_fetch else None
        if vals is not None:
            vals = self._validators.broadcast_if_small(vals)
            # revisited URLs pick up their stored validators; first-time
            # URLs join to NULLs → unconditional GET
            batch_in = batch_in.join(
                vals.withColumnRenamed("url", "__v_url"),
                batch_in["url"] == F.col("__v_url"),
                "left",
            ).drop("__v_url")
        return batch_in

    def _sidecar_upkeep(self, run: _RunState, rnd: _Round) -> None:
        """Learn from this round's fetches into the checkpoint sidecars;
        what they learn applies from the NEXT round. Also the opt-in WARC
        mirror of the round's fetched bytes."""
        cfg = self.cfg
        live = cfg.fetch_mode == "live"
        if live and cfg.adaptive_politeness:
            # throttle signals → backoff factors for the next delay join
            self._adaptive_update(rnd.fetched, rnd.no)
        if cfg.trap_detection:
            # fetched bytes → trap sketches for the next candidate gate
            self._trap_update(rnd.ok, rnd.no)
        if cfg.canonical_collapse:
            # rel=canonical declarations → aliases for the next candidates
            self._alias_update(rnd.ok, rnd.no)
        if cfg.conditional_fetch and live:
            # response validators: the next revisit of these URLs goes out
            # conditional; 304 answers are unchanged-visit evidence for the
            # change-rate revisit estimator
            self._validators_update(rnd.ok, rnd.no)
            self._nm_update(rnd.fetched, rnd.no)
        if cfg.warc_out:
            # archive-as-you-crawl: this round's fetched bytes as WARC
            # containers (ok is already materialized, so this re-reads the
            # cache, not the network)
            import os

            from crawler_spark.sources.warc import warc_export

            wcols = [
                F.col("url"),
                F.col("warc_ts"),
                F.col("body").alias("html"),
            ]
            wkw = {}
            if run.has_lang:
                wcols.append(F.col("lang"))
                wkw["lang_col"] = "lang"
            warc_export(
                rnd.ok.select(*wcols),
                os.path.join(cfg.warc_out, f"round={rnd.no}"),
                **wkw,
            )

    def _extract(self, run: _RunState, rnd: _Round) -> None:
        """ONE extraction pass over the round's ok pages: search pages →
        record links + next pages (S1/A1/O3), detail pages → records +
        webtext + related links. One Python stage, joined once to the page
        metadata and materialized once (recs and the frontier both read
        it, and live secondary chains must see each record exactly once);
        links and recs are projections of it."""
        cfg = self.cfg
        page_meta = rnd.ok.select(
            "url",
            "kind",
            "connector_id",
            "seed_idx",
            "page_no",
            "in_page_idx",
            "dfs_rank",
            "depth",
            "score",
            *(["lang"] if run.has_lang else []),
            "warc_ts",
        ).join(
            F.broadcast(self.seed_cfg.select("connector_id", "related_policy")),
            "connector_id",
            "left",
        )
        extracted = (
            rnd.ok.select("url", "body", "connector_id", "kind")
            .mapInPandas(
                extract_round_batch(
                    extract_links_batch_for(self.connectors),
                    extract_records_batch_for(self.connectors),
                ),
                ROUND_OUT_SCHEMA,
            )
            .join(rnd.small(page_meta), "url")
        )
        # the eager localCheckpoint is the one materialization, in big
        # rounds too: the checkpointed plan keeps the origin's size
        # statistics, and a persisted extract plan, self-joined by the
        # secondary enrichment below, grew big-round planning past the
        # driver heap
        extracted = extracted.localCheckpoint(eager=True)
        # page kind → output rows: link rows (null out_url included) for
        # "search", one record row per detail page otherwise
        n_rows = dict(extracted.groupBy("kind").count().collect())
        rnd.n_links = n_rows.pop("search", 0)
        rnd.n_recs = sum(n_rows.values())
        rnd.links = extracted.where(F.col("kind") == "search").select(
            F.col("url").alias("parent_url"),
            "connector_id",
            "seed_idx",
            "page_no",
            "depth",
            "score",
            "total_count",
            "out_url",
            "out_idx",
        )
        rnd.recs = extracted.where(F.col("kind") != "search")
        # Gallica-style typed secondary fetches (gallica.js:83-148): inline
        # enrichment hops merged into the parent records BEFORE any write;
        # never frontier candidates, never in the seen set
        if secondary.chain_len(self.connectors) and rnd.n_recs:
            # connector ids and metadata come from `ok`/`page_meta`, not
            # from `recs`: every extra reference to the extract lineage
            # multiplies the plan big rounds analyze
            rec_rows, sec_caches = secondary.enrich_secondaries(
                rnd.recs.select(*RECORD_OUT_COLS),
                rnd.ok.select("url", "connector_id"),
                self.pages,
                self.connectors,
                fetch_mode=cfg.fetch_mode,
                timeout_s=cfg.fetch_timeout_s,
                politeness=self.politeness,
                politeness_bytes=rnd.pol_bytes,
                user_agent=cfg.user_agent,
                # each hop's wave is one URL per chained record at most
                # (seed_wave / next_url are per-record scalars), so the
                # round's record count bounds every hop's semi-filter
                batch_bound=rnd.n_recs,
            )
            rnd.caches += sec_caches
            # the enrichment lineage carries HTTP side effects in live
            # mode: materialize it exactly once, before the commit's
            # parallel writes can race to be its first materializer
            rnd.recs = _materialize_once(
                rec_rows.join(rnd.small(page_meta), "url"), rnd
            )

    def _expand(self, rnd: _Round) -> None:
        """Next-round frontier candidates: record links, next search pages
        and related records, through the opt-in URL gates."""
        record_cands = frontier_rows(
            rnd.links.where(F.col("out_url").isNotNull()),
            F.col("out_url"),
            depth=F.col("depth") + 1,
            seed_idx=F.col("seed_idx"),
            page_no=F.col("page_no"),
            in_page_idx=F.col("out_idx"),
            dfs_rank=0,
            round_added=rnd.no + 1,
            kind="record",
            connector_id=F.col("connector_id"),
        )
        child_rank = F.when(
            F.col("related_policy") == "before_parent_write", F.col("pos")
        ).otherwise(F.col("dfs_rank") + 1 + F.col("pos"))
        related_cands = frontier_rows(
            rnd.recs.where(_expandable() & (F.size("related_urls") > 0)).select(
                "connector_id",
                "seed_idx",
                "page_no",
                "in_page_idx",
                "dfs_rank",
                "depth",
                "related_policy",
                F.posexplode("related_urls").alias("pos", "rel_url"),
            ),
            F.col("rel_url"),
            depth=F.col("depth") + 1,
            seed_idx=F.col("seed_idx"),
            page_no=F.col("page_no"),
            in_page_idx=F.col("in_page_idx"),
            dfs_rank=child_rank,
            round_added=rnd.no + 1,
            kind="related",
            connector_id=F.col("connector_id"),
        )
        # positional unions over builder output (FRONTIER column order):
        # unionByName forces a full re-analysis of both (deep) children per
        # call, a measurable slice of per-round driver wall
        rnd.cands = self._gate_candidates(
            record_cands.union(self._next_pages(rnd)).union(related_cands)
        )

    def _next_pages(self, rnd: _Round) -> DataFrame:
        """Pagination arithmetic (A1): the search pages that follow each
        fetched search page."""
        per_page = rnd.links.groupBy(
            "parent_url", "connector_id", "seed_idx", "page_no", "depth"
        ).agg(
            F.count("out_url").alias("n_links"),
            F.first("total_count", ignorenulls=True).alias("total_count"),
        )
        per_page = per_page.join(
            F.broadcast(self.seed_cfg), "connector_id", "left"
        )
        total_pages = F.ceil(F.col("total_count") / F.col("limit"))
        last_page = (F.col("start_page") + total_pages - 1).cast("int")
        # Known-total styles fan out ALL remaining pages from the FIRST
        # page — page URLs are derivable, so deep paginations stop
        # serializing the round loop (a 10^4-page host becomes one round's
        # worth of frontier instead of 10^4 sequential rounds). Parity-safe:
        # ordering comes from the (seed, page, idx, rank) tuple, never from
        # discovery time; the URL-seen set is unchanged. The reference's
        # page-at-a-time loop (base.js:67-113) is a sequential-client
        # artifact, not a semantic.
        # unknown_total keeps chaining (next page only exists if this one
        # was non-empty — artic.js:59-78). page/offset styles with a null
        # total (count selector missing/unparsable) fan out NOTHING: the
        # reference computes totalPages from the count and stops after page
        # 1 when it is absent (base.js:68-69), and the replay oracle does
        # the same — chaining them would fetch pages the oracle never
        # visits and break crawl-order/URL-seen parity.
        known = F.col("paging_style").isin(
            "page", "offset", "path"
        ) & F.col("total_count").isNotNull()
        fanout = (
            F.when(
                known
                & (F.col("page_no") == F.col("start_page"))
                & (last_page >= F.col("page_no") + 1),
                F.expr("sequence(page_no + 1, last_page_v)"),
            )
            .when(
                (F.col("paging_style") == "unknown_total")
                & (F.col("n_links") > 0)
                & (
                    F.col("max_offset").isNull()
                    | (
                        (F.col("page_no") + 1 - F.col("start_page"))
                        * F.col("limit")
                        < F.col("max_offset")
                    )
                ),
                F.array(F.col("page_no") + 1),
            )
            # mfa-boston.js:53-60: chain the next page only while the
            # current page came back FULL — a short (or empty) page ends
            # this seed's chain and the crawl falls through to the next
            # seed, which is already an independent frontier row here
            .when(
                (F.col("paging_style") == "short_page")
                & (F.col("n_links") >= F.col("limit")),
                F.array(F.col("page_no") + 1),
            )
            .otherwise(F.array().cast("array<int>"))
        )
        fanned = per_page.withColumn("last_page_v", last_page).select(
            "parent_url",
            "connector_id",
            "seed_idx",
            "depth",
            "paging_style",
            "start_page",
            "limit",
            F.explode(fanout.cast("array<int>")).alias("next_pno"),
        )
        # page-style rewrites page=N; offset-style rewrites
        # offset=(N - start_page)*limit (met-museum offset+perPage)
        next_url = F.when(
            F.col("paging_style") == "offset",
            F.regexp_replace(
                F.col("parent_url"),
                r"offset=\d+",
                F.concat(
                    F.lit("offset="),
                    (
                        (F.col("next_pno") - F.col("start_page"))
                        * F.col("limit")
                    ).cast("string"),
                ),
            ),
        ).when(
            # venetian.js:27-29: the page ordinal is a PATH segment
            # (`/page:N/`), not a query param
            F.col("paging_style") == "path",
            F.regexp_replace(
                F.col("parent_url"),
                r"page:\d+",
                F.concat(F.lit("page:"), F.col("next_pno").cast("string")),
            ),
        ).otherwise(
            F.regexp_replace(
                F.col("parent_url"),
                r"page=\d+",
                F.concat(F.lit("page="), F.col("next_pno").cast("string")),
            )
        )
        return frontier_rows(
            fanned,
            next_url,
            depth=F.col("depth"),
            seed_idx=F.col("seed_idx"),
            page_no=F.col("next_pno"),
            in_page_idx=-1,
            dfs_rank=0,
            round_added=rnd.no + 1,
            kind="search",
            connector_id=F.col("connector_id"),
        )

    def _gate_candidates(self, cands: DataFrame) -> DataFrame:
        """Opt-in URL curation gate: junk shapes, blocklisted registrable
        domains and trapped hosts drop here, before any seen/frontier work
        (pure codegen + at most one anti-join each; Catalyst broadcasts a
        small blocklist on its own size estimate). Under canonical
        collapse, candidates are then rewritten to collapsed canonical
        identity so the seen anti-join and frontier key on terminal
        URLs."""
        cfg = self.cfg
        if cfg.url_junk_filter or self.url_blocklist is not None or cfg.trap_detection:
            from crawler_spark.functions import urlfilter as _uf

            if cfg.url_junk_filter:
                cands = cands.where(~_uf.url_junk(F.col("url")))
            if self.url_blocklist is not None:
                cands = cands.join(
                    self.url_blocklist.select(F.lower("domain").alias("__blk")),
                    _uf.registrable_domain(F.col("url")) == F.col("__blk"),
                    "left_anti",
                )
            trapped = self._trapped_hosts() if cfg.trap_detection else None
            if trapped is not None:
                cands = cands.join(
                    trapped.select(F.col("host").alias("__trap_h")),
                    _uf.url_host(F.col("url")) == F.col("__trap_h"),
                    "left_anti",
                )
        if cfg.canonical_collapse:
            amap = self._load_alias_map()
            if amap is not None:
                cands = self._apply_alias_map(cands, amap)
        return cands

    def _seen_filter(self, run: _RunState, rnd: _Round) -> None:
        """J1: candidates minus the seen set minus this round's fetches,
        plus the re-enqueued retries — the round's frontier additions."""
        cfg = self.cfg
        seen = self._seen_df(run)
        bloom_now = self._bloom_enabled(run.seen_count)
        bloom_v = self.bloom_table.latest_version() if bloom_now else None
        # a bitset is only trusted when it covers EVERY committed round
        # (version == last commit) AND was built under THIS config
        # (persisted n_partitions/fpp meta): a stale bloom — or one whose
        # pid routing differs from the current bloom_partitions — could
        # answer "definitely new" for a committed hash, the unsafe
        # direction. Either mismatch falls back to the exact anti-join for
        # this round; bloom upkeep then full-rebuilds.
        bloom_ok = (
            bloom_now
            and run.last_committed is not None
            and bloom_v == run.last_committed
            and self.bloom_table.compatible(bloom_v)
        )
        if bloom_ok:
            # Bloom covers only COMMITTED rounds — a candidate discovered in
            # the same round that fetched it would pass the "definitely
            # new" shortcut, so the bounded round batch gets its own exact
            # anti-join (broadcast at scale: |ok| ≤ sum of host budgets).
            fresh = self.bloom_table.filter_unseen(
                rnd.cands, seen, version=bloom_v,
                cache_registry=rnd.caches,
                # driver-side estimate from the running seen count — skips
                # the per-round n_bits metadata job "auto" costs
                strategy=self.bloom_table.pick_strategy(run.seen_count),
            )
            fresh = fresh.join(
                rnd.small(rnd.seen_round.select(F.col("url_hash").alias("__ok_h"))),
                fresh["url_hash"] == F.col("__ok_h"),
                "left_anti",
            )
        else:
            seen_side = (
                seen.select("url_hash")
                .union(rnd.seen_round)
                .select(F.col("url_hash").alias("__h"))
            )
            if rnd.tiny and run.seen_count + rnd.n_popped < 1_000_000:
                # the exact branch's right side is the WHOLE seen history —
                # broadcast only while the driver-known count says it fits
                # comfortably
                seen_side = F.broadcast(seen_side)
            fresh = rnd.cands.join(
                seen_side, rnd.cands["url_hash"] == F.col("__h"), "left_anti"
            )
        # OPIC cash: fetched pages distribute score over out-links (A7)
        if cfg.use_opic:
            parents = rnd.links.groupBy(F.col("parent_url").alias("url")).agg(
                F.collect_list("out_url").alias("out_urls"),
                F.first("score").alias("cash"),
            )
            parents = parents.withColumn(
                "cash", F.col("cash") + F.lit(cfg.opic_initial_cash)
            )
            cash_in = opic_mod.distribute_cash(parents, "out_urls", "cash")
            fresh = opic_mod.apply_cash(fresh, cash_in)
        # exponential backoff: attempt k retries no earlier than round +
        # 2^(k-1) (base.js:46-56 mapped onto rounds, §2.9). Cap the
        # EXPONENT, not the shifted value: Java's int shift takes the count
        # mod 32, so shiftleft(1, 32) wraps to 1 and a 33rd attempt would
        # retry every round instead of backing off
        retry_rows = rnd.retry.select(*_FRONTIER_COLS).withColumn(
            "not_before",
            (
                F.lit(rnd.no) + F.expr("shiftleft(1, least(attempts - 1, 6))")
            ).cast("int"),
        )
        rnd.round_adds = fresh.select(*_FRONTIER_COLS).union(
            retry_rows.select(*_FRONTIER_COLS)
        )

    def _commit(self, run: _RunState, rnd: _Round) -> None:
        """Commit the round (frontier snapshot or delta, and the round's
        seen/records/webtext/fetch-log deltas), then carry the committed
        frontier size forward."""
        frontier_next = add_candidates(rnd.remaining, rnd.round_adds)
        # the manifest carries the walls of the stages before the commit;
        # fetch/parse metrics come from the parquet the commit writes
        # (_round_stats_from_written), NOT from extra .agg()/.count()
        # actions — each of those would re-analyze the whole round DAG (the
        # dominant driver cost at small rounds) and re-launch its broadcast
        # sub-jobs
        rnd.metrics = {
            "popped": rnd.n_popped,
            "stage_s": dict(rnd.stage_s),
            "codegen_compiles": _codegen_compiles(self.spark) - rnd.codegen0,
        }
        if run.n_revoked is not None:
            rnd.metrics["revoked"] = run.n_revoked
        tables = self._round_tables(run, rnd, frontier_next)
        run.pending_add_rows = None  # persisted (or covered by a snapshot)
        # live robots: probe hosts first discovered this round (adds are
        # round-batch-bounded) BEFORE the commit — a kill between commit
        # and probe would otherwise persist frontier hosts that resume
        # never probes; killed-before-commit just re-probes an idempotent
        # cache. The popped batch's hosts ride along so a TTL re-probes
        # hosts whose backlog is still being fetched (they may never
        # reappear in adds). These rules serve round no+1 onward — the
        # stamp and TTL age reflect that.
        self._robots_refresh(
            rnd.round_adds.select("url").union(rnd.popped.select("url")),
            rnd.no + 1,
        )
        # every table rides an already-materialized frame (`extracted`/
        # `recs` and `fetched` are materialized eagerly), so all writes run
        # fully parallel — commit wall is the slowest write, not the sum
        self.ckpt.commit_round(
            rnd.no, tables, rnd.metrics, stats_cb=_round_stats_from_written
        )
        committed = rnd.metrics.get("frontier_rows")
        run.frontier_empty = committed == 0
        if committed is not None:
            run.frontier_rows = committed
        elif run.frontier_rows is not None:
            # delta round: exact count unknown without a frontier scan;
            # carry a driver-side UPPER bound (adds can only dedup down) —
            # used only to size write layouts and the auto-mode
            # delta-engagement check, never semantics. The add-delta footer
            # count is exact; n_popped covers rows the replay may re-admit
            # via the popped-tombstone ordering.
            adds_bound = rnd.metrics.get("frontier_adds")
            if adds_bound is None:
                adds_bound = rnd.n_links + rnd.n_popped
            run.frontier_rows += adds_bound

    def _round_tables(
        self, run: _RunState, rnd: _Round, frontier_next: DataFrame
    ) -> dict[str, DataFrame]:
        """The tables the round's commit writes, with their write layout;
        sets ``rnd.snapshot_round``."""
        cfg = self.cfg
        # write layout: tiny rounds otherwise inherit the full shuffle
        # width (33+ tasks AND files per table for a handful of rows), and
        # the next round re-reads that fan-out. Deltas are bounded by the
        # round batch (driver-known: n_popped); the frontier's bound is last
        # round's EXACT committed row count (carried in the manifest — no
        # count action ever runs on the possibly-10^10-row frontier) plus
        # this round's additions. Big rounds are left to the planner/AQE,
        # and an unknown frontier bound (old manifests) disables the
        # sizing, never correctness.
        frontier_out = frontier_next
        if rnd.tiny:
            delta_parts = max(1, min(32, rnd.n_popped // 10_000))
            shrink = (lambda df: df.coalesce(delta_parts))
            if run.frontier_rows is not None:
                fr_bound = (
                    run.frontier_rows + rnd.n_links + rnd.n_popped
                    + 4 * rnd.n_recs
                )
                # ~1M frontier rows (≈200 B each) per output file
                frontier_out = frontier_next.coalesce(
                    max(1, -(-fr_bound // 1_000_000))
                )
        else:
            shrink = (lambda df: df)
        records_out, webtext_out = self._record_sinks(run, rnd)
        fetch_log = rnd.fetched.select(
            F.lit(rnd.no).alias("round"),
            "url",
            "status",
            F.lit(None).cast("string").alias("error"),
            F.col("bytes"),
            F.lit(None).cast("double").alias("duration_ms"),
            F.spark_partition_id().alias("partition_id"),
        )
        tables = {
            "seen_delta": shrink(rnd.seen_round),
            "records_delta": shrink(records_out),
            "webtext_delta": shrink(webtext_out),
            "fetch_log_delta": shrink(fetch_log),
        }
        if cfg.persist_link_graph:
            # opt-in page→link edge log (hashes only, O(round links)): the
            # input an OFFLINE scorer (opic.pagerank) needs to rescore the
            # frontier between crawls — OPIC's online cash covers in-crawl
            # priority, this covers batch re-ranking. Both sources ride
            # already-materialized frames (links, recs), so the extra write
            # stays on the parallel commit.
            search_edges = rnd.links.where(
                F.col("out_url").isNotNull()
            ).select(
                url_hash(F.col("parent_url")).alias("src_hash"),
                url_hash(F.col("out_url")).alias("dst_hash"),
            )
            rel_edges = (
                rnd.recs.where(_expandable() & (F.size("related_urls") > 0))
                .select("url", F.explode("related_urls").alias("__rel"))
                .select(
                    url_hash(F.col("url")).alias("src_hash"),
                    url_hash(F.col("__rel")).alias("dst_hash"),
                )
            )
            tables["link_graph_delta"] = shrink(search_edges.union(rel_edges))
        delta_on = cfg.frontier_storage == "delta" or (
            cfg.frontier_storage == "auto"
            and run.frontier_rows is not None
            and run.frontier_rows > cfg.frontier_delta_threshold
        )
        rnd.snapshot_round = (
            not delta_on or rnd.no % cfg.frontier_snapshot_every == 0
        )
        if rnd.snapshot_round:
            tables["frontier"] = frontier_out
        else:
            # O(round batch) persistence instead of the O(frontier)
            # snapshot: this round's candidate additions + popped
            # tombstones. Reconstruction (see _load_frontier_state) replays
            # remove(dels)-then-add(adds) per round, so any run-start
            # (recrawl) rows not yet persisted ride this add delta MINUS the
            # hashes popped this round — a popped pending URL must not be
            # resurrected by replay.
            add_out = rnd.round_adds
            if run.pending_add_rows is not None:
                add_out = add_out.union(
                    remove_popped(
                        run.pending_add_rows.select(*_FRONTIER_COLS), rnd.popped
                    ).select(*_FRONTIER_COLS)
                )
            tables["frontier_add"] = shrink(add_out)
            tables["frontier_del"] = shrink(rnd.popped.select("url_hash"))
        return tables

    def _record_sinks(
        self, run: _RunState, rnd: _Round
    ) -> tuple[DataFrame, DataFrame]:
        """(records, webtext) rows of the round's kept records."""
        cfg = self.cfg
        # joconde write-before-parent: parent's write rank trails its
        # related children (SURVEY.md §7.3.2)
        parent_rank = F.when(
            _expandable() & (F.col("related_policy") == "before_parent_write"),
            F.size("related_urls"),
        ).otherwise(F.col("dfs_rank"))
        # image metadata extracted by the connector (title/description from
        # tag attrs — mfa-boston.js:105-114; full id/title/description/
        # author/license on GraphQL entities — paris-musees.js:181-191)
        # carries through to the record sink; text/localFilename/hasError
        # are sink-stage fields
        keep_pred = F.col("keep")
        if cfg.soft404_filter:
            from crawler_spark.functions.urlfilter import is_soft404

            # HTTP-200 error templates never reach the sinks; the visit
            # itself stays (seen set, frontier removal)
            keep_pred = keep_pred & ~is_soft404(F.col("text"))
        kept = rnd.recs.where(keep_pred)
        records_out = kept.select(
            "connector_id",
            F.col("record_id").alias("id"),
            "url",
            "fields",
            F.transform(
                "images",
                lambda im: F.struct(
                    im["id"].alias("id"),
                    im["url"].alias("url"),
                    im["title"].alias("title"),
                    im["description"].alias("description"),
                    im["author"].alias("author"),
                    im["license"].alias("license"),
                    F.lit(None).cast("string").alias("text"),
                    F.lit(None).cast("string").alias("localFilename"),
                    F.lit(False).alias("hasError"),
                ),
            ).alias("images"),
            F.col("raw"),
            "seed_idx",
            "page_no",
            "in_page_idx",
            parent_rank.cast("int").alias("dfs_rank"),
        )
        # webtext in the input_hint shape: url, text (+ lang, warc_ts
        # carried from the fetched page)
        no_lang = F.lit(None).cast("string")
        lang_col = F.col("lang") if run.has_lang else no_lang.alias("lang")
        if cfg.lang_detect:
            from crawler_spark.functions.textstats import langid

            lang_col = F.coalesce(
                F.col("lang") if run.has_lang else no_lang,
                langid(F.col("text")),
            ).alias("lang")
        webtext_out = kept.select("url", "text", lang_col, "warc_ts")
        return records_out, webtext_out

    def _bloom_upkeep(self, run: _RunState, rnd: _Round) -> None:
        """Seen-set upkeep after the commit: Bloom bitsets (full build on
        cadence, else an incremental update from the committed seen delta)
        and seen-delta compaction. Recrawl revocations need no upkeep: they
        live only in ``_seen_df``'s view of the pre-run deltas."""
        spark, cfg = self.spark, self.cfg
        run.seen_count += rnd.metrics["fetched_ok"]
        # re-check: this round may cross the use_bloom="auto" switch
        if self._bloom_enabled(run.seen_count):
            # ALL bitset maintenance is executor-side: the delta is read
            # back from the just-committed seen_delta parquet — the loop
            # never collects round hashes to the driver
            if (
                run.last_committed is None
                or rnd.no % cfg.bloom_rebuild_every == 0
                or self.bloom_table.latest_version() != run.last_committed
                or not self.bloom_table.compatible(
                    self.bloom_table.latest_version()
                )
            ):
                # periodic re-size / first build / stale-after-crash /
                # config-mismatch (resume with different bloom_partitions
                # must NOT incrementally OR into wrong-routed bitsets)
                if cfg.bloom_partitions is None:
                    # auto: re-size from the committed seen count
                    self.bloom_table = BloomTable.sized_for(
                        self.bloom_table.root, run.seen_count,
                        fpp=self.bloom_table.fpp,
                    )
                self.bloom_table.build(self._all_seen_df(), version=rnd.no)
            else:
                self.bloom_table.update(
                    spark,
                    from_version=run.last_committed,
                    delta=self.ckpt.load(spark, rnd.no, "seen_delta"),
                    version=rnd.no,
                )
        run.last_committed = rnd.no
        if rnd.no > 0 and rnd.no % cfg.bloom_rebuild_every == 0:
            self.ckpt.compact(spark, "seen_delta", upto=rnd.no)

    def _end_round(self, run: _RunState, rnd: _Round) -> None:
        """Frontier-history expiry, the round's cache releases, the round
        log, and the committed frontier as the next round's input."""
        cfg = self.cfg
        if rnd.snapshot_round and cfg.frontier_expire_intervals:
            # bounded delta-frontier history: old snapshots + the add/del
            # dirs they subsume expire behind the horizon
            self.ckpt.expire_frontier(cfg.frontier_expire_intervals)
        for df in (rnd.popped_raw, rnd.popped, rnd.fetched, rnd.recs, *rnd.caches):
            df.unpersist()
        run.metrics_log.append({
            "round": rnd.no,
            **rnd.metrics,
            "stage_s": rnd.stage_s,
            "codegen_compiles": _codegen_compiles(self.spark) - rnd.codegen0,
        })
        # re-read from checkpoint: cuts lineage + is the resume point. Delta
        # rounds reconstruct snapshot+deltas with the same replay a resume
        # would run — the in-loop state and the resume state are the same
        # plan by construction. Branch on what THIS round actually
        # committed (snapshot_round), never on the config string: "auto"
        # engages delta commits past the row threshold and must reload
        # through the replay path too.
        if rnd.snapshot_round:
            run.frontier = self.ckpt.load(self.spark, rnd.no, "frontier")
        else:
            run.frontier, _ = self._load_frontier_state(rnd.no)
        run.round_no = rnd.no + 1
