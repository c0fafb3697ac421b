"""spark-submit entry point (SURVEY.md §7.2 M7; north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

Usage::

    spark-submit --master <url> --py-files dist/crawler_spark.zip \
        scripts/run_crawl.py \
        --pages  /data/pages_parquet \
        --seeds  /data/seeds_parquet \
        --politeness /data/politeness_parquet \
        --connectors connectors.json \
        --ckpt   /data/ckpt --out /data/out \
        --budget 1000 --bloom

The session comes from spark-submit (master/executors/conf are cluster
concerns); this module only layers SQL confs and the crawl. A killed job
re-run with the same ``--ckpt`` resumes from the last committed round.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="crawler_spark")
    p.add_argument("--pages", default=None, help="parquet dir/file: url, warc_ts, html, text, lang (required unless --fetch-mode live)")
    p.add_argument("--fetch-mode", choices=["fixture", "live"], default="fixture",
                   help="fixture = join the pages table; live = real HTTP (urllib) with per-host crawl-delay")
    p.add_argument("--fetch-timeout", type=float, default=60.0)
    p.add_argument("--seeds", default=None,
                   help="parquet: connector seed rows (required unless "
                        "--list-fields / --check-images)")
    p.add_argument("--politeness", default=None, help="parquet: host, crawl_delay_ms, budget_per_round, disallow")
    p.add_argument("--connectors", default=None, help="JSON file: connector_id -> ConnectorConfig fields")
    p.add_argument("--ckpt", required=True, help="checkpoint dir (resume point)")
    p.add_argument("--out", required=True, help="output dir (records/webtext/url_seen/fetch_log parquet)")
    p.add_argument("--budget", type=int, default=1000, help="default per-host budget per round (W1)")
    p.add_argument("--global-batch", type=int, default=None, help="optional global round cap")
    p.add_argument("--max-rounds", type=int, default=10_000)
    p.add_argument("--bloom", action="store_true", help="enable the partitioned-Bloom URL-seen sidecar")
    p.add_argument("--bloom-partitions", type=int, default=64)
    p.add_argument("--opic", action="store_true", help="enable OPIC cash priority (A7)")
    p.add_argument("--no-resume", action="store_true", help="ignore existing checkpoint")
    # sink gating (base.js:185-187: argv.records === false skips writeRecord;
    # the --no-files twin gates downloadFile): the crawl itself — fetches,
    # URL-seen updates, checkpoints — is unaffected, only the sink writes are
    p.add_argument("--no-records", dest="records", action="store_false",
                   help="crawl but skip the records sink")
    p.add_argument("--no-files", dest="files", action="store_false",
                   help="skip the image/file sink")
    p.add_argument("--assets-source", default=None,
                   help="parquet (url, bytes): fetch record images from this "
                        "source into <out>/assets (gated by --no-files)")
    # the reference's three user-facing modes (silknow-crawler.js:34-40,
    # base.js:165)
    p.add_argument("--catalog-checkpoint", default=None,
                   help="checkpoint to catalog tables instead of parquet "
                        "dirs: '[catalog.]namespace.prefix' (Iceberg when an "
                        "Iceberg catalog is configured); --ckpt stays the "
                        "filesystem sidecar root (blooms, robots cache)")
    p.add_argument("--no-live-robots", dest="live_robots",
                   action="store_false",
                   help="live mode: skip the automatic robots.txt fetch "
                        "waves (politeness then comes only from --politeness)")
    p.add_argument("--user-agent", default="crawler-spark/0.1")
    p.add_argument("--live-sitemaps", action="store_true",
                   help="live mode: discover sitemap URLs for seed hosts at "
                        "fresh run start (robots Sitemap: directives, "
                        "/sitemap.xml fallback) and queue them priority-first")
    p.add_argument("--url-junk-filter", action="store_true",
                   help="drop trap-shaped link candidates (param explosion, "
                        "digit-soup paths, session tokens) before the seen filter")
    p.add_argument("--url-blocklist", default=None,
                   help="parquet with one `domain` column of registrable "
                        "domains; matching candidates are dropped pre-seen")
    p.add_argument("--trap-detection", action="store_true",
                   help="evidence-based trap suppression: per-host HLL "
                        "sketches of URLs vs body fingerprints (persist in "
                        "ckpt); exploding hosts stop contributing links")
    p.add_argument("--trap-min-urls", type=int, default=1000)
    p.add_argument("--trap-dup-ratio", type=float, default=20.0)
    p.add_argument("--adaptive-politeness", action="store_true",
                   help="live mode: AIMD per-host crawl-delay backoff on "
                        "429/503 throttle signals (factors persist in ckpt)")
    p.add_argument("--canonical-collapse", action="store_true",
                   help="learn <link rel=canonical> aliases from fetched "
                        "pages (persist in ckpt) and rewrite future link "
                        "candidates to the collapsed terminal URL, so the "
                        "frontier/seen set key on canonical identity")
    p.add_argument("--conditional-fetch", action="store_true",
                   help="live mode: persist ETag/Last-Modified validators "
                        "(ckpt sidecar) and send If-None-Match / "
                        "If-Modified-Since on revisits; 304 answers cost "
                        "headers, not body")
    p.add_argument("--soft404-filter", action="store_true",
                   help="suppress records/webtext for HTTP-200 error "
                        "templates (not-found phrase + short body); the "
                        "visit still counts as fetched and seen")
    p.add_argument("--lang-detect", action="store_true",
                   help="backfill NULL webtext lang via the stopword-vote "
                        "heuristic (live fetches carry no corpus language)")
    p.add_argument("--keep-best", action="store_true",
                   help="webtext sink curation: collapse near-dup document "
                        "clusters (MinHash-LSH pairs + connected "
                        "components), keeping each cluster's highest "
                        "quality_score member")
    p.add_argument("--keep-best-threshold", type=float, default=0.62,
                   help="exact-Jaccard verify threshold for --keep-best "
                        "near-dup pairs (default 0.62)")
    p.add_argument("--dedup-paragraphs", action="store_true",
                   help="webtext sink curation: cut every cross-document "
                        "repeat of a paragraph (globally-first copy wins); "
                        "documents left with no paragraph are dropped")
    p.add_argument("--warc-out", default=None,
                   help="archive each round's fetched pages as WARC "
                        "containers under DIR/round=<N>/")
    p.add_argument("--link-graph", action="store_true",
                   help="commit a per-round (src_hash, dst_hash) edge log"
                        " for offline re-scoring (opic.pagerank)")
    p.add_argument("--force", action="store_true",
                   help="ignore the URL-seen set and re-crawl everything "
                        "(base.js:165)")
    p.add_argument("--list-fields", action="store_true",
                   help="no crawl: print the fields report (markdown) over "
                        "the checkpointed records and exit "
                        "(silknow-crawler.js:34-36, fields-lister.js)")
    p.add_argument("--check-images", action="store_true",
                   help="no crawl: audit referenced-vs-stored image urls for "
                        "the checkpointed records, re-fetch errored assets "
                        "from --assets-source, and exit "
                        "(silknow-crawler.js:37-40, images-checker)")
    return p


def load_connectors(path: str | None):
    if not path:
        return None
    from crawler_spark.operators.extract import ConnectorConfig

    from crawler_spark.operators.extract import SecondaryFetch

    with open(path) as fh:
        raw = json.load(fh)
    out = {}
    for cid, kv in raw.items():
        kv = dict(kv)
        kv.setdefault("connector_id", cid)
        # JSON carries lists/dicts; the config dataclasses want their
        # declared types — secondary_fetches especially, whose hops are
        # attribute-accessed (sfs[0].from_field) inside executor closures
        if "drop_params" in kv:
            kv["drop_params"] = frozenset(kv["drop_params"])
        if "skip_keys" in kv:
            kv["skip_keys"] = frozenset(kv["skip_keys"])
        if "strip_params" in kv:
            kv["strip_params"] = tuple(kv["strip_params"])
        if "secondary_fetches" in kv:
            kv["secondary_fetches"] = tuple(
                sf if isinstance(sf, SecondaryFetch) else SecondaryFetch(**sf)
                for sf in kv["secondary_fetches"]
            )
        out[cid] = ConnectorConfig(**kv)
    return out


def _report_mode(spark, args) -> int:
    """--list-fields / --check-images: the reference's no-crawl modes run
    over the records already checkpointed under --ckpt
    (silknow-crawler.js:34-40)."""
    if getattr(args, "catalog_checkpoint", None):
        from crawler_spark.plans.catalog import CatalogCheckpointer

        ckpt = CatalogCheckpointer(spark, args.catalog_checkpoint)
    else:
        from crawler_spark.plans.checkpoint import Checkpointer

        ckpt = Checkpointer(args.ckpt)
    records = ckpt.load_all_deltas(spark, "records_delta")
    if records is None:
        raise SystemExit("no checkpointed records under --ckpt")

    if args.list_fields:
        from crawler_spark.plans.reports import (
            fields_report,
            fields_report_markdown,
        )

        print(fields_report_markdown(fields_report(records)))
        return 0

    # --check-images: both-direction audit + errored-asset recheck (J3)
    import os
    import shutil

    from pyspark.sql import functions as F

    from crawler_spark.plans.reports import missing_images

    assets_path = os.path.join(args.out, "assets")
    have_assets = os.path.isdir(assets_path)
    assets = (
        spark.read.parquet(assets_path)
        if have_assets
        else spark.createDataFrame(
            [], "url string, record_id string, img_idx int, "
                "filename string, bytes binary, has_error boolean"
        )
    )
    audit = missing_images(records, assets).groupBy("direction").count()
    counts = {r["direction"]: r["count"] for r in audit.collect()}
    errored_before = assets.where(F.col("has_error")).count()
    errored_after = errored_before
    if have_assets and args.assets_source and errored_before:
        from crawler_spark.operators.assets import recheck_errored

        source = spark.read.parquet(args.assets_source)
        repaired = recheck_errored(assets, source)
        tmp = assets_path + "__recheck"
        repaired.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(assets_path)
        os.replace(tmp, assets_path)
        errored_after = (
            spark.read.parquet(assets_path)
            .where(F.col("has_error"))
            .count()
        )
    print(json.dumps({
        "referenced_not_stored": counts.get("referenced_not_stored", 0),
        "stored_not_referenced": counts.get("stored_not_referenced", 0),
        "errored_before": errored_before,
        "errored_after": errored_after,
    }))
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from pyspark.sql import SparkSession

    from crawler_spark.plans.rounds import CrawlEngine, EngineConfig
    from crawler_spark.session import SESSION_DEFAULTS

    owned = SparkSession.getActiveSession() is None
    spark = (
        SparkSession.builder.appName("crawler_spark")
        .config(map=SESSION_DEFAULTS)
        .getOrCreate()
    )
    if args.list_fields or args.check_images:
        rc = _report_mode(spark, args)
        if owned:
            spark.stop()
        return rc

    if not args.seeds:
        raise SystemExit("--seeds is required to crawl")
    if args.fetch_mode == "fixture" and not args.pages:
        raise SystemExit("--pages is required in fixture mode")
    pages = spark.read.parquet(args.pages) if args.pages else None
    seeds = spark.read.parquet(args.seeds)
    politeness = spark.read.parquet(args.politeness) if args.politeness else None

    cfg = EngineConfig(
        ckpt_dir=args.ckpt,
        default_budget=args.budget,
        global_batch=args.global_batch,
        max_rounds=args.max_rounds,
        use_bloom=args.bloom,
        bloom_partitions=args.bloom_partitions,
        use_opic=args.opic,
        force=args.force,
        fetch_mode=args.fetch_mode,
        fetch_timeout_s=args.fetch_timeout,
        catalog_checkpoint=args.catalog_checkpoint,
        live_robots=args.live_robots,
        user_agent=args.user_agent,
        persist_link_graph=args.link_graph,
        live_sitemaps=args.live_sitemaps,
        url_junk_filter=args.url_junk_filter,
        adaptive_politeness=args.adaptive_politeness,
        trap_detection=args.trap_detection,
        trap_min_urls=args.trap_min_urls,
        trap_dup_ratio=args.trap_dup_ratio,
        canonical_collapse=args.canonical_collapse,
        conditional_fetch=args.conditional_fetch,
        soft404_filter=args.soft404_filter,
        lang_detect=args.lang_detect,
        warc_out=args.warc_out,
        keep_best=args.keep_best,
        keep_best_threshold=args.keep_best_threshold,
        dedup_paragraphs=args.dedup_paragraphs,
    )
    eng = CrawlEngine(
        spark, pages, seeds, politeness, cfg,
        connectors=load_connectors(args.connectors),
        url_blocklist=(
            spark.read.parquet(args.url_blocklist)
            if args.url_blocklist
            else None
        ),
    )
    # --force re-crawls from the seeds (the seen set is ignored by the
    # engine; resuming an exhausted frontier would end immediately)
    res = eng.run(resume=not (args.no_resume or args.force))

    outputs = [
        ("webtext", res.webtext),
        ("url_seen", res.url_seen),
        ("fetch_log", res.fetch_log),
    ]
    if args.records:  # --no-records: crawl ran, sink skipped (base.js:185-187)
        outputs.insert(0, ("records", res.records))
    for name, df in outputs:
        df.write.mode("overwrite").parquet(f"{args.out}/{name}")
    if args.keep_best or args.dedup_paragraphs:
        # the stats block below re-counts res.webtext; under curation that
        # plan is the whole keep_best/paragraph pipeline, so count the
        # parquet just written instead of recomputing the LSH stages
        res.webtext = spark.read.parquet(f"{args.out}/webtext")
    # curated outputs are written; release the LSH gram frame keep_best
    # persisted (one per run)
    for df in eng._curation_caches:
        df.unpersist()

    n_assets = None
    if args.files and args.assets_source:
        from crawler_spark.operators.assets import fetch_assets, image_targets

        source = spark.read.parquet(args.assets_source)
        assets = fetch_assets(image_targets(res.records), source)
        assets.write.mode("overwrite").parquet(f"{args.out}/assets")
        n_assets = assets.count()

    print(json.dumps({
        "rounds": res.rounds,
        "records": res.records.count() if args.records else None,
        "webtext": res.webtext.count(),
        "url_seen": res.url_seen.count(),
        "assets": n_assets,
        "metrics": res.metrics,
    }))
    if owned:  # embedding callers (tests) keep their session
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
