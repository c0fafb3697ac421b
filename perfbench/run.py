#!/usr/bin/env python3
"""Crawl-engine benchmark: drives the public ``CrawlEngine(...).run()``.

    python3 perfbench/run.py --workload site_loop --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run starts one Spark session on
``local[<usable cores>]``, generates (or loads) the workload's site from the
seed, discards one warm-up crawl, then runs crawls back to back — a closed
loop with one caller — until ``--seconds`` have passed. Every crawl is
checked against the replay oracle outside its timed window. The last line
of standard output is one JSON object; the lines before it show every crawl
with its noise context (steal %, load average) and each metric's median and
quartiles. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# session settings: identical for every commit measured on one machine
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "3g"

# the generated site: one hot host (4x the details) among six, 50 results
# per search page, related links on page-1 details only, and a per-host
# budget that lets one round pop a host's whole backlog — a three-round
# crawl (seed pages; other search pages + page-1 details; the rest)
SITE = dict(
    n_hosts=6, details_per_host=200, limit=50, related_per_host=10,
    related_first_page_only=True, hot_host=0, hot_factor=4,
    budget_per_round=2000,
)
# a fresh crawl warms its JVM on the first two rounds of a small site of
# the same shape: they run every plan shape of the measured crawl in a
# fraction of the time a full-size cold crawl takes
WARM_UP_SITE = dict(SITE, n_hosts=2, details_per_host=40, hot_factor=2)
WARM_UP_ROUNDS = 2
ENGINE = dict(default_budget=2000, target_per_task=500)
WORKLOADS = {
    # fresh crawl; use_bloom="auto" keeps the exact seen anti-join at
    # this size, so Bloom upkeep is bypassed
    "site_loop": {"use_bloom": "auto", "revoke_share": 0.0},
    # resume of a completed Bloom-backed crawl of the same site, revoking
    # a quarter of the records through the driver cuckoo filter
    "recrawl": {"use_bloom": True, "revoke_share": 0.25},
}
MIN_SETUPS = 9


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def reset_peak_rss() -> None:
    """Reset VmHWM to the current RSS (kernel clear_refs mode 5)."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass  # peak then covers the whole process, never less


def peak_rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


# -- inputs -------------------------------------------------------------------


def inputs_dir(workload: str, seed: int) -> str:
    """Cached inputs of (workload, seed), generated on first use: pages
    parquet, plus one pickle holding seeds, politeness, connectors, the
    recrawl list and the oracle's result."""
    # keyed by the site and workload definitions too, so that editing
    # them never reuses stale inputs
    spec = WORKLOADS[workload]
    key = hashlib.sha1(repr((SITE, spec)).encode()).hexdigest()[:12]
    d = os.path.join(WORK, "inputs", f"{workload}-{seed}-{key}")
    if os.path.exists(os.path.join(d, "state.pkl")):
        return d
    from crawler_spark.oracle.replay import replay
    from crawler_spark.sources.sitegen import SiteSpec, generate_site

    site = generate_site(SiteSpec(seed=seed, **SITE))
    pages = dict(zip(site["pages"]["url"], site["pages"]["html"]))
    oracle = replay(pages, site["seeds"].to_dict("records"), site["connectors"])
    # revoke top-level records only: a revoked related page re-enters the
    # frontier as a top-level record and would expand its own related
    # links, which the sequential oracle never does
    related = {u for rec in oracle.records.values() for u in rec["related"]}
    written = sorted(
        (w["url"], w["connector_id"]) for w in oracle.written
        if w["url"] not in related
    )
    share = spec["revoke_share"]
    recrawl = sorted(random.Random(seed).sample(written, int(share * len(written))))
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    site["pages"].to_parquet(os.path.join(tmp, "pages.parquet"), index=False)
    state = {
        "seeds": site["seeds"],
        "politeness": site["politeness"],
        "connectors": site["connectors"],
        "recrawl": recrawl,
        "oracle": {
            # the seen set holds every URL fetched OK, search pages too
            "url_seen": sorted({u for u in oracle.fetches if u in pages}),
            "records": sorted(oracle.records),
            "webtext": oracle.webtext,
        },
    }
    with open(os.path.join(tmp, "state.pkl"), "wb") as fh:
        pickle.dump(state, fh)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


def load_state(d: str) -> dict:
    with open(os.path.join(d, "state.pkl"), "rb") as fh:
        return pickle.load(fh)  # written by inputs_dir above


def load_inputs(spark, d: str) -> tuple[dict, dict]:
    """Cached inputs → (engine input DataFrames, state)."""
    import pandas as pd

    from crawler_spark.sources.sitegen import site_to_spark

    state = load_state(d)
    site = {
        "pages": pd.read_parquet(os.path.join(d, "pages.parquet")),
        "seeds": state["seeds"],
        "politeness": state["politeness"],
    }
    return site_to_spark(spark, site), state


# -- correctness --------------------------------------------------------------


def oracle_hashes(spark, urls: list[str]) -> dict[int, str]:
    """url_hash → url for the oracle's seen set, via the engine's own key."""
    from pyspark.sql import functions as F

    from crawler_spark.functions.canonicalize import url_hash

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return {
        r[0]: r[1]
        for r in df.select(url_hash(F.col("url")), "url").collect()
    }


def check(res, oracle: dict, seen_hashes: dict, recrawl=None, from_round=0):
    """(attempted, failed) URLs of one crawl against the oracle: each
    expected URL must be in url_seen, have a record exactly when the
    oracle wrote one, and carry the oracle's webtext bytes; a recrawl must
    re-fetch exactly the revoked URLs. Unexpected URLs also count."""
    from pyspark.sql import functions as F

    got_seen = {r[0] for r in res.url_seen.select("url_hash").collect()}
    got_recs = {r[0] for r in res.records.select("url").collect()}
    got_text: dict[str, set] = {}
    for url, text in res.webtext.select("url", "text").collect():
        got_text.setdefault(url, set()).add(text.encode("utf-8"))
    want_recs = set(oracle["records"])
    want_text = {u: {t.encode("utf-8")} for u, t in oracle["webtext"].items()}
    want_seen = set(seen_hashes)
    bad = {seen_hashes.get(h, f"hash:{h}") for h in got_seen ^ want_seen}
    for url in want_recs | got_recs | set(got_text):
        if (url in got_recs) != (url in want_recs) or (
            got_text.get(url, set()) != want_text.get(url, set())
        ):
            bad.add(url)
    if recrawl is not None:
        refetched = {
            r[0]
            for r in res.fetch_log.where(
                (F.col("round") >= from_round) & (F.col("status") == 200)
            ).select("url").collect()
        }
        bad |= refetched ^ {u for u, _ in recrawl}
    attempted = len(set(seen_hashes.values()) | want_recs)
    if bad:
        print(f"{len(bad)} URLs differ from the oracle, e.g. "
              f"{sorted(bad)[:5]}", file=sys.stderr)
    return attempted, min(len(bad), attempted)


# -- one crawl ----------------------------------------------------------------


class Bench:
    def __init__(self, spark, workload: str, seed: int, trace: bool):
        self.spark = spark
        self.seed = seed
        self.trace = trace
        self.use_bloom = WORKLOADS[workload]["use_bloom"]
        self.is_recrawl = WORKLOADS[workload]["revoke_share"] > 0
        t0 = time.perf_counter()
        self.dir = inputs_dir(workload, seed)
        self.inputs_s = time.perf_counter() - t0
        self.warm_up_s = 0.0
        self.ck_base = os.path.join(WORK, "ckpt", "base")
        self.ck = os.path.join(WORK, "ckpt", "run")
        self.app_id = spark.sparkContext.applicationId
        self.base_rounds = 0
        self.seen_hashes: dict = {}
        self.setups: list[float] = []
        self.crawls: list[dict] = []
        self.attempted = self.failed = 0

    def engine(self, sdfs: dict, connectors, ck: str, **cfg):
        from crawler_spark.plans.rounds import CrawlEngine, EngineConfig

        return CrawlEngine(
            self.spark, sdfs["pages"], sdfs["seeds"], sdfs["politeness"],
            EngineConfig(ckpt_dir=ck, use_bloom=self.use_bloom, **ENGINE, **cfg),
            connectors=connectors,
        )

    def setup(self, ck: str, copy_base: bool):
        """Load inputs and build the engine over checkpoint ``ck`` — a
        fresh copy of the base checkpoint when ``copy_base``, else empty.
        Returns (engine, state, seconds)."""
        t0 = time.perf_counter()
        sdfs, state = load_inputs(self.spark, self.dir)
        shutil.rmtree(ck, ignore_errors=True)
        if copy_base:
            shutil.copytree(self.ck_base, ck)
        engine = self.engine(sdfs, state["connectors"], ck)
        return engine, state, time.perf_counter() - t0

    def warm_up(self) -> None:
        """One discarded crawl per JVM. For ``recrawl`` it is the complete
        base crawl whose checkpoint every measured crawl resumes; a fresh
        crawl warms up on ``WARM_UP_ROUNDS`` rounds of ``WARM_UP_SITE``."""
        from crawler_spark.sources.sitegen import (
            SiteSpec, generate_site, site_to_spark,
        )

        t0 = time.perf_counter()
        if self.is_recrawl:
            engine, state, _ = self.setup(self.ck_base, copy_base=False)
            res = engine.run()
            self.base_rounds = res.rounds
        else:
            site = generate_site(SiteSpec(seed=self.seed, **WARM_UP_SITE))
            shutil.rmtree(self.ck_base, ignore_errors=True)
            self.engine(
                site_to_spark(self.spark, site), site["connectors"], self.ck_base,
                max_rounds=WARM_UP_ROUNDS,
            ).run()
        self.warm_up_s = time.perf_counter() - t0
        # on a warm JVM, so the first Spark job's cold start is not paid twice
        self.seen_hashes = oracle_hashes(
            self.spark, load_state(self.dir)["oracle"]["url_seen"]
        )
        if self.is_recrawl:
            attempted, failed = check(res, state["oracle"], self.seen_hashes)
            if failed:
                raise RuntimeError(f"base crawl: {failed}/{attempted} URLs wrong")

    def measure(self) -> None:
        """One measured crawl, then its correctness check."""
        from perfbench.tracing import Tracer, dir_stats

        ck = self.ck
        engine, state, setup_s = self.setup(ck, copy_base=self.is_recrawl)
        self.setups.append(setup_s)
        recrawl, kwargs, first_round = None, {}, 0
        if self.is_recrawl:
            recrawl = state["recrawl"]
            kwargs = dict(resume=True, recrawl=self.spark.createDataFrame(
                recrawl, "url string, connector_id string"
            ))
            first_round = self.base_rounds
        tracer = Tracer(self.spark) if self.trace else None
        before = dir_stats(ck)
        reset_peak_rss()
        steal0, total0 = cpu_ticks()
        t0 = time.time()
        if tracer is not None:
            with tracer:
                res = tracer.run(engine, **kwargs)
        else:
            res = engine.run(**kwargs)
        t1 = time.time()
        steal1, total1 = cpu_ticks()
        crawl = {
            "driver_peak_rss_mb": peak_rss_mb(),
            "urls": sum(r["fetched_ok"] for r in res.metrics),
            "wall_s": t1 - t0,
            "first_commit_s": os.stat(
                os.path.join(ck, f"round={first_round}", "_manifest.json")
            ).st_mtime - t0,
            "rounds": res.metrics,
            "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
            "load1": load1(),
        }
        crawl["urls_per_s"] = crawl["urls"] / crawl["wall_s"]
        after = dir_stats(ck)
        crawl["ckpt_written"] = (after[0] - before[0], after[1] - before[1])
        crawl["tracer"] = tracer
        attempted, failed = check(
            res, state["oracle"], self.seen_hashes, recrawl, first_round
        )
        crawl["failed_share"] = failed / attempted
        self.attempted += attempted
        self.failed += failed
        self.crawls.append(crawl)

    def extra_setups(self) -> None:
        """Repeat set-up until MIN_SETUPS samples exist for the median."""
        while len(self.setups) < MIN_SETUPS:
            self.setups.append(self.setup(self.ck, self.is_recrawl)[2])


# -- session ------------------------------------------------------------------


def start_session(trace: bool):
    from crawler_spark.session import get_spark

    for sub in ("spark-local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            "-XX:-UsePerfData "  # no hsperfdata file outside the checkout
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
            f"-Dderby.system.home={os.path.join(WORK, 'warehouse')}"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        "perfbench", master=f"local[{usable_cores()}]",
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(pid: int) -> list[int]:
    """Every process below ``pid``, from /proc/<pid>/task/*/children."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue  # already gone
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as fh:
                    kids = [int(k) for k in fh.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it and the Python
    worker processes under it to exit."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise
    # workers outlive the JVM by a moment; they are no longer our children,
    # so poll until each is gone
    deadline = time.time() + 30
    for pid in started:
        while True:
            try:
                os.kill(pid, signal.SIGKILL if time.time() > deadline else 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)


# -- report -------------------------------------------------------------------

END_TO_END = {
    "urls_per_s": "url/s",
    "first_commit_s": "s",
    "setup_s": "s",
    "driver_peak_rss_mb": "MB",
}


def spread(values: list[float]) -> tuple[float, float, float]:
    """(median, first quartile, third quartile)."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3


def summarize(name: str, values: list[float], unit: str) -> dict:
    med, q1, q3 = spread(values)
    print(f"{name}: median={med:.6g} q1={q1:.6g} q3={q3:.6g} {unit} "
          f"(n={len(values)})")
    return {"value": med, "unit": unit}


def report(bench: Bench, args, session_s: float) -> dict:
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} master=local[{usable_cores()}] "
          f"shuffle_partitions={SHUFFLE_PARTITIONS} "
          f"driver_memory={DRIVER_MEMORY}")
    print(f"session_start_s={session_s:.3f} inputs_s={bench.inputs_s:.3f} "
          f"warm_up_s={bench.warm_up_s:.3f} (not measured)")
    for i, c in enumerate(bench.crawls):
        print(f"crawl {i}: wall_s={c['wall_s']:.3f} urls={c['urls']} "
              f"rounds={len(c['rounds'])} urls_per_s={c['urls_per_s']:.2f} "
              f"first_commit_s={c['first_commit_s']:.3f} "
              f"driver_peak_rss_mb={c['driver_peak_rss_mb']:.1f} "
              f"failed_share={c['failed_share']} "
              f"steal_pct={c['steal_pct']:.2f} load1={c['load1']:.2f}")
    print("setup_s samples: " + " ".join(f"{s:.4f}" for s in bench.setups))
    print(f"failed_share: {bench.failed / max(1, bench.attempted)} ratio "
          f"({bench.failed}/{bench.attempted} URLs)")
    if not bench.crawls:
        return {}
    if args.trace:
        return trace_metrics(bench, args.workload)
    metrics = {
        name: summarize(
            name,
            bench.setups if name == "setup_s" else [c[name] for c in bench.crawls],
            unit,
        )
        for name, unit in END_TO_END.items()
    }
    with open(os.path.join(WORK, f"untraced-{args.workload}.json"), "w") as fh:
        json.dump({"urls_per_s": metrics["urls_per_s"]["value"]}, fh)
    return metrics


def trace_metrics(bench: Bench, workload: str) -> dict:
    from perfbench.tracing import (
        SPARK_LAYERS, layer_metrics, read_event_log, unit_of,
    )

    log = os.path.join(WORK, "eventlog", bench.app_id)
    jobs = read_event_log(log)
    os.remove(log)
    per_crawl = [
        layer_metrics(c["tracer"], jobs, c["rounds"], c["ckpt_written"],
                      os.path.join(bench.ck, "blooms"))
        for c in bench.crawls
    ]
    for i, m in enumerate(per_crawl):
        run_s = m["trace.run_s"]
        n_jobs = sum(m[f"{layer}.jobs"] for layer in SPARK_LAYERS)
        print(f"crawl {i} coverage: layer spans "
              f"{m['trace.span_share'] * run_s:.3f} s + rounds.self_s "
              f"{m['rounds.self_s']:.3f} s = run {run_s:.3f} s; "
              f"{n_jobs:.0f} Spark jobs in run(), each in exactly one layer")
    metrics = {
        name: summarize(name, [m[name] for m in per_crawl], unit_of(name))
        for name in sorted(per_crawl[0])
    }
    print("lazy layers (politeness, fetch, frontier, extract factories) are "
          "timed at plan-building only; their work runs in later jobs")
    prev = os.path.join(WORK, f"untraced-{workload}.json")
    if os.path.exists(prev):
        with open(prev) as fh:
            untraced = json.load(fh)["urls_per_s"]
        traced = metrics["trace.urls_per_s"]["value"]
        print(f"tracing overhead: {traced:.2f} url/s traced vs {untraced:.2f} "
              f"untraced ({100.0 * (untraced - traced) / untraced:.1f}%)")
    return metrics


# -- main ---------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "crawler_spark")):
        print(f"crawler_spark not found under {ROOT}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import crawler_spark (and perfbench.tracing) too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # scratch space stays inside the checkout, whatever the environment says
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    t0 = time.perf_counter()
    spark = start_session(bool(args.trace))
    session_s = time.perf_counter() - t0
    bench = None
    try:
        bench = Bench(spark, args.workload, args.seed, bool(args.trace))
        bench.warm_up()
        # closed loop: next crawl only if it should end inside the window
        t_window = time.time()
        while not bench.crawls or (
            time.time() - t_window + bench.crawls[-1]["wall_s"] <= args.seconds
        ):
            bench.measure()
        bench.extra_setups()
    except Exception:
        # a crashed crawl counts as all of its URLs failed
        traceback.print_exc()
        if bench is not None:
            n = len(bench.seen_hashes) or 1
            bench.attempted += n
            bench.failed += n
    finally:
        stop_session(spark)
    if bench is None:
        return 1
    metrics = report(bench, args, session_s)
    correct = bench.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, bench.attempted),
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
