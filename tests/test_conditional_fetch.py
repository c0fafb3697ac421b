"""Conditional revisit fetches (RFC 9110 §13): live_fetch sends stored
ETag/Last-Modified validators and surfaces 304s; the engine persists
validators in a checkpoint sidecar and recrawls go out conditional, so
unchanged pages cost a request, not a transfer."""

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from crawler_spark.oracle.replay import replay
from crawler_spark.plans.rounds import CrawlEngine, EngineConfig
from crawler_spark.sources.sitegen import SiteSpec, generate_site, site_to_spark


@pytest.fixture(scope="module")
def site():
    return generate_site(
        SiteSpec(n_hosts=1, details_per_host=8, limit=4, related_per_host=0)
    )


@pytest.fixture()
def server(site):
    """Serve the site's pages with strong ETags (one per path) and honor
    If-None-Match / If-Modified-Since. Records every request's conditional
    headers and response status for assertions."""
    by_path = {}
    for r in site["pages"].itertuples():
        path = r.url.split("example.test", 1)[1]
        by_path[path] = bytes(r.html)
    LM = "Tue, 01 Jul 2025 00:00:00 GMT"
    log = []

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            body = by_path.get(self.path)
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            etag = f'"et-{self.path}"'
            inm = self.headers.get("If-None-Match")
            ims = self.headers.get("If-Modified-Since")
            if inm == etag or (inm is None and ims == LM):
                log.append((self.path, inm, ims, 304))
                self.send_response(304)
                self.send_header("ETag", etag)
                self.end_headers()
                return
            log.append((self.path, inm, ims, 200))
            self.send_response(200)
            self.send_header("Content-Type", "text/html")
            self.send_header("ETag", etag)
            self.send_header("Last-Modified", LM)
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", log
    srv.shutdown()


def _localized(site, base):
    s = dict(site)
    seeds = site["seeds"].copy()
    seeds["url"] = seeds["url"].str.replace(
        r"http://h0\.example\.test", base, regex=True
    )
    s["seeds"] = seeds
    pol = site["politeness"].copy()
    pol["host"] = base.split("//", 1)[1]
    s["politeness"] = pol
    return s


def test_live_fetch_conditional_requests(spark, site, server):
    from crawler_spark.operators.fetch import live_fetch

    base, log = server
    path = site["pages"].iloc[0]["url"].split("example.test", 1)[1]
    url = f"{base}{path}"
    et = f'"et-{path}"'
    rows = [
        (url, "127.0.0.1", et, None),          # matching etag -> 304
        (url, "127.0.0.1", '"stale"', None),   # stale etag -> 200 + body
        (url, "127.0.0.1", None, None),        # unconditional -> 200
    ]
    batch = spark.createDataFrame(
        rows,
        "url string, host string, req_etag string,"
        " req_last_modified string",
    )
    out = live_fetch(batch, timeout_s=5).collect()
    by_req = {r["req_etag"]: r for r in out}
    hit = by_req[et]
    assert hit["status"] == 304 and hit["body"] is None
    # the validators we sent remain the freshest known
    assert hit["etag"] == et
    stale = by_req['"stale"']
    assert stale["status"] == 200 and stale["body"] is not None
    assert stale["etag"] == et  # response validator captured
    assert stale["last_modified"] is not None
    uncond = by_req[None]
    assert uncond["status"] == 200 and uncond["etag"] == et


def test_live_fetch_if_modified_since(spark, site, server):
    from crawler_spark.operators.fetch import live_fetch

    base, log = server
    path = site["pages"].iloc[0]["url"].split("example.test", 1)[1]
    batch = spark.createDataFrame(
        [(f"{base}{path}", "127.0.0.1", None,
          "Tue, 01 Jul 2025 00:00:00 GMT")],
        "url string, host string, req_etag string,"
        " req_last_modified string",
    )
    r = live_fetch(batch, timeout_s=5).first()
    assert r["status"] == 304 and r["body"] is None
    assert r["last_modified"] == "Tue, 01 Jul 2025 00:00:00 GMT"


def test_validators_sidecar_roundtrip(spark, tmp_path):
    site_ = generate_site(SiteSpec(n_hosts=1, details_per_host=4, limit=4))
    sdfs = site_to_spark(spark, site_)
    eng = CrawlEngine(
        spark, sdfs["pages"], sdfs["seeds"], sdfs["politeness"],
        EngineConfig(ckpt_dir=str(tmp_path / "ck"), conditional_fetch=True),
    )
    ok1 = spark.createDataFrame(
        [("http://s/a", '"v1"', None), ("http://s/b", None, "Mon"),
         ("http://s/c", None, None)],
        "url string, etag string, last_modified string",
    )
    eng._validators_update(ok1, 1)
    got = {
        r["url"]: (r["req_etag"], r["req_last_modified"])
        for r in eng._load_validators().collect()
    }
    # validator-less responses add no row
    assert got == {"http://s/a": ('"v1"', None), "http://s/b": (None, "Mon")}
    # freshest per url wins across rounds
    eng._validators_update(
        spark.createDataFrame(
            [("http://s/a", '"v2"', None)],
            "url string, etag string, last_modified string",
        ),
        2,
    )
    got = {
        r["url"]: r["req_etag"] for r in eng._load_validators().collect()
    }
    assert got["http://s/a"] == '"v2"'
    # compaction folds history without changing the answer
    eng._validators.compact(max_files=0)
    got2 = {
        r["url"]: r["req_etag"] for r in eng._load_validators().collect()
    }
    assert got2 == got


def test_engine_conditional_recrawl_e2e(spark, site, server, tmp_path):
    base, log = server
    local = _localized(site, base)
    sdfs = site_to_spark(spark, local)
    cfg = EngineConfig(
        ckpt_dir=str(tmp_path / "ck"), default_budget=8,
        fetch_mode="live", fetch_timeout_s=10, conditional_fetch=True,
    )
    res1 = CrawlEngine(
        spark, None, sdfs["seeds"], sdfs["politeness"], cfg,
        connectors=site["connectors"],
    ).run()
    n1 = res1.records.count()
    assert n1 > 0
    # crawl 1 is unconditional end to end
    assert all(inm is None and ims is None for _, inm, ims, _ in log)
    assert all(status == 200 for *_, status in log)
    first_len = len(log)

    # recrawl every record URL on the same checkpoint: validators stored
    # by crawl 1 must go out as If-None-Match, the server answers 304,
    # and no record is re-parsed or duplicated
    recrawl = res1.records.select(
        "url", F.lit("c0").alias("connector_id")
    )
    eng2 = CrawlEngine(
        spark, None, sdfs["seeds"], sdfs["politeness"], cfg,
        connectors=site["connectors"],
    )
    res2 = eng2.run(recrawl=recrawl)
    second = log[first_len:]
    assert second, "recrawl issued no requests"
    revisits = [e for e in second if e[1] is not None]
    assert revisits, "no conditional request was sent on recrawl"
    assert all(status == 304 for *_, status in revisits)
    assert res2.records.count() == n1  # nothing re-parsed into the sink

    # the 304s were logged as unchanged-visit evidence, and folding them
    # into the change-rate history yields n_visits=2 / n_changes=0 for
    # every revisited URL — the estimator sees stability, not silence
    from crawler_spark.operators.revisit import (
        change_rate_stats,
        visit_history_from_webtext,
        visit_history_with_not_modified,
    )

    nm = eng2.not_modified_visits()
    assert nm is not None
    # the round metrics count 304s as not_modified, never as failures
    assert eng2.ckpt.sum_metric("not_modified") == nm.count()
    nm_urls = {r["url"] for r in nm.select("url").collect()}
    assert nm_urls == {
        r["url"] for r in res1.records.select("url").collect()
    }
    hist = visit_history_from_webtext(
        [(res1.webtext, "2025-07-01 00:00:00")]
    )
    merged = visit_history_with_not_modified(hist, nm)
    stats = {
        r["url"]: (r["n_visits"], r["n_changes"])
        for r in change_rate_stats(merged, order_col="fetch_id").collect()
    }
    for u in nm_urls:
        assert stats[u] == (2, 0)

    # a 304 answer confirms the stored copy: its URL must RE-ENTER the
    # seen set (round-4 ADVICE — without this, a recrawl-revoked URL
    # answering 304 stayed permanently unseen and every later run that
    # rediscovered a link to it re-fetched it for another 304)
    from crawler_spark.functions.canonicalize import url_hash as _uh

    seen_hashes = {r["url_hash"] for r in res2.url_seen.collect()}
    rec_hashes = {
        r["h"]
        for r in res1.records.select(_uh(F.col("url")).alias("h")).collect()
    }
    assert rec_hashes <= seen_hashes, "304-answered URLs absent from seen"
    # and a third run over the same checkpoint issues ZERO requests for
    # them (frontier resumes exhausted; nothing re-candidates a seen URL)
    third_start = len(log)
    CrawlEngine(
        spark, None, sdfs["seeds"], sdfs["politeness"], cfg,
        connectors=site["connectors"],
    ).run()
    assert log[third_start:] == [], "seen 304 URLs were re-fetched"


def test_nm_log_compaction_preserves_every_row(spark, tmp_path):
    site_ = generate_site(SiteSpec(n_hosts=1, details_per_host=4, limit=4))
    sdfs = site_to_spark(spark, site_)
    eng = CrawlEngine(
        spark, sdfs["pages"], sdfs["seeds"], sdfs["politeness"],
        EngineConfig(ckpt_dir=str(tmp_path / "ck"), conditional_fetch=True),
    )
    import datetime as dt

    for rnd in range(1, 6):
        fetched = spark.createDataFrame(
            [(f"http://s/p{i}", dt.datetime(2025, 7, rnd), 304)
             for i in range(3)],
            "url string, warc_ts timestamp, status int",
        )
        eng._nm_update(fetched, rnd)
    before = {(r["url"], r["ts"], r["fetch_id"])
              for r in eng.not_modified_visits().collect()}
    assert len(before) == 15
    # force a compaction pass: history (every row), not freshest-per-key
    eng._nm.compact(max_files=0)
    import os

    files = [f for f in os.listdir(eng._nm.path)
             if not f.startswith(("_", "."))]
    assert len(files) <= 2  # merged into a bounded count
    after = {(r["url"], r["ts"], r["fetch_id"])
             for r in eng.not_modified_visits().collect()}
    assert after == before
