"""Engine wiring of <link rel=canonical> alias collapse
(EngineConfig.canonical_collapse): per-round alias sidecar learned from
fetched bytes; from the next round, link candidates are rewritten to the
collapsed terminal before the seen anti-join, so alias URLs are never
fetched and the frontier keys on canonical identity."""

from pyspark.sql import functions as F

from crawler_spark.plans.rounds import CrawlEngine, EngineConfig
from crawler_spark.schemas import FRONTIER
from crawler_spark.sources.sitegen import SiteSpec, generate_site, site_to_spark


def _engine(spark, tmp_path, **cfg_kw):
    site = generate_site(SiteSpec(n_hosts=2, details_per_host=12, limit=4))
    sdfs = site_to_spark(spark, site)
    cfg = EngineConfig(ckpt_dir=str(tmp_path / "ck"), **cfg_kw)
    return CrawlEngine(
        spark, sdfs["pages"], sdfs["seeds"], sdfs["politeness"], cfg
    )


def _ok_df(spark, rows):
    """rows: (url, html string) -> fetched-page shape (url, body binary)."""
    return spark.createDataFrame(
        [(u, bytearray(h.encode())) for u, h in rows],
        "url string, body binary",
    )


def _canon(href):
    return f'<link rel="canonical" href="{href}">'


def test_alias_update_and_cross_round_collapse(spark, tmp_path):
    eng = _engine(spark, tmp_path, canonical_collapse=True)
    # round 1: u2 declares u3; self-canonical and no-tag pages add nothing
    eng._alias_update(
        _ok_df(
            spark,
            [
                ("http://s.test/u2", _canon("/u3")),
                ("http://s.test/self", _canon("http://s.test/self")),
                ("http://s.test/plain", "<p>no declaration</p>"),
            ],
        ),
        1,
    )
    got = {
        r["url"]: r["canonical_final"]
        for r in eng._load_alias_map().collect()
    }
    assert got == {"http://s.test/u2": "http://s.test/u3"}
    # round 2 extends the chain FROM THE FAR END (u3 -> u4): the map must
    # collapse across rounds in either learning order
    eng._alias_update(
        _ok_df(spark, [("http://s.test/u3", _canon("/u4"))]), 2
    )
    got = {
        r["url"]: r["canonical_final"]
        for r in eng._load_alias_map().collect()
    }
    assert got == {
        "http://s.test/u2": "http://s.test/u4",
        "http://s.test/u3": "http://s.test/u4",
    }


def test_canonical_loop_rows_are_dropped(spark, tmp_path):
    eng = _engine(spark, tmp_path, canonical_collapse=True)
    eng._alias_update(
        _ok_df(
            spark,
            [
                ("http://s.test/a", _canon("/b")),
                ("http://s.test/b", _canon("/a")),
                ("http://s.test/ok", _canon("/fine")),
            ],
        ),
        1,
    )
    got = {
        r["url"]: r["canonical_final"]
        for r in eng._load_alias_map().collect()
    }
    # the a<->b loop can never resolve; only the sane row survives
    assert got == {"http://s.test/ok": "http://s.test/fine"}


def test_freshest_declaration_wins(spark, tmp_path):
    eng = _engine(spark, tmp_path, canonical_collapse=True)
    eng._alias_update(
        _ok_df(spark, [("http://s.test/u", _canon("/old"))]), 1
    )
    eng._alias_update(
        _ok_df(spark, [("http://s.test/u", _canon("/new"))]), 2
    )
    got = {
        r["url"]: r["canonical_final"]
        for r in eng._load_alias_map().collect()
    }
    assert got == {"http://s.test/u": "http://s.test/new"}


def test_apply_alias_map_rewrites_candidates(spark, tmp_path):
    eng = _engine(spark, tmp_path, canonical_collapse=True)
    eng._alias_update(
        _ok_df(spark, [("http://h0.example.test/alias", _canon("/real"))]),
        1,
    )
    cands = spark.createDataFrame(
        [
            (
                "http://h0.example.test/alias", 0, "h0.example.test",
                1, 0.0, 0, 1, 0, 0, 1, 0, 1, "record", "c0",
            ),
            (
                "http://h1.example.test/other", 0, "h1.example.test",
                1, 0.5, 0, 1, 1, 0, 1, 0, 1, "record", "c0",
            ),
        ],
        FRONTIER,
    ).withColumn("url_hash", F.xxhash64("url"))
    cands = cands.select(*[f.name for f in FRONTIER.fields])
    out = eng._apply_alias_map(cands, eng._load_alias_map())
    # schema preserved exactly (positional unions downstream depend on it)
    assert [f.name for f in out.schema.fields] == [
        f.name for f in FRONTIER.fields
    ]
    rows = {r["url"]: r for r in out.collect()}
    assert set(rows) == {
        "http://h0.example.test/real",
        "http://h1.example.test/other",
    }
    rw = rows["http://h0.example.test/real"]
    # url_hash/host recomputed for the rewritten row; metadata untouched
    ref = cands.select(
        F.xxhash64(F.lit("http://h0.example.test/real"))
    ).first()[0]
    assert rw["url_hash"] == ref
    assert rw["host"] == "h0.example.test"
    assert rw["depth"] == 1 and rw["score"] == 0.0
    other = rows["http://h1.example.test/other"]
    assert other["score"] == 0.5  # untouched row survives verbatim


def test_e2e_alias_rewrite_suppresses_alias_fetch(spark, tmp_path):
    # baseline run: which record URLs does the crawl produce?
    base = _engine(spark, tmp_path / "a")
    base_urls = sorted(
        r["url"] for r in base.run().records.select("url").collect()
    )
    assert len(base_urls) >= 4
    # pick an alias/target pair of real detail URLs on the same host
    alias_url, target_url = base_urls[0], base_urls[1]

    eng = _engine(spark, tmp_path / "b", canonical_collapse=True)
    # pre-seed the sidecar as if a previous crawl learned the alias
    spark.createDataFrame(
        [(alias_url, target_url, 0)],
        "url string, canonical string, updated_round int",
    ).write.mode("append").parquet(eng._aliases.path)

    res = eng.run()
    got = {r["url"] for r in res.records.select("url").collect()}
    # the alias URL was rewritten to the target before the seen anti-join:
    # it is never fetched, the target is crawled exactly as before
    assert alias_url not in got
    assert target_url in got
    assert got == set(base_urls) - {alias_url}


def test_rel_canonical_uses_connector_drop_params(spark, tmp_path):
    """A rel=canonical target carrying a connector-dropped param must be
    stored canonicalized with that row's OWN connector drop_params — the
    same rule 3xx landings follow — so the alias keys match the
    link-discovered form's seen-key instead of re-fetching the resource."""
    from crawler_spark.operators.extract import ConnectorConfig

    site = generate_site(SiteSpec(n_hosts=2, details_per_host=12, limit=4))
    sdfs = site_to_spark(spark, site)
    eng = CrawlEngine(
        spark,
        sdfs["pages"],
        sdfs["seeds"],
        sdfs["politeness"],
        EngineConfig(ckpt_dir=str(tmp_path / "ck"), canonical_collapse=True),
        connectors={
            "c0": ConnectorConfig(
                connector_id="c0", drop_params=frozenset({"width"})
            ),
            "c1": ConnectorConfig(connector_id="c1"),
        },
    )
    ok = spark.createDataFrame(
        [
            ("http://s.test/a", bytearray(_canon("/img?width=5").encode()),
             "c0"),
            ("http://s.test/b", bytearray(_canon("/img?width=5").encode()),
             "c1"),
        ],
        "url string, body binary, connector_id string",
    )
    eng._alias_update(ok, 1)
    got = {
        r["url"]: r["canonical_final"]
        for r in eng._load_alias_map().collect()
    }
    assert got == {
        "http://s.test/a": "http://s.test/img",  # width dropped for c0
        "http://s.test/b": "http://s.test/img?width=5",  # kept for c1
    }


def test_alias_update_learns_redirect_landings(spark, tmp_path):
    eng = _engine(spark, tmp_path, canonical_collapse=True)
    ok = spark.createDataFrame(
        [
            # redirect only
            ("http://s.test/old", bytearray(b"<p>x</p>"),
             "http://s.test/new"),
            # redirect AND rel=canonical: canonical wins (deeper target)
            ("http://s.test/both", bytearray(_canon("/deep").encode()),
             "http://s.test/mid"),
            # no redirect, no canonical
            ("http://s.test/plain", bytearray(b"<p>y</p>"), None),
        ],
        "url string, body binary, final_url string",
    )
    eng._alias_update(ok, 1)
    got = {
        r["url"]: r["canonical_final"]
        for r in eng._load_alias_map().collect()
    }
    assert got == {
        "http://s.test/old": "http://s.test/new",
        "http://s.test/both": "http://s.test/deep",
    }


def test_live_fetch_surfaces_redirect_landing(spark):
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from crawler_spark.operators.fetch import live_fetch

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            if self.path == "/moved":
                self.send_response(301)
                self.send_header("Location", "/landed")
                self.end_headers()
                return
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b"<p>here</p>")

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        batch = spark.createDataFrame(
            [(f"{base}/moved", "127.0.0.1"), (f"{base}/landed", "127.0.0.1")],
            "url string, host string",
        )
        out = {r["url"]: r for r in live_fetch(batch, timeout_s=5).collect()}
        moved = out[f"{base}/moved"]
        assert moved["status"] == 200  # opener followed the chain
        assert moved["final_url"] == f"{base}/landed"
        assert out[f"{base}/landed"]["final_url"] is None  # no redirect
    finally:
        srv.shutdown()


def test_alias_rewrite_broadcast_gate_both_sides(spark, tmp_path, monkeypatch):
    """The alias-map join broadcasts below the driver-known sidecar byte
    bound and degrades to a plain (non-broadcast) join past it — plan-
    asserted on both sides of the gate."""
    from crawler_spark.operators import politeness
    from crawler_spark.schemas import FRONTIER

    def _plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    eng = _engine(spark, tmp_path, canonical_collapse=True)
    eng._alias_update(
        _ok_df(spark, [("http://h0.example.test/alias", _canon("/real"))]),
        1,
    )
    cands = spark.createDataFrame(
        [(
            "http://h0.example.test/alias", 0, "h0.example.test",
            1, 0.0, 0, 1, 0, 0, 1, 0, 1, "record", "c0",
        )],
        FRONTIER,
    )
    amap = eng._load_alias_map()
    # small sidecar: broadcast hash join
    assert "BroadcastHashJoin" in _plan(eng._apply_alias_map(cands, amap))
    # force the gate shut: the same join must NOT broadcast
    monkeypatch.setattr(politeness, "BROADCAST_MAX_BYTES", 0)
    shut = _plan(eng._apply_alias_map(cands, amap))
    assert "BroadcastHashJoin" not in shut
