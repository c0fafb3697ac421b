"""Training-data pipeline functions: textstats, dedup, similarity, multimodal."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox and the lazy dog of the farm", "en"),
        (2, "le chat et la souris dans le jardin de la maison", "fr"),
        (3, "el perro y los gatos de la casa un dia", "es"),
        (4, "the quick brown fox and the lazy dog of the farm", "en"),  # dup of 1
        (5, "the quick brown fox and the lazy dog of the barn", "en"),  # near-dup
        (6, "zzz qqq", "und"),
        (7, "", "und"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_token_count(spark, docs):
    from crawler_spark.functions.textstats import token_count

    got = {
        r["doc_id"]: r["n"]
        for r in docs.select("doc_id", token_count(F.col("text")).alias("n")).collect()
    }
    assert got[1] == 11 and got[6] == 2 and got[7] == 0


def test_langid(spark, docs):
    from crawler_spark.functions.textstats import langid

    got = {
        r["doc_id"]: r["l"]
        for r in docs.select("doc_id", langid(F.col("text")).alias("l")).collect()
    }
    assert got[1] == "en" and got[2] == "fr" and got[3] == "es" and got[6] == "und"


def test_fingerprint_normalization(spark):
    from crawler_spark.functions.textstats import fingerprint_md5

    df = spark.createDataFrame(
        [("Hello  World",), ("hello world",), ("other",)], ["text"]
    )
    fps = [r["fp"] for r in df.select(fingerprint_md5(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_exact_dedup(spark, docs):
    from crawler_spark.functions.dedup import exact_dedup, exact_duplicate_groups

    groups = exact_duplicate_groups(docs).collect()
    assert len(groups) == 1 and groups[0]["n_dups"] == 2 and groups[0]["keep_id"] == 1
    kept = {r["doc_id"] for r in exact_dedup(docs).collect()}
    assert kept == {1, 2, 3, 5, 6, 7}


def test_ngram_jaccard_pairs(spark, docs):
    from crawler_spark.functions.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        docs.withColumn("blk", F.lit(1)), ["blk"], threshold=0.5
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard_sim"] for r in pairs}
    assert got[(1, 4)] == 1.0  # exact dup
    assert (1, 5) in got and got[(1, 5)] > 0.7  # near dup
    assert (1, 2) not in got


def test_minhash_lsh_finds_neardups(spark, docs):
    from crawler_spark.functions.dedup import minhash_lsh_pairs

    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 4) in pairs and (1, 5) in pairs
    assert all(a < b for a, b in pairs)


def test_simhash_near_pairs(spark, docs):
    from crawler_spark.functions.dedup import simhash64, simhash_near_pairs

    sh = {
        r["doc_id"]: r["sh"]
        for r in docs.where("doc_id in (1,4,5)")
        .select("doc_id", simhash64(F.col("text")).alias("sh"))
        .collect()
    }
    assert sh[1] == sh[4]  # identical text, identical simhash
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(docs, max_hamming=10).collect()
    }
    assert pairs[(1, 4)] == 0
    assert (1, 5) in pairs


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal((8, 16)).astype(np.float32)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v], i % 2))
    # vec 100 = near-copy of vec 0
    rows.append((100, [float(x) for x in base[0] + 0.001], 0))
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_brute_force_topk(spark, vecs):
    from crawler_spark.functions.similarity import brute_force_topk

    top = brute_force_topk(vecs.where("vec_id = 0"), vecs, k=2).collect()
    assert top[0]["neighbor_id"] == 100 and top[0]["cos_sim"] > 0.999
    assert len(top) == 2 and top[0]["rank"] == 1


def test_brute_force_topk_guards_huge_corpus(spark, vecs):
    """The exact baseline refuses to broadcast an unbounded corpus — the
    same footgun-guard as embedding_neardup_pairs' block_col requirement."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from crawler_spark.functions.similarity import (
        BRUTE_FORCE_MAX_CORPUS,
        brute_force_topk,
    )

    huge = spark.range(BRUTE_FORCE_MAX_CORPUS + 1).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(0.0)).alias("embedding"),
    )
    with _pytest.raises(ValueError, match="lsh_topk/ivf_topk"):
        brute_force_topk(vecs, huge, k=2)
    # the escape hatch stays available for deliberate full scans
    out = brute_force_topk(
        vecs.where("vec_id = 0"), vecs, k=2, allow_full_scan=True
    )
    assert out.count() == 2


def test_lsh_topk_finds_obvious_neighbor(spark, vecs):
    from crawler_spark.functions.similarity import lsh_topk

    rows = lsh_topk(vecs, k=2, n_planes=4, dim=16).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    # the near-copy pair must share all LSH buckets → found
    assert 100 in by_q.get(0, [])


def test_embedding_neardup(spark, vecs):
    from crawler_spark.functions.similarity import embedding_neardup_pairs

    pairs = embedding_neardup_pairs(vecs, threshold=0.99, block_col="label").collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 100)}


# minimal REAL image containers: JPEG SOI+SOF0, PNG signature+IHDR, GIF
# logical screen descriptor — enough header for true dimension parsing
JPEG_128x256 = (
    b"\xff\xd8\xff\xc0" + (11).to_bytes(2, "big") + b"\x08"
    + (256).to_bytes(2, "big") + (128).to_bytes(2, "big") + b"\x01\x00\x00\x00"
)
PNG_64x32 = (
    b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
    + (64).to_bytes(4, "big") + (32).to_bytes(4, "big") + b"\x08\x02\x00\x00\x00"
)
GIF_320x200 = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00" * 6


def test_multimodal_sniff_and_decode(spark):
    from crawler_spark.functions.multimodal import (
        image_dimensions,
        image_type_valid,
        sniff_content_type,
    )

    bad = b"not an image"
    assert sniff_content_type(JPEG_128x256) == "image/jpeg"
    assert sniff_content_type(PNG_64x32) == "image/png"
    assert sniff_content_type(GIF_320x200) == "image/gif"
    assert sniff_content_type(bad) is None
    # REAL header-level dimension extraction (no decoder library)
    assert image_dimensions(JPEG_128x256) == (128, 256)
    assert image_dimensions(PNG_64x32) == (64, 32)
    assert image_dimensions(GIF_320x200) == (320, 200)
    assert image_dimensions(bad) == (None, None)
    assert image_dimensions(PNG_64x32[:10]) == (None, None)  # truncated

    # JPEG marker-scan edge cases: 0xFF fill padding before a segment and
    # standalone (length-less) markers are legal and must not derail the
    # scan into garbage offsets
    def _seg(marker, payload):
        return (
            bytes([0xFF, marker])
            + (len(payload) + 2).to_bytes(2, "big")
            + payload
        )

    sof = _seg(
        0xC0,
        b"\x08" + (256).to_bytes(2, "big") + (128).to_bytes(2, "big") + b"\x03",
    )
    app0 = _seg(0xE0, b"JFIF\x00")
    assert image_dimensions(b"\xff\xd8" + app0 + b"\xff" + sof) == (128, 256)
    assert image_dimensions(b"\xff\xd8" + b"\xff\x01" + sof) == (128, 256)

    df = spark.createDataFrame(
        [
            ("u1", bytearray(JPEG_128x256)),
            ("u2", bytearray(PNG_64x32)),
            ("u3", bytearray(bad)),
        ],
        "url string, bytes binary",
    )
    valid = {
        r["url"]: r["ok"]
        for r in df.select("url", image_type_valid(F.col("bytes")).alias("ok")).collect()
    }
    assert valid == {"u1": True, "u2": True, "u3": False}


def test_ivf_topk_exact_when_probing_all_cells(spark):
    """nprobe == n_cells ⇒ IVF degenerates to exact brute force — the
    correctness anchor for the approximate path."""
    from pyspark.sql import functions as F

    from crawler_spark.functions.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_topk(queries, emb, k=3).collect()
    }
    ivf_all = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(
            emb, k=3, n_cells=4, nprobe=4, query_filter=F.col("vec_id") < 20
        ).collect()
    }
    assert ivf_all == exact

    # partial probing returns a subset-quality result: every hit it DOES
    # return is a true neighbor ranked consistently (cos computed exactly)
    ivf_1 = ivf_topk(
        emb, k=3, n_cells=4, nprobe=1, query_filter=F.col("vec_id") < 20
    ).collect()
    assert len(ivf_1) > 0
    recall = sum(
        1 for r in ivf_1 if exact.get((r["query_id"], r["rank"])) == r["neighbor_id"]
    ) / len(ivf_1)
    assert recall > 0.2  # approximate by design, not garbage


def test_sharded_jaccard_equals_single_task(spark):
    """Hot-block decomposition: the gram-sharded path must emit EXACTLY the
    single-task blocked result (|A∩B| = Σ_s |A_s∩B_s| over a gram-space
    partition)."""
    from crawler_spark.functions.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in ngram_jaccard_pairs(
            docs, block_cols=["source"], threshold=0.3, n=3
        ).collect()
    }
    for shards in (1, 7):
        sharded = {
            (r["id_a"], r["id_b"]): r["jaccard_sim"]
            for r in ngram_jaccard_pairs(
                docs, block_cols=["source"], threshold=0.3, n=3,
                gram_shards=shards,
            ).collect()
        }
        assert sharded == base, shards
    assert len(base) > 0


def test_winnow_fingerprint_guarantee(spark):
    """Winnowing property (Schleimer et al. 2003): two docs sharing a
    substring of length >= k + w - 1 share at least one fingerprint; docs
    with no common k-grams share none."""
    from crawler_spark.functions.dedup import winnow_fingerprints

    shared = "the silk road caravan crossed the desert at dawn"
    rows = [
        (1, "prologue text then " + shared + " and an epilogue"),
        (2, shared + " entirely different continuation afterwards"),
        (3, "zzzz qqqq wwww completely disjoint vocabulary here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {}
    for r in winnow_fingerprints(df, k=5, w=4).collect():
        fps.setdefault(r["id"], set()).add(r["fp"])
    assert fps[1] & fps[2]  # shared substring → shared fingerprint
    assert not (fps[1] & fps[3])
    assert all(len(v) > 0 for v in fps.values())


# ---------------------------------------------------------------------------
# Gopher repetition signals (Rae et al. 2021 §A1.1) + C4 line rules
# (Raffel et al. 2019 §2.2) — the line/paragraph/punctuation paths the
# single-line synthetic corpus can't exercise in the driver queries.


def test_gopher_dup_fractions(spark):
    from crawler_spark.functions.textstats import (
        dup_line_frac,
        dup_ngram_frac,
        dup_para_frac,
    )

    rows = [
        # 4 lines, "same line" twice -> 1 of 4 lines is a repeat
        (1, "same line\nother line\nsame line\nlast line"),
        # 3 paragraphs, one repeated -> 1/3 duplicate paragraphs
        (2, "para one here\n\npara two here\n\npara one here"),
        # "a b" bigram appears 3x in 4 bigrams -> 2/4 are repeats
        (3, "a b a b a"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            dup_line_frac(F.col("text")).alias("dl"),
            dup_para_frac(F.col("text")).alias("dp"),
            dup_ngram_frac(F.col("text"), 2).alias("dg"),
        ).collect()
    }
    assert got[1]["dl"] == pytest.approx(0.25)
    assert got[2]["dp"] == pytest.approx(1 / 3)
    assert got[3]["dg"] == pytest.approx(0.5)  # bigrams: ab ba ab ba -> 2 dup
    assert got[4]["dl"] == got[4]["dp"] == got[4]["dg"] == 0.0


def test_gopher_top_ngram_stats(spark):
    from crawler_spark.functions.textstats import top_ngram_stats

    rows = [(1, "x y x y x z"), (2, "a b c d"), (3, "solo")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in top_ngram_stats(df, n=2).collect()}
    # doc 1 bigrams: xy yx xy yx xz -> top 'x y' 2/5
    assert got[1]["top_ngram_frac"] == pytest.approx(0.4)
    assert got[1]["n_ngrams"] == 5
    assert got[2]["top_ngram_frac"] == pytest.approx(1 / 3)
    assert 3 not in got  # <2 tokens -> no n-grams -> no row


def test_c4_line_rules(spark):
    from crawler_spark.functions.textstats import c4_clean, c4_kept_line_frac

    text = (
        "This is a proper sentence with enough words.\n"
        "too short.\n"
        "No terminal punctuation on this long enough line\n"
        "Enable JavaScript to view this page properly.\n"
        "function foo() { return 1; }\n"
        "Lorem ipsum dolor sit amet consectetur adipiscing elit.\n"
        'He said the magic words loudly: "open sesame!"\n'
    )
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    row = df.select(
        c4_clean(F.col("text"), min_words=5, require_terminal=True).alias("c"),
        c4_kept_line_frac(
            F.col("text"), min_words=5, require_terminal=True
        ).alias("f"),
    ).first()
    kept = row["c"].split("\n")
    assert kept == [
        "This is a proper sentence with enough words.",
        'He said the magic words loudly: "open sesame!"',
    ]
    assert row["f"] == pytest.approx(2 / 7)


# ---------------------------------------------------------------------------
# connected components / cluster keep-one


def _uf_components(n_nodes, edges):
    """Reference union-find: node -> min node id of its component."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # path-compress fully, then label by component min (root IS the min
    # because unions always hang the larger root under the smaller)
    return {x: find(x) for x in range(n_nodes)}


def test_connected_components_random_graphs(spark):
    """Property: components == union-find on random graphs (chains,
    cliques, stars, isolated pairs all arise at n=60) — on BOTH the
    size-gated driver fast path (default) and the distributed large-star/
    small-star loop (gate forced off), which must agree exactly."""
    import random

    from crawler_spark.functions.dedup import connected_components

    rng = random.Random(42)
    for trial in range(4):
        n = 60
        m = rng.randrange(10, 80)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edges = [(u, v) for u, v in edges if u != v]
        if not edges:
            continue
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        ref = _uf_components(n, edges)
        touched = {u for e in edges for u in e}
        want = {(x, ref[x]) for x in touched}
        for gate in (1_000_000, 0):  # driver union-find / star loop
            got = {
                (r["id"], r["component"])
                for r in connected_components(
                    df, driver_max_edges=gate
                ).collect()
            }
            assert got == want, f"trial {trial} gate {gate}: {got ^ want}"


def test_connected_components_chain(spark):
    """A chain is label propagation's worst case (O(n) rounds); the
    alternating algorithm must close it in O(log^2 n). Gate forced off so
    the distributed loop (not the driver shortcut) is what's tested."""
    from crawler_spark.functions.dedup import connected_components

    n = 64
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = connected_components(df, max_iter=20, driver_max_edges=0).collect()
    assert {(r["id"], r["component"]) for r in out} == {
        (i, 0) for i in range(n)
    }


def test_connected_components_driver_gate_schema_parity(spark):
    """The two paths must return identical schema AND rows so the gate is
    invisible to callers (near_dup_clusters joins on the result)."""
    from crawler_spark.functions.dedup import connected_components

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 5), (7, 3)], "id_a long, id_b long"
    )
    fast = connected_components(df)
    slow = connected_components(df, driver_max_edges=0)
    assert fast.schema == slow.schema
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, slow.collect())
    )
    # mixed src/dst dtypes: both output columns draw values from BOTH
    # input columns, so the driver path must widen to the u∪v common type
    # exactly like the star loop's members.union(roots) does
    mixed = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a int, id_b long"
    )
    fast_m = connected_components(mixed)
    slow_m = connected_components(mixed, driver_max_edges=0)
    assert fast_m.schema == slow_m.schema
    assert sorted(map(tuple, fast_m.collect())) == sorted(
        map(tuple, slow_m.collect())
    )


def test_near_dup_clusters_keep_one(spark):
    from crawler_spark.functions.dedup import near_dup_clusters

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    # components: {0,1,2}, {5,6}; 3,4,7 unpaired
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    rows = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in near_dup_clusters(docs, pairs).collect()
    }
    assert rows == {
        0: (0, True), 1: (0, False), 2: (0, False),
        3: (3, True), 4: (4, True),
        5: (5, True), 6: (5, False), 7: (7, True),
    }


def test_cluster_keep_best(spark):
    from crawler_spark.functions.dedup import cluster_keep_best

    docs = spark.createDataFrame(
        [(i, f"doc {i}", q) for i, q in
         [(0, 2), (1, 9), (2, 9), (3, 1), (4, 7), (5, 3), (6, 3), (7, 0)]],
        "doc_id long, text string, quality long",
    )
    # components: {0,1,2} (best quality 9 tie -> min id 1), {5,6} (tie ->
    # 5); 3,4,7 unpaired
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    rows = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in cluster_keep_best(docs, pairs, "quality").collect()
    }
    assert rows == {
        0: (0, False), 1: (0, True), 2: (0, False),  # argmax, tie -> 1
        3: (3, True), 4: (4, True),
        5: (5, True), 6: (5, False), 7: (7, True),
    }
    # input columns survive alongside cluster_id/keep
    cols = cluster_keep_best(docs, pairs, "quality").columns
    assert cols == ["doc_id", "text", "quality", "cluster_id", "keep"]


def test_pagerank_matches_numpy_power_iteration(spark):
    """pagerank == dense numpy power iteration of the same model (uniform
    dangling redistribution, d=0.85) on a random graph with dangling nodes
    and a hub."""
    import random

    import numpy as np

    from crawler_spark.operators.opic import pagerank

    rng = random.Random(7)
    n = 30
    edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(70)}
    edges |= {(i, 0) for i in range(5, 15)}  # hub
    edges = [(u, v) for u, v in edges if u != v]
    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    m = len(nodes)
    deg = np.zeros(m)
    for u, _ in edges:
        deg[idx[u]] += 1
    r = np.full(m, 1.0 / m)
    d = 0.85
    for _ in range(4):
        contrib = np.zeros(m)
        for u, v in edges:
            contrib[idx[v]] += r[idx[u]] / deg[idx[u]]
        dangling = r[deg == 0].sum()
        r = (1 - d) / m + d * (contrib + dangling / m)
    assert abs(r.sum() - 1.0) < 1e-9  # mass conserved

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        row["id"]: row["rank"]
        for row in pagerank(df, n_iter=4, damping=d).collect()
    }
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-12, v


def test_substring_repeats(spark):
    """Docs sharing a >=50-char normalized run are detected (every aligned
    window of the run reports the pair); unrelated docs are not."""
    from crawler_spark.functions.dedup import substring_repeats

    run = "the quick brown fox jumps over the lazy dog again and again ok"
    docs = spark.createDataFrame(
        [
            (1, "PREFIX one " + run + " SUFFIX alpha"),
            (2, "totally different start " + run.upper() + " other end"),
            (3, "no shared material here at all, just filler text that is"
                " long enough to produce windows of its own in quantity"),
        ],
        "doc_id long, text string",
    )
    out = substring_repeats(docs, min_len=50).collect()
    assert out, "shared 50-char run must be detected"
    # normalization lowercases, so doc 2's upper-case copy still matches
    assert all(r["n_docs"] == 2 and r["keep_id"] == 1 for r in out)
    # pure-Python reference: distinct 50-char windows per normalized doc,
    # count cross-doc repeats (boundary spaces shared across docs count too)
    import re

    def norm(s):
        return re.sub(r"\s+", " ", s.lower()).strip()

    texts = {r["doc_id"]: norm(r["text"]) for r in docs.collect()}
    wins = {
        i: {t[j:j + 50] for j in range(len(t) - 49)}
        for i, t in texts.items()
    }
    shared = (wins[1] & wins[2]) | (wins[1] & wins[3]) | (wins[2] & wins[3])
    assert len(out) == len(shared)


# ---------------------------------------------------------------------------
# PII detection + redaction (functions/pii.py)


def test_pii_counts_and_redaction(spark):
    from crawler_spark.functions import pii

    rows = [
        (1, "write to alice.b+spam@sub.example.co.uk or bob@x.io today"),
        (2, "server at 10.0.255.3 and 192.168.1.1; version 1.2.3.4000 is not an ip"),
        (3, "call 555-123-4567 or 800.555.0199 but not 55-123-4567"),
        (4, "no pii here, just text with numbers 12345 and dots..."),
        (5, "mixed: c@d.org from 8.8.8.8 dial 555-000-1111"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = F.col("text")
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            pii.count_emails(t).alias("e"),
            pii.count_ipv4(t).alias("i"),
            pii.count_phones(t).alias("p"),
            pii.redact_pii(t).alias("red"),
            pii.pii_hit(t).alias("hit"),
        ).collect()
    }
    assert (got[1]["e"], got[1]["i"], got[1]["p"]) == (2, 0, 0)
    # 1.2.3.4000 must NOT match (word boundary kills the 4-digit quad)
    assert (got[2]["e"], got[2]["i"], got[2]["p"]) == (0, 2, 0)
    # 55-123-4567 must NOT match (needs exactly 3-3-4)
    assert (got[3]["e"], got[3]["i"], got[3]["p"]) == (0, 0, 2)
    assert (got[4]["e"], got[4]["i"], got[4]["p"]) == (0, 0, 0)
    assert not got[4]["hit"] and got[5]["hit"]
    assert got[5]["red"] == "mixed: <EMAIL> from <IP> dial <PHONE>"
    assert got[6]["red"] == ""


def test_pii_cascade_no_double_count(spark):
    from crawler_spark.functions import pii

    # the dotted quad inside the email's host part belongs to the email:
    # count_ipv4 masks emails first, so it sees only the free-standing quad
    df = spark.createDataFrame([(1, "root@10.1.2.3.example.com plus 4.4.4.4")],
                               "doc_id long, text string")
    t = F.col("text")
    r = df.select(
        pii.count_emails(t).alias("e"),
        pii.count_ipv4(t).alias("i"),
        pii.redact_pii(t).alias("red"),
    ).collect()[0]
    assert (r["e"], r["i"]) == (1, 1)
    assert r["red"] == "<EMAIL> plus <IP>"


# ---------------------------------------------------------------------------
# Cross-document paragraph dedup (functions/dedup.py:paragraph_dedup)


def test_paragraph_dedup_first_occurrence_wins(spark):
    from crawler_spark.functions.dedup import paragraph_dedup

    rows = [
        (1, "alpha beta\n\ngamma delta\n\nalpha beta"),   # self-repeat
        (2, "gamma delta\n\nepsilon zeta"),               # first para lost to doc 1
        (3, "alpha beta"),                                # whole doc lost
        (4, ""),                                          # empty doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in paragraph_dedup(df).collect()}
    # doc 1 keeps both distinct paras once (the pos-2 self-repeat is cut)
    assert (got[1]["n_paras"], got[1]["n_kept"]) == (3, 2)
    assert got[1]["dedup_text"] == "alpha beta\ngamma delta"
    # doc 2 loses 'gamma delta' to doc 1, keeps its own tail
    assert (got[2]["n_paras"], got[2]["n_kept"]) == (2, 1)
    assert got[2]["dedup_text"] == "epsilon zeta"
    # doc 3's only para lives in doc 1 -> empty survivor set, row still emitted
    assert (got[3]["n_paras"], got[3]["n_kept"], got[3]["dedup_text"]) == (1, 0, "")
    assert (got[4]["n_paras"], got[4]["n_kept"], got[4]["dedup_text"]) == (0, 0, "")


def test_paragraph_dedup_line_grain_and_order(spark):
    from crawler_spark.functions.dedup import paragraph_dedup

    rows = [
        (10, "z z\nm m\na a"),
        (11, "a a\nq q\nm m"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in paragraph_dedup(df, sep_pattern=r"\n").collect()}
    # survivors keep DOCUMENT order, not sorted order
    assert got[10]["dedup_text"] == "z z\nm m\na a"
    assert got[11]["dedup_text"] == "q q"


# ---------------------------------------------------------------------------
# URL curation filters (functions/urlfilter.py)


def test_url_junk_heuristics(spark):
    from crawler_spark.functions import urlfilter as uf

    rows = [
        (1, "http://a.example.org/ok/page?id=5"),
        (2, "http://a.example.org/p?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8&i=9"),
        (3, "http://a.example.org" + "/d" * 13),
        (4, "http://a.example.org/1234567890/9876543210"),
        (5, "http://a.example.org/p?PHPSESSID=deadbeef"),
        (6, "http://a.example.org/x" + "y" * 2100),
    ]
    df = spark.createDataFrame(rows, "k long, url string")
    got = {
        r["k"]: r["j"]
        for r in df.select("k", uf.url_junk(F.col("url")).alias("j")).collect()
    }
    assert got == {1: False, 2: True, 3: True, 4: True, 5: True, 6: True}


def test_filter_urls_blocklist_antijoin(spark):
    from crawler_spark.functions import urlfilter as uf

    df = spark.createDataFrame(
        [
            (1, "http://www.good.example.org/a?id=1"),
            (2, "http://sub.BadSite.com/a?id=2"),     # blocked (case-folded)
            (3, "http://badsite.com.evil.net/a?id=3"),  # NOT blocked: reg domain evil.net
        ],
        "k long, url string",
    )
    blk = spark.createDataFrame([("badsite.com",)], ["domain"])
    kept = {r["k"] for r in uf.filter_urls(df, blocklist=blk).collect()}
    assert kept == {1, 3}
    # no blocklist -> only the junk gate applies
    assert {r["k"] for r in uf.filter_urls(df).collect()} == {1, 2, 3}


def test_corpus_token_report(spark):
    from crawler_spark.functions.textstats import corpus_token_report

    rows = [
        ("en", "s0", "a b c"),                      # 3 tokens, <128
        ("en", "s0", " ".join(["t"] * 130)),        # 130 tokens, 128-511
        ("en", "s1", ""),                           # 0 tokens
        ("fr", "s0", " ".join(["u"] * 600)),        # 512-2047
    ]
    df = spark.createDataFrame(rows, "lang string, source string, text string")
    got = {
        (r["lang"], r["source"], r["bucket"]): r
        for r in corpus_token_report(df).collect()
    }
    r = got[("en", "s0", "<128")]
    assert r["n_docs"] == 1 and r["total_tokens"] == 3 and r["total_chars"] == 5
    assert got[("en", "s0", "128-511")]["total_tokens"] == 130
    assert got[("en", "s1", "<128")]["min_tokens"] == 0
    assert got[("fr", "s0", "512-2047")]["n_docs"] == 1
    assert r["mean_tokens"] == 3.0
