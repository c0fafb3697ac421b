"""Deduplication family for web-scale corpora (exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding near-dup).

Design for 100 TB: every variant is **blocked** — candidates are generated
inside small buckets (hash bands / blocking keys), never by a global cross
join. Exact + n-gram-Jaccard have DuckDB oracles; MinHash/SimHash use
engine-side hashing (xxhash64) and are verified by property tests plus a
rows-only driver check.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawler_spark.functions.textstats import normalized

# ---------------------------------------------------------------------------
# exact


def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical (normalized) texts: one row per duplicated
    content hash. Single hash-partitioned aggregation — the 100 TB plan is a
    two-level agg (partial map-side) that Catalyst already does."""
    return (
        df.groupBy(normalized(F.col(text_col)).alias("norm_text"))
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
        .where(F.col("n_dups") > 1)
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-id row per distinct normalized text."""
    from pyspark.sql import Window

    w = Window.partitionBy(normalized(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# character n-gram shingles + Jaccard


def char_gram_rows(
    df: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(id, gram) rows of RAW char n-gram strings (with duplicates), fully
    whole-stage-codegen: project the normalized text ONCE, explode the
    index sequence, substr per row. The array-expression twin
    (``char_ngrams``) re-evaluates the normalization regex for every gram
    inside an interpreted higher-order transform and pays an O(n²)
    interpreted ``array_distinct`` — ~10× slower per doc (measured 13.7 s
    vs <2 s for 500 docs); this is the hot-path shape, and
    ``gram_hash_rows`` is its xxhash64 projection. Consumers that need
    per-doc distinct gram sets aggregate with ``collect_set`` (dedup is
    free there), so duplicates are deliberately NOT dropped here."""
    extra = extra_cols or []
    norm = df.select(
        *extra, F.col(id_col).alias("id"), normalized(F.col(text_col)).alias("__t")
    ).where(F.length("__t") >= n)
    return norm.select(
        *extra,
        "id",
        "__t",
        F.explode(
            F.sequence(F.lit(1), F.length("__t") - (n - 1))
        ).alias("__i"),
    ).select(
        *extra, "id", F.col("__t").substr(F.col("__i"), F.lit(n)).alias("gram")
    )


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct character n-grams (shingles), JVM-side.

    Guarded for texts shorter than ``n``: Spark's ``sequence(1, 0)`` is a
    *descending* sequence ``[1, 0]``, so the empty case must be explicit.
    """
    t = normalized(text)
    idx = F.sequence(F.lit(1), F.length(t) - (n - 1))
    return F.when(
        F.length(t) >= n,
        F.array_distinct(F.transform(idx, lambda i: F.substring(t, i, F.lit(n)))),
    ).otherwise(F.array().cast("array<string>"))


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def gram_hash_rows(
    df: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(id, gram) rows: xxhash64 of each char n-gram of the normalized text
    — ``char_gram_rows`` with the hash projection (one generator, two
    projections; keeping them separate once let the guards drift)."""
    return char_gram_rows(df, n, id_col, text_col, extra_cols).withColumn(
        "gram", F.xxhash64("gram")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    block_cols: list[str],
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_shards: int | None = None,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard within blocking buckets.

    All-pairs work happens *inside a block only*: the (id, gram) rows of a
    block land in one ``applyInPandas`` group, which builds a doc×gram
    incidence matrix and gets every pairwise intersection from ONE integer
    matmul (``M @ M.T``) — O(docs²·grams) numpy ops instead of per-pair
    array_intersect calls (~20× faster at 250-doc blocks), and the shuffle
    carries only (block, id, gram) triples.

    ``gram_shards``: HOT-BLOCK path. A block too large for one task is
    decomposed EXACTLY by the identity
    ``|A∩B| = Σ_s |A_s ∩ B_s|`` over a hash partition of the gram space:
    each (block, gram_shard) group computes partial intersections, a
    hash-aggregation sums them, and Jaccard is finished with per-doc gram
    counts. Same output as the single-task path (pinned by test); per-task
    memory drops from O(docs·grams) to O(docs·grams/shards), at the cost
    of shuffling the candidate-pair partials — the standard trade when a
    blocking key runs hot.
    """
    rows = gram_hash_rows(df, n, id_col, text_col, extra_cols=block_cols)
    if gram_shards is not None:
        return _sharded_jaccard(
            df, rows, block_cols, threshold, id_col, gram_shards
        )
    # output id type follows the input id column (string doc ids would
    # otherwise hit an Arrow cast failure against a hardcoded 'long')
    id_type = df.schema[id_col].dataType.simpleString()

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids_arr = pdf["id"].to_numpy()
        grams_arr = pdf["gram"].to_numpy()
        ids, id_inv = np.unique(ids_arr, return_inverse=True)
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "jaccard_sim": []})
        _, g_inv = np.unique(grams_arr, return_inverse=True)
        M = np.zeros((len(ids), g_inv.max() + 1), dtype=np.int32)
        M[id_inv, g_inv] = 1  # dup grams collapse to 1 (distinct semantics)
        inter = M @ M.T
        sizes = M.sum(axis=1)
        union = sizes[:, None] + sizes[None, :] - inter
        iu = np.triu_indices(len(ids), k=1)
        with np.errstate(invalid="ignore", divide="ignore"):
            sim = np.where(
                union[iu] > 0, inter[iu] / union[iu], 0.0
            )
        # threshold the UNROUNDED ratio (same contract as the sharded path
        # and the DuckDB oracles); round only the emitted column — rounding
        # first would flip pairs sitting exactly on a 6-dp boundary
        keep = sim >= threshold
        a, b = ids[iu[0]][keep], ids[iu[1]][keep]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "jaccard_sim": np.round(sim[keep], 6)}
        )

    return rows.groupBy(*block_cols).applyInPandas(
        _block, f"id_a {id_type}, id_b {id_type}, jaccard_sim double"
    )


def _sharded_jaccard(
    df: DataFrame,
    rows: DataFrame,
    block_cols: list[str],
    threshold: float,
    id_col: str,
    shards: int,
) -> DataFrame:
    """Exact hot-block decomposition of blocked Jaccard (see
    ``ngram_jaccard_pairs``): per-(block, gram-shard) partial intersections
    summed by a hash aggregation, finished with per-doc gram counts.
    Requires threshold > 0 (zero-intersection pairs never materialize)."""
    if threshold <= 0:
        raise ValueError("sharded path requires threshold > 0")
    id_type = df.schema[id_col].dataType.simpleString()
    distinct = rows.dropDuplicates([*block_cols, "id", "gram"])
    sizes = distinct.groupBy("id").agg(F.count("*").alias("n_grams"))
    sharded = distinct.withColumn(
        "__shard", F.pmod(F.col("gram"), F.lit(shards)).cast("int")
    )

    def _partial(pdf: pd.DataFrame) -> pd.DataFrame:
        ids_arr = pdf["id"].to_numpy()
        grams_arr = pdf["gram"].to_numpy()
        ids, id_inv = np.unique(ids_arr, return_inverse=True)
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "inter": []})
        _, g_inv = np.unique(grams_arr, return_inverse=True)
        M = np.zeros((len(ids), g_inv.max() + 1), dtype=np.int32)
        M[id_inv, g_inv] = 1
        inter = M @ M.T
        iu = np.triu_indices(len(ids), k=1)
        keep = inter[iu] > 0
        a, b = ids[iu[0]][keep], ids[iu[1]][keep]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "inter": inter[iu][keep].astype("int64")}
        )

    partials = sharded.groupBy(*block_cols, "__shard").applyInPandas(
        _partial, f"id_a {id_type}, id_b {id_type}, inter long"
    )
    summed = partials.groupBy("id_a", "id_b").agg(
        F.sum("inter").alias("inter")
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("nb"))
    # threshold the UNROUNDED ratio (matches the unsharded path and the
    # shared DuckDB oracle); round only the emitted column
    raw = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return (
        summed.join(sa, "id_a")
        .join(sb, "id_b")
        .where(raw >= threshold)
        .select("id_a", "id_b", F.round(raw, 6).alias("jaccard_sim"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (banding) — the scale path for unknown-block near-dup


def minhash_lsh_pairs(
    df: DataFrame,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    cache_registry: list | None = None,
) -> DataFrame:
    """shingle → minhash → band → bucket-join → exact-Jaccard verify.

    rows-per-band = n_hashes/bands; two docs collide if any band matches
    exactly. Candidates from bucket equi-joins only (no cross join); each
    candidate pair is then verified with exact n-gram Jaccard so the output
    is deterministic (LSH affects recall, never precision).

    The per-doc gram/signature frame is persisted (consumed by both the
    banding and the verify join); pass ``cache_registry`` to receive it so
    the caller can unpersist after materializing the output — repeated
    invocations in one session would otherwise accumulate cached blocks.
    """
    rows_per_band = n_hashes // bands
    # One codegen'd pass builds BOTH the per-doc distinct-gram set and the
    # n_hashes minhash mins: explode (id, gram) rows, then a single wide
    # aggregation — min(xxhash64(i, gram)) per seed i — instead of
    # interpreted nested transform() expressions (~10× faster). Candidates
    # carry only ids; the verify joins the gram arrays back by id.
    rows = gram_hash_rows(df, shingle_n, id_col, text_col)
    per_doc = rows.groupBy("id").agg(
        F.collect_set("gram").alias("grams"),
        *[
            F.min(F.xxhash64(F.lit(i), F.col("gram"))).alias(f"__m{i}")
            for i in range(n_hashes)
        ],
    ).persist()
    if cache_registry is not None:
        cache_registry.append(per_doc)
    grams_df = per_doc.select("id", "grams")
    sig = per_doc.select(
        "id", F.array(*[f"__m{i}" for i in range(n_hashes)]).alias("sig")
    )
    banded = sig.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.slice(
                            F.col("sig"), b * rows_per_band + 1, rows_per_band
                        ).cast("array<string>"),
                    )
                ),
            )
        ).alias("band", "bucket"),
    )
    left = banded.select("band", "bucket", F.col("id").alias("id_a"))
    right = banded.select("band", "bucket", F.col("id").alias("id_b"))
    cand = (
        left.join(right, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact-Jaccard verify: join grams back (grams_df is small relative to
    # the candidate set; at scale both joins hash-partition on id)
    ga = grams_df.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = grams_df.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
    sim = jaccard(F.col("grams_a"), F.col("grams_b"))
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", F.round(sim, 6).alias("jaccard_sim"))
        .where(F.col("jaccard_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash


def simhash64(text: Column, shingle_n: int = 3) -> Column:
    """64-bit SimHash over character shingles, fully JVM-side.

    For each bit b: sum over shingles of (+1 if bit set else -1); bit in the
    result iff the sum is positive. Expressed as an aggregate over the
    shingle array with a 64-slot counter vector."""
    grams = char_ngrams(text, shingle_n)
    # counts[b] = sum over grams of ((hash >> b) & 1) ; n = size(grams)
    # (shift amounts must be Python ints for shiftleft/shiftright)
    counts = F.aggregate(
        grams,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, g: F.zip_with(
            acc,
            F.array(
                *[
                    F.shiftright(F.xxhash64(g), b).bitwiseAND(F.lit(1))
                    for b in range(64)
                ]
            ),
            lambda a, x: a + x,
        ),
    )
    n = F.size(grams)
    bits = F.array(
        *[
            F.when(
                F.element_at(counts, b + 1) * 2 > n,
                F.shiftleft(F.lit(1).cast("long"), b),
            ).otherwise(F.lit(0).cast("long"))
            for b in range(64)
        ]
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseXOR(x))


def simhash64_from_hashes_udf():
    """SimHash from pre-hashed shingles (array<long>) — Arrow-vectorized
    numpy bit-count per batch. The shingle hashing stays JVM-side
    (xxhash64); only the 64-bit majority vote runs in Python, O(64·|grams|)
    numpy ops per doc. ~50× faster than the pure-expression ``simhash64``
    (which survives as the SQL-only reference implementation)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _simhash(harrs: pd.Series) -> pd.Series:
        out = np.zeros(len(harrs), dtype=np.int64)
        shifts = np.arange(64, dtype=np.uint64)
        weights = np.uint64(1) << shifts
        for i, arr in enumerate(harrs):
            if arr is None or len(arr) == 0:
                continue
            h = np.asarray(arr, dtype=np.int64).view(np.uint64)
            bits = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            sh = weights[bits * 2 > len(h)].sum(dtype=np.uint64)
            out[i] = np.array([sh], dtype=np.uint64).view(np.int64)[0]
        return pd.Series(out)

    return _simhash


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003): hash every positional k-gram, keep the minimum of each
    length-``w`` sliding window, dedupe the selections. Guarantees any
    match of length ≥ k+w-1 shares a fingerprint — the rolling-hash
    fingerprint family, vs the whole-document md5 in ``fingerprint_md5``.

    Hashes are md5 hex strings: fixed-length lowercase hex makes
    lexicographic MIN ≡ numeric min, so both engines (and the DuckDB
    oracle) replay the selection identically. Pure JVM expressions.
    Returns (id, fp) rows.
    """
    t = normalized(F.col(text_col))
    hashes = F.when(
        F.length(t) >= k,
        F.transform(
            F.sequence(F.lit(1), F.length(t) - (k - 1)),
            lambda i: F.md5(F.substring(t, i, F.lit(k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = df.select(F.col(id_col).alias("id"), hashes.alias("hs"))
    m = F.size("hs")
    sel = (
        F.when(m == 0, F.array().cast("array<string>"))
        .when(m < w, F.array(F.array_min("hs")))
        .otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), m - (w - 1)),
                    lambda j: F.array_min(F.slice("hs", j, F.lit(w))),
                )
            )
        )
    )
    return base.select("id", F.explode(sel).alias("fp"))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Training-data decontamination: flag corpus documents sharing ≥
    ``min_overlap`` distinct character ``n``-grams with any benchmark doc.

    The benchmark side is small by construction (eval sets), so its gram
    set BROADCASTS and the probe is a map-side hash join against the
    corpus's exploded grams — no shuffle of the big side beyond the
    per-doc count aggregation. Returns (id, bench_id, n_shared) pairs.
    """
    cg = gram_hash_rows(corpus, n, id_col, text_col).dropDuplicates(
        ["id", "gram"]
    )
    bg = (
        gram_hash_rows(benchmark, n, bench_id_col, bench_text_col)
        .dropDuplicates(["id", "gram"])
        .select(F.col("id").alias("bench_id"), "gram")
    )
    hits = cg.join(F.broadcast(bg), "gram")
    return (
        hits.groupBy("id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_overlap)
    )


def simhash_md5_bits_udf():
    """SimHash majority vote over md5 gram digests → 64-char '0'/'1' string.

    The md5 variant exists for cross-engine verifiability: md5 is identical
    in Spark SQL and DuckDB, so the full simhash pipeline gets an exact
    oracle (the xxhash64+numpy path stays the production default — same
    banding, ~same speed, engine-only hash). Bit order: hex chars of
    md5[:16] in order, 4 bits per char MSB-first — exactly
    ``np.unpackbits(digest[:8])``.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _bits(grams: pd.Series) -> pd.Series:
        import hashlib

        out = []
        for arr in grams:
            if arr is None or len(arr) == 0:
                out.append("0" * 64)
                continue
            mat = np.vstack(
                [
                    np.unpackbits(
                        np.frombuffer(
                            hashlib.md5(g.encode("utf-8")).digest()[:8],
                            dtype=np.uint8,
                        )
                    )
                    for g in arr
                ]
            )
            counts = mat.sum(axis=0)
            bits = (counts * 2 > len(arr)).astype(np.uint8)
            out.append("".join("1" if b else "0" for b in bits))
        return pd.Series(out)

    return _bits


def _band_bounds(n_bits: int, n_bands: int) -> list[tuple[int, int]]:
    """Contiguous (start_1based, length) chunks covering all bits — the
    pigeonhole split: hamming ≤ n_bands-1 ⇒ at least one identical band."""
    base, rem = divmod(n_bits, n_bands)
    bounds, start = [], 1
    for i in range(n_bands):
        ln = base + (1 if i < rem else 0)
        bounds.append((start, ln))
        start += ln
    return bounds


def simhash_near_pairs_md5(
    df: DataFrame,
    max_hamming: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with EXHAUSTIVE banding recall.

    ``max_hamming + 1`` contiguous bands: any pair within the hamming radius
    shares ≥1 identical band (pigeonhole), so — unlike the probabilistic
    16-bit-chunk variant — the banded candidate set provably contains every
    qualifying pair, and the output equals the all-pairs result. That makes
    it oracle-checkable: DuckDB recomputes the same md5-bit simhash and the
    same hamming filter over all pairs. Candidate generation is still
    band-bucketed (no cross join) — the 100 TB shape.
    """
    n_bands = max_hamming + 1
    bits = simhash_md5_bits_udf()
    # codegen (id, gram) rows + collect_set (the majority vote is over the
    # DISTINCT gram set, order-free) — avoids the interpreted array path
    sh = (
        char_gram_rows(df, shingle_n, id_col, text_col)
        .groupBy("id")
        .agg(F.collect_set("gram").alias("grams"))
        .select("id", bits(F.col("grams")).alias("sh"))
    )
    bounds = _band_bounds(64, n_bands)
    chunks = sh.select(
        "id",
        "sh",
        F.posexplode(
            F.array(*[F.substring("sh", s, ln) for s, ln in bounds])
        ).alias("band", "chunk"),
    )
    l = chunks.select(
        "band", "chunk", F.col("id").alias("id_a"), F.col("sh").alias("sh_a")
    )
    r = chunks.select(
        "band", "chunk", F.col("id").alias("id_b"), F.col("sh").alias("sh_b")
    )
    cand = (
        l.join(r, ["band", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.expr(
        "size(filter(sequence(1, 64),"
        " j -> substring(sh_a, j, 1) <> substring(sh_b, j, 1)))"
    ).cast("long")
    return cand.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def minhash_lsh_pairs_md5(
    df: DataFrame,
    n_hashes: int = 32,
    bands: int = 4,
    shingle_n: int = 4,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    cache_registry: list | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup with md5 hashing — the oracle-checkable variant.

    Same shingle→minhash→band→bucket-join→exact-verify shape as
    ``minhash_lsh_pairs`` (the xxhash64 production path), but every hash is
    md5 over a string both engines compute identically:

    * minhash_i = lexicographic MIN over grams of ``md5(i || ':' || gram)``
      (fixed-length lowercase hex ⇒ lexicographic order ≡ numeric order of
      the 128-bit value — no hex→int conversion anywhere);
    * band bucket = ``md5(concat_ws(',', band's minhashes))``.

    DuckDB replays the whole pipeline including LSH candidate generation, so
    the driver's value-hash checks candidates AND verification — recall is
    part of the checked surface, not assumed.
    """
    rows_per_band = n_hashes // bands
    # codegen (id, gram) rows — duplicates fine: min() and collect_set()
    # both dedup for free inside the one wide aggregation below
    rows = char_gram_rows(df, shingle_n, id_col, text_col)
    # one wide codegen'd aggregation: gram set + all n_hashes string-mins
    per_doc = rows.groupBy("id").agg(
        F.collect_set("gram").alias("grams"),
        *[
            F.min(
                F.md5(F.concat(F.lit(f"{i}:"), F.col("gram")))
            ).alias(f"__m{i}")
            for i in range(n_hashes)
        ],
    ).persist()
    if cache_registry is not None:
        cache_registry.append(per_doc)
    grams_df = per_doc.select("id", "grams")
    sig = per_doc.select(
        "id", F.array(*[f"__m{i}" for i in range(n_hashes)]).alias("sig")
    )
    banded = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.slice(
                                F.col("sig"), b * rows_per_band + 1, rows_per_band
                            ),
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    left = banded.select("band", "bucket", F.col("id").alias("id_a"))
    right = banded.select("band", "bucket", F.col("id").alias("id_b"))
    cand = (
        left.join(right, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    ga = grams_df.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = grams_df.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
    sim = jaccard(F.col("grams_a"), F.col("grams_b"))
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", F.round(sim, 6).alias("jaccard_sim"))
        .where(F.col("jaccard_sim") >= threshold)
    )


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup candidates by SimHash banding (4×16-bit chunks: any equal
    chunk → candidate; Hamming ≤ max verified exactly)."""
    simhash = simhash64_from_hashes_udf()
    gh = (
        gram_hash_rows(df, shingle_n, id_col, text_col)
        .groupBy("id")
        .agg(F.collect_set("gram").alias("gh"))
    )
    sh = gh.select("id", simhash(F.col("gh")).alias("sh"))
    chunks = sh.select(
        "id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sh"), c * 16).bitwiseAND(F.lit(0xFFFF))
                    for c in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    l = chunks.select("chunk_idx", "chunk", F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    r = chunks.select("chunk_idx", "chunk", F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    cand = (
        l.join(r, ["chunk_idx", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select(
        "id_a", "id_b", hamming.alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# near-dup CLUSTER formation: pairs → connected components → keep-one
#
# LSH/Jaccard stages emit PAIRS; a dedup pipeline needs CLUSTERS (drop all
# but one representative per component). Pair-chasing transitivity on the
# driver is the classic scale trap — at 10^10 docs the pair set alone can
# be TBs — so components are computed distributed.


# Below this many distinct edges the component graph fits trivially in the
# driver, and a collected union-find beats the iterative star loop by an
# order of magnitude: each distributed iteration costs 2+ jobs (checkpoint
# + signature) regardless of data size, so a 6-iteration convergence on a
# few thousand pairs pays ~12 scheduler round-trips to do microseconds of
# work. The gate budgets PYTHON-side cost, not raw bytes: 200k edges can
# touch 400k nodes → a ~400k-entry dict + row list (tens of MB of CPython
# objects) and one createDataFrame pickle pass — still milliseconds-cheap,
# while 1M+ edges would put hundreds of MB of boxed ints on the driver for
# a job the star loop runs comfortably. Same shape as the politeness
# broadcast gate: small input → driver shortcut, big input → the scale
# path, chosen at runtime by a bounded count.
CC_DRIVER_MAX_EDGES = 200_000


def _driver_components(spark, e: DataFrame) -> DataFrame:
    """Small-graph fast path for :func:`connected_components`: ``e`` is the
    already-distinct (u, v) edge set, probed ≤ the gate by the caller.
    Union-find with full path compression; component label = smallest
    member id, matching the star loop's contract exactly. O(E α(E)) driver
    time on a single bounded collect (one job — toLocalIterator would run
    one sequential job per shuffle partition for a frame this small)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in e.collect():
        u, v = row[0], row[1]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min id directly: the root IS the component label,
            # so no second pass to relabel
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    rows = [(node, find(node)) for node in parent]
    # nullable=True matches the distributed path's schema exactly (its
    # union/join output is nullable), keeping the gate invisible to
    # callers. BOTH output columns draw values from BOTH input columns
    # (every node appears as id; any node can be a component root), so the
    # field type is the u∪v common type — exactly what the star loop's
    # members.union(roots) would widen to (e.g. int edges joined to bigint
    # edges must not emit an int 'id' field holding bigint-origin nodes).
    common = (
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .schema[0]
        .dataType
    )
    out_schema = T.StructType(
        [
            T.StructField("id", common, True),
            T.StructField("component", common, True),
        ]
    )
    df = spark.createDataFrame(rows, schema=out_schema)
    # a collected graph is tiny; don't let createDataFrame fan it out to
    # defaultParallelism near-empty partitions that every downstream join
    # inherits
    return df.coalesce(max(1, -(-len(rows) // 1_000_000)))


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    driver_max_edges: int = CC_DRIVER_MAX_EDGES,
) -> DataFrame:
    """(id, component) for every node in ``edges``; ``component`` is the
    smallest reachable node id.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): O(log² n) rounds
    worst-case, each round two key-hash aggregations over (node, node)
    pairs. No adjacency list is ever collected to one task, so a viral
    near-dup cluster (hub node) widens a groupBy instead of OOMing an
    executor — unlike label propagation, which needs O(graph diameter)
    rounds and dies on chain-shaped clusters.

    Edge sets at or under ``driver_max_edges`` (counted first — one
    bounded action) instead collect to a driver union-find: the iterative
    loop's per-round scheduler overhead dwarfs the work at that size. Both
    paths produce the identical (id, component=min id) contract; tests pin
    them against each other.

    Each distributed iteration's edge set is ``localCheckpoint``-ed to
    truncate the otherwise exponentially deepening lineage (iterative
    plans are where Catalyst's re-analysis cost explodes), and convergence
    is an exact set-equality check (both sides are distinct, so equal
    counts plus an empty exceptAll means equal sets).
    """

    def _large_star(e: DataFrame) -> DataFrame:
        nbrs = e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        # every strictly-larger neighbor re-attaches to the neighborhood
        # min. NO distinct here: duplicate edges don't change small-star's
        # groupBy/min and its distinct canonicalizes the iteration output —
        # one less shuffle per round
        return (
            nbrs.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        o = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = o.groupBy("u").agg(F.min("v").alias("m"))
        # all smaller neighbors AND the center re-attach to the min
        return (
            o.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _sig(e: DataFrame) -> tuple[int, int]:
        # one action per iteration: (count, order-insensitive checksum).
        # A stable signature is confirmed exactly (exceptAll) ONCE below —
        # the probabilistic check only decides when to pay for the exact one
        # bit_xor: order-insensitive and overflow-free (a SUM of hashes
        # trips ANSI long-overflow); sets are distinct, so no XOR self-cancel
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).first()
        return int(row["n"]), int(row["h"])

    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # bounded gate probe: limit(max+1).count() early-terminates once the
    # limit is hit, instead of a full count the scale path would then
    # recompute inside _sig anyway
    probe = e.limit(driver_max_edges + 1).count()
    if probe <= driver_max_edges:
        return _driver_components(edges.sparkSession, e)
    sig_prev = _sig(e)
    for _ in range(max_iter):
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=True)
        sig = _sig(e2)
        if sig == sig_prev and e2.exceptAll(e).isEmpty():
            e = e2
            break
        e, sig_prev = e2, sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # converged stars: every edge is (member, root) with member > root
    members = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = (
        e.select(F.col("v").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    return members.union(roots).distinct()


def near_dup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Assign every row of ``df`` a ``cluster_id`` (smallest doc id in its
    near-dup component; itself when unpaired) and a ``keep`` flag (true for
    the one representative per cluster). ``where(keep)`` IS the dedup.

    The component map is only as large as the paired-doc set — the left
    join back to the corpus streams the (usually dominant) unpaired rows
    straight through."""
    comp = connected_components(pairs, src=src, dst=dst, max_iter=max_iter)
    comp = comp.select(
        F.col("id").alias(id_col), F.col("component").alias("cluster_id")
    )
    out = df.join(comp, id_col, "left")
    cluster = F.coalesce(F.col("cluster_id"), F.col(id_col))
    return out.withColumn("cluster_id", cluster).withColumn(
        "keep", F.col("cluster_id") == F.col(id_col)
    )


def cluster_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Quality-aware near-dup dedup: like :func:`near_dup_clusters`, but
    the kept representative per cluster is the HIGHEST-``quality_col`` doc
    (smallest id on ties — deterministic), not the smallest id. Keeping an
    arbitrary copy throws away exactly the signal a curation pipeline
    computed; boilerplate-heavy or truncated near-dups should lose to
    their clean sibling.

    Shape at scale: the ranking window runs ONLY over the paired-doc
    subset (one shuffle of the docs that have a near-dup, keyed by
    cluster); the usually-dominant unpaired rows stream through a single
    anti-join with ``keep = true`` and never shuffle on cluster_id.
    """
    comp = connected_components(pairs, src=src, dst=dst, max_iter=max_iter)
    comp = comp.select(
        F.col("id").alias(id_col), F.col("component").alias("cluster_id")
    )
    paired = df.join(comp, id_col, "inner")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    best = paired.withColumn("keep", F.row_number().over(w) == 1)
    unpaired = (
        df.join(comp.select(id_col), id_col, "left_anti")
        .withColumn("cluster_id", F.col(id_col))
        .withColumn("keep", F.lit(True))
    )
    cols = [*df.columns, "cluster_id", "keep"]
    return best.select(*cols).unionByName(unpaired.select(*cols))


# ---------------------------------------------------------------------------
# exact-substring repeat detection (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better"): cross-document repeats of
# length >= L verbatim. A distributed suffix array is overkill for the
# detection half of the method — every length-L repeat contains at least
# one aligned length-L window shared verbatim, so hashing EVERY length-L
# window (stride 1) and grouping finds exactly the documents that share a
# >= L-char run, with no false negatives and no candidate pairs at all.


def substring_repeats(
    df: DataFrame,
    min_len: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint: str = "md5",
) -> DataFrame:
    """(fp, n_docs, keep_id) — one row per length-``min_len`` normalized
    window that occurs in MORE THAN ONE document; ``keep_id`` is the
    smallest holder (the doc a cut pass would keep the run in).

    Scale shape: the window generator is whole-stage codegen
    (``char_gram_rows``: one normalize, explode + substr), the per-doc
    window dedup rides the first aggregation's map side (collect_set is
    unnecessary — grouping by (gram, id) first), and the cross-doc group
    is a hash aggregation keyed by the 16-byte fingerprint — shuffle rows
    carry (fp, id) only, never window text. No pair join exists: a
    window shared by k docs costs k shuffle rows, not k² candidates."""
    wins = char_gram_rows(df, min_len, id_col, text_col)
    per_doc = wins.select(
        F.md5("gram").alias("fp"), "id"
    ).dropDuplicates(["fp", "id"])
    return (
        per_doc.groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("id").alias("keep_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_pattern: str = r"\n{2,}",
) -> DataFrame:
    """Cross-document paragraph-level exact dedup: a paragraph survives
    ONLY at its globally first occurrence — lowest ``(id, pos)`` — and every
    later copy (later docs, and repeats further down the same doc) is cut.
    Returns ``(id, n_paras, n_kept, dedup_text)`` with the survivors
    rejoined in document order; a document whose every paragraph lost gets
    ``n_kept = 0`` and an empty ``dedup_text``.

    Paragraph grain is ``sep_pattern`` (blank-line runs by default; pass
    ``r"\\n"`` for line grain). Scale shape: paragraphs explode once
    (posexplode over a codegen split+trim+filter), the global winner per
    paragraph is ONE hash aggregation keyed by ``xxhash64(paragraph)`` —
    shuffle rows carry ``(hash, id, pos)``, the text crosses the wire only
    inside the explode output it already lives in — and survivors come back
    via an equi-join on the 8-byte hash. No pair join, no window over the
    corpus: a paragraph shared by k docs costs k shuffle rows. (xxhash64
    collisions would merge two distinct paragraphs; at 2^64 that is the
    same accepted risk as the engine's fingerprint paths.)
    """
    paras_arr = F.filter(
        F.transform(F.split(F.col(text_col), sep_pattern), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(paras_arr).cast("long").alias("n_paras"),
        paras_arr.alias("_paras"),
    )
    paras = base.select(
        "id", F.posexplode("_paras").alias("pos", "para")
    ).withColumn("h", F.xxhash64("para"))
    winners = paras.groupBy("h").agg(
        F.min(F.struct("id", "pos")).alias("w")
    )
    kept = (
        paras.join(winners, "h")
        .where((F.col("id") == F.col("w.id")) & (F.col("pos") == F.col("w.pos")))
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda x: x["para"],
                ),
                "\n",
            ).alias("dedup_text"),
        )
    )
    return (
        base.drop("_paras")
        .join(kept, "id", "left")
        .select(
            "id",
            "n_paras",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
        )
    )
