"""Text-analysis functions for large-scale training-data pipelines.

All pure JVM column expressions (whole-stage codegen, no Python) — language
ID, quality scoring, token counting, document fingerprinting over a
``documents(text STRING)`` table. Each has an exact ANSI-SQL equivalent used
as the DuckDB oracle in ``__spark_entry__.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# n-gram-free stopword-vote language ID: tiny per-language function-word
# lists; the language with the most token hits wins (deterministic
# tie-break by fixed language order).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "fr": ("le", "la", "et", "de", "un"),
    "es": ("el", "los", "y", "de", "un"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string → empty array (not [''])."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# BPE-ish pre-tokenizer: contraction suffixes, letter runs, digit runs,
# punctuation runs — the GPT-2-style split WITHOUT the trailing-space
# lookahead (kept RE2-safe so the DuckDB oracle evaluates the identical
# pattern; ASCII classes for cross-engine parity).
BPE_ISH_PATTERN = r"'[a-z]+|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_ish_tokens(text: Column) -> Column:
    """Subword-style token pieces via one JVM regexp_extract_all."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_count(text: Column) -> Column:
    return F.size(bpe_ish_tokens(text))


def _stop_hits(text: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens(text), lambda t: F.lower(t).isin(*words)))


def langid(text: Column) -> Column:
    """Stopword-vote language ID → 'en'|'fr'|'es'|'und'."""
    c_en = _stop_hits(text, LANG_STOPWORDS["en"])
    c_fr = _stop_hits(text, LANG_STOPWORDS["fr"])
    c_es = _stop_hits(text, LANG_STOPWORDS["es"])
    best = F.greatest(c_en, c_fr, c_es)
    return (
        F.when(best == 0, F.lit("und"))
        .when(c_en == best, F.lit("en"))
        .when(c_fr == best, F.lit("fr"))
        .otherwise(F.lit("es"))
    )


def stopword_ratio(text: Column) -> Column:
    n = token_count(text)
    hits = _stop_hits(
        text,
        LANG_STOPWORDS["en"] + LANG_STOPWORDS["fr"] + LANG_STOPWORDS["es"],
    )
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def avg_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
    )
    n = F.size(toks)
    return F.when(n > 0, total / n).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    n_punct = n - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.when(n > 0, n_punct.cast("double") / n).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: enough tokens, sane token length,
    some-but-not-all stopwords, low punctuation noise."""
    n = token_count(text)
    len_ok = F.when(n >= 10, F.lit(1.0)).otherwise(n.cast("double") / 10.0)
    atl = avg_token_len(text)
    tok_ok = F.when((atl >= 3.0) & (atl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    sw = stopword_ratio(text)
    sw_ok = F.when((sw > 0.0) & (sw < 0.6), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_ok = F.when(punct_ratio(text) < 0.2, F.lit(1.0)).otherwise(F.lit(0.3))
    return (len_ok + tok_ok + sw_ok + punct_ok) / 4.0


# ---------------------------------------------------------------------------
# Gopher-style repetition signals (Rae et al. 2021, arXiv 2112.11446 §A1.1)
# and C4-style line cleaning (Raffel et al. 2019, arXiv 1910.10683 §2.2) —
# the standard web-corpus quality gates a training-data pipeline runs right
# after dedup. All in-row variants are pure JVM expressions; the top-n-gram
# fraction also ships a DataFrame-level explode+groupBy path, the one that
# scales (the in-row histogram would be O(V·N) per document).


def word_ngrams(text: Column, n: int) -> Column:
    """Sliding word n-grams as space-joined strings; < n tokens → []."""
    toks = tokens(text)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.slice(toks, 1, F.size(toks) - (n - 1)),
            lambda x, i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def dup_ngram_frac(text: Column, n: int = 2) -> Column:
    """Fraction of word n-grams that repeat an earlier occurrence
    (1 - distinct/total) — the in-row member of Gopher's duplicate
    n-gram-fraction family."""
    g = word_ngrams(text, n)
    total = F.size(g)
    return F.when(
        total > 0,
        F.lit(1.0) - F.size(F.array_distinct(g)).cast("double") / total,
    ).otherwise(F.lit(0.0))


def doc_lines(text: Column) -> Column:
    """Non-empty trimmed lines."""
    return F.filter(
        F.transform(F.split(text, r"\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )


def dup_line_frac(text: Column) -> Column:
    """Gopher duplicate-line fraction: share of lines that repeat an
    earlier line verbatim."""
    l = doc_lines(text)
    n = F.size(l)
    return F.when(
        n > 0, F.lit(1.0) - F.size(F.array_distinct(l)).cast("double") / n
    ).otherwise(F.lit(0.0))


def dup_para_frac(text: Column) -> Column:
    """Gopher duplicate-paragraph fraction (paragraphs = blank-line splits)."""
    p = F.filter(
        F.transform(F.split(text, r"\n{2,}"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    n = F.size(p)
    return F.when(
        n > 0, F.lit(1.0) - F.size(F.array_distinct(p)).cast("double") / n
    ).otherwise(F.lit(0.0))


def top_ngram_stats(df, id_col: str = "doc_id", text_col: str = "text",
                    n: int = 2):
    """Gopher top-n-gram fraction, the scale path: per document, the share
    of n-grams taken by the single most frequent one. Explode → two-level
    hash aggregation — partial (map-side) combines make the shuffle carry
    (id, gram, count) partials, and no task ever holds a whole document's
    histogram; an in-row version would scan O(distinct × total) per row."""
    g = df.select(
        id_col, F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
    )
    counts = g.groupBy(id_col, "gram").agg(F.count("*").alias("c"))
    return counts.groupBy(id_col).agg(
        (F.max("c").cast("double") / F.sum("c")).alias("top_ngram_frac"),
        F.sum("c").alias("n_ngrams"),
    )


# C4 line rules (Raffel et al. §2.2): keep lines that end in terminal
# punctuation and have ≥ min_words words; drop any line with code/boiler-
# plate markers. The curly-brace rule is C4's page-level "{" drop applied
# at line grain so one code block doesn't kill an otherwise-clean page.
C4_BAD_MARKERS = ("lorem ipsum", "javascript", "{")
_TERMINAL = ('.', '!', '?', '"', "'")


def c4_keep_line(line: Column, min_words: int = 3,
                 require_terminal: bool = True) -> Column:
    t = F.trim(line)
    ok = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != "")) >= min_words
    if require_terminal:
        ok = ok & F.substring(t, -1, 1).isin(*_TERMINAL)
    low = F.lower(t)
    for marker in C4_BAD_MARKERS:
        ok = ok & ~low.contains(marker)
    return ok


def c4_clean(text: Column, min_words: int = 3,
             require_terminal: bool = True) -> Column:
    """C4 cleaning: the document with only its kept lines (joined by \\n)."""
    kept = F.filter(
        doc_lines(text),
        lambda l: c4_keep_line(l, min_words, require_terminal),
    )
    return F.array_join(kept, "\n")


def c4_kept_line_frac(text: Column, min_words: int = 3,
                      require_terminal: bool = True) -> Column:
    lines = doc_lines(text)
    n = F.size(lines)
    kept = F.size(
        F.filter(lines, lambda l: c4_keep_line(l, min_words, require_terminal))
    )
    return F.when(n > 0, kept.cast("double") / n).otherwise(F.lit(0.0))


def normalized(text: Column) -> Column:
    """Fingerprint normalization: lowercase + collapse whitespace + trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint_md5(text: Column) -> Column:
    """Content fingerprint over normalized text (md5 — portable to the
    DuckDB oracle; engine-internal paths use xxhash64 for speed)."""
    return F.md5(normalized(text).cast("binary"))


# ---------------------------------------------------------------------------
# Composite keep/drop gate (the FineWeb/Gopher-rule composition pattern:
# several cheap signals vote, the document carries WHY it was dropped).
# Everything stays one JVM projection — the reasons array is built from
# the same expressions the individual metrics already use.


def web_gate_reasons(
    text: Column,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    max_dup_bigram: float = 0.5,
    min_stopword_ratio: float = 0.01,
    min_avg_tok: float = 2.0,
    max_avg_tok: float = 15.0,
) -> Column:
    """Array of failed-rule names (empty array = keep). Rule names are
    stable identifiers — downstream reporting groups by them."""
    n = token_count(text)
    atl = avg_token_len(text)
    return F.array_compact(
        F.array(
            F.when(n < min_tokens, F.lit("too_short")),
            F.when(n > max_tokens, F.lit("too_long")),
            F.when(
                dup_ngram_frac(text, 2) > max_dup_bigram, F.lit("repetitive")
            ),
            F.when(
                stopword_ratio(text) < min_stopword_ratio,
                F.lit("no_stopwords"),
            ),
            F.when(
                (atl < min_avg_tok) | (atl > max_avg_tok),
                F.lit("weird_tokens"),
            ),
        )
    )


# token-budget buckets: fixed thresholds, pure integer comparisons (no
# log2 float boundary risk), so engine/oracle bucketing is identical
TOKEN_BUCKETS = (128, 512, 2048, 8192)


def token_bucket(text: Column) -> Column:
    """Doc-size bucket label from whitespace token count."""
    n = token_count(text)
    c = F.when(n < TOKEN_BUCKETS[0], F.lit(f"<{TOKEN_BUCKETS[0]}"))
    for lo, hi in zip(TOKEN_BUCKETS, TOKEN_BUCKETS[1:]):
        c = c.when(n < hi, F.lit(f"{lo}-{hi - 1}"))
    return c.otherwise(F.lit(f">={TOKEN_BUCKETS[-1]}"))


def corpus_token_report(
    df: DataFrame,
    text_col: str = "text",
    group_cols: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """The training-token census a corpus pipeline runs before a data mix
    is chosen (Chinchilla-style budget accounting): per
    (group_cols…, size-bucket) — document count, total/min/max whitespace
    tokens, total characters, and mean tokens per doc. One
    map-side-combined aggregation at (lang × source × bucket) grain; the
    mean is a single IEEE division of exact integer aggregates so the
    DuckDB oracle matches bit-for-bit."""
    t = F.col(text_col)
    n = token_count(t)
    return (
        df.select(
            *group_cols,
            token_bucket(t).alias("bucket"),
            n.alias("__n"),
            F.length(t).cast("long").alias("__c"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").cast("long").alias("total_tokens"),
            F.min("__n").cast("long").alias("min_tokens"),
            F.max("__n").cast("long").alias("max_tokens"),
            F.sum("__c").alias("total_chars"),
        )
        .withColumn(
            "mean_tokens",
            F.col("total_tokens").cast("double") / F.col("n_docs"),
        )
    )
