"""Text analysis operators: quality scoring, lang-ID, tokens, fingerprints.

Pure Catalyst expressions (whole-stage codegen; zero Python) except the
winnowing kernel, which is one Arrow-batched numpy pass (see
winnow_fingerprints for why Catalyst is quadratic there); everything is
portable to the DuckDB oracle. The quality-score recipe follows the
standard web-corpus filters (length / punctuation / stopword ratios).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STOPWORDS = ["the", "a", "of", "and", "to", "in"]

# BPE-ish token regex: runs of word chars, or single non-space symbols
TOKEN_RE = r"[a-zA-Z0-9_]+|[^a-zA-Z0-9_\s]"


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """→ per-doc stats + a composite quality score."""
    t = F.col(text_col)
    words = F.split(F.trim(t), r"\s+")
    n_words = F.size(words)
    n_chars = F.length(t)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    avg_word_len = (F.length(F.regexp_replace(t, r"\s+", "")) / n_words)

    stop_ratio = n_stop / n_words
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    quality = (
        F.when(n_words < 5, 0.0)
        .when(avg_word_len > 12, 0.2)
        .otherwise(
            F.round(
                1.0
                - F.least(punct_ratio * 2.0, F.lit(0.5))
                - F.least(F.abs(stop_ratio - 0.12) * 1.5, F.lit(0.5)),
                4,
            )
        )
    )
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_chars.cast("long").alias("n_chars"),
        F.round(avg_word_len, 4).alias("avg_word_len"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        quality.alias("quality"),
    )


def lang_id(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic script-based language ID: Han-char ratio → zh/other.

    (An n-gram classifier reduces to the same shape: per-char/ngram
    class counts → ratio features → threshold.)
    """
    t = F.col(text_col)
    n = F.length(t)
    han = n - F.length(F.regexp_replace(t, r"\p{IsHan}", ""))
    ratio = han / F.greatest(n, F.lit(1))
    return pages.select(
        "url",
        F.round(ratio, 4).alias("han_ratio"),
        F.when(ratio > 0.5, "zh").otherwise("other").alias("pred_lang"),
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish regex token count + whitespace token count per doc."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(t), r"\s+")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(TOKEN_RE), 0)).cast("long").alias("re_tokens"),
    )


WINNOW_K = 5  # char k-gram width for the rolling hash
WINNOW_W = 4  # winnowing window (hashes per selection window)
_ROLL_BASE = 31
_ROLL_MOD = 1_000_003  # prime; k·base^(k−1)·max_code ≪ 2^63, no overflow pre-mod


def winnow_fingerprints(
    docs: DataFrame, text_col: str = "text", k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """MOSS-style winnowing fingerprints over a char-k-gram ROLLING hash
    → (doc_id, fingerprint) rows, one per selected hash.

    Per document: hash every char k-gram with the polynomial rolling
    hash ``Σ code(c_j)·B^(k−1−j) mod M``, slide a window of ``w``
    consecutive hashes, select each window's minimum, and emit the
    distinct selections — the guarantee (winnowing paper, Schleimer et
    al. 2003) is that any match of length ≥ k+w−1 shares a fingerprint.
    The kernel is one Arrow-batched numpy pass (convolve for the
    polynomial hash, sliding_window_view for the window minima) — a
    narrow map, no shuffle until the caller aggregates.  A pure
    Catalyst formulation exists but is quadratic in practice: an array
    expression referenced inside a higher-order-function lambda
    (slice/element_at over the hash array per window) is re-evaluated
    PER ELEMENT after projection collapse — measured ~1 s/doc, the same
    interpreted-HOF wall similarity.lsh_band_keys documents; the
    vectorized UDF does the whole sf0.01 table in well under a second.
    Documents shorter than k + w − 1 chars (no full window) emit no
    rows — the same threshold the SQL oracle applies.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    powers = np.array(
        [(_ROLL_BASE ** (k - 1 - j)) for j in range(k)], dtype=np.int64
    )

    @pandas_udf("array<int>")
    def winnow(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            # strip SPACES only — the oracle's SQL trim() strips ' '
            # alone, and Python str.strip() (all whitespace) would be
            # the exact divergence class the round-2 ADVICE flagged
            t = (text or "").strip(" ").lower()
            if len(t) < k + w - 1:
                out.append([])
                continue
            codes = np.fromiter(map(ord, t), dtype=np.int64, count=len(t))
            # polynomial k-gram hash = correlation with the power vector
            hashes = np.convolve(codes, powers[::-1], mode="valid") % _ROLL_MOD
            wins = np.lib.stride_tricks.sliding_window_view(hashes, w)
            out.append(np.unique(wins.min(axis=1)).astype(np.int32).tolist())
        return pd.Series(out)

    return (
        docs.select("doc_id", winnow(F.col(text_col)).alias("fps"))
        .filter(F.size("fps") > 0)
        .select("doc_id", F.explode("fps").alias("fingerprint"))
    )


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over sorted distinct words (bag-of-words
    fingerprint — robust to word order, portable to the oracle)."""
    words = F.array_sort(
        F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    )
    return docs.select(
        "doc_id",
        F.md5(F.array_join(words, " ")).alias("fingerprint"),
    )


# Gopher repetition-signal n-gram ranges (Rae et al. 2021, table A1):
# "top" = chars of the single most frequent n-gram; "dup" = chars of
# every n-gram occurring more than once
TOP_NGRAMS = (2, 3, 4)
DUP_NGRAMS = (5, 6, 7, 8, 9, 10)


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals → one row per doc:

    - ``dup_line_frac`` / ``dup_line_char_frac``: fraction of lines
      (resp. line characters) belonging to a line that occurs more than
      once in the doc (raw ``\\n`` segments, empties dropped).
    - ``top_{2,3,4}gram_frac``: chars of the most frequent word n-gram
      (occurrences × n-gram length, ties broken to the lexicographically
      smallest gram) over total normalized chars.
    - ``dup_{5..10}gram_frac``: chars of all word n-grams occurring ≥2
      times (Σ count × length) over total normalized chars.

    The standard repetitious-text filter of web-corpus pipelines
    (Gopher A1 / The Pile / Dolma); char counts follow the common
    count×length convention — overlapping occurrences are not
    interval-merged, so a pathological doc can exceed 1.0, exactly as
    the reference implementations do.

    One Arrow-batched pandas pass per doc computes all eleven signals —
    a narrow map, zero shuffle at any corpus size (the per-(doc, gram)
    groupBy alternative is 9 shuffles of the full gram stream).  Word
    normalization mirrors the dedup shingle convention
    (lower + trim + collapse runs of ``[\\t\\n\\f\\r ]`` — the RE2
    ``\\s`` class, so the DuckDB oracle's ``\\s+`` agrees byte-for-byte
    on ASCII text).  Docs with empty normalized text emit all-zero
    fractions.
    """
    import re
    from collections import Counter

    from pyspark.sql.functions import pandas_udf

    ws = re.compile(r"[\t\n\f\r ]+")
    n_cols = (
        ["dup_line_frac", "dup_line_char_frac"]
        + [f"top_{n}gram_frac" for n in TOP_NGRAMS]
        + [f"dup_{n}gram_frac" for n in DUP_NGRAMS]
    )

    @pandas_udf("array<double>")
    def rep(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            text = text or ""
            vals = []
            # line signals over raw newline segments
            lines = [l for l in text.split("\n") if l != ""]
            lc = Counter(lines)
            n_lines = len(lines)
            n_lchars = sum(len(l) for l in lines)
            dup_n = sum(c for c in lc.values() if c >= 2)
            dup_ch = sum(len(l) * c for l, c in lc.items() if c >= 2)
            vals.append(dup_n / n_lines if n_lines else 0.0)
            vals.append(dup_ch / n_lchars if n_lchars else 0.0)
            # n-gram signals over normalized words
            norm = ws.sub(" ", text.strip(" ").lower())
            words = norm.split(" ") if norm else []
            tc = len(norm)
            for n in TOP_NGRAMS:
                if tc == 0 or len(words) < n:
                    vals.append(0.0)
                    continue
                grams = Counter(
                    " ".join(words[i : i + n])
                    for i in range(len(words) - n + 1)
                )
                # max count, ties to the smallest gram string
                top_g, top_c = min(
                    grams.items(), key=lambda kv: (-kv[1], kv[0])
                )
                vals.append(top_c * len(top_g) / tc)
            for n in DUP_NGRAMS:
                if tc == 0 or len(words) < n:
                    vals.append(0.0)
                    continue
                grams = Counter(
                    " ".join(words[i : i + n])
                    for i in range(len(words) - n + 1)
                )
                vals.append(
                    sum(len(g) * c for g, c in grams.items() if c >= 2) / tc
                )
            out.append(vals)
        return pd.Series(out)

    stats = docs.select("doc_id", rep(F.col(text_col)).alias("v"))
    return stats.select(
        "doc_id",
        *[
            F.round(F.element_at("v", i + 1), 6).alias(c)
            for i, c in enumerate(n_cols)
        ],
    )


# ---------------------------------------------------------------------------
# C4-style line-level page cleaning (Raffel et al. 2020 §2.2, the
# public "C4" heuristics): keep lines that end in terminal punctuation,
# have >= 3 words, and don't mention javascript; drop whole pages
# containing "lorem ipsum" or "{", or with too few sentences after
# line filtering.  (C4's bad-word list is omitted — no list ships
# here; the hook is the same kept-line filter.)  Pure Catalyst array
# lambdas over the line split — narrow, zero shuffle, whole-stage
# codegen; linear at any corpus size.

C4_MIN_WORDS_PER_LINE = 3
C4_MIN_SENTENCES = 5
_C4_LINE_END = '[.!?"]$'


def c4_line_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """→ (doc_id, n_lines, n_kept, n_sentences, keep, drop_reason,
    cleaned): line-filtered page text + the page-level C4 verdict.
    ``cleaned`` joins the KEPT whitespace-normalized lines with \\n;
    ``drop_reason`` ranks lorem_ipsum ≻ curly_brace ≻
    too_few_sentences (null when kept)."""
    raw = F.col(text_col)
    norm_lines = F.transform(
        F.split(raw, "\n"),
        lambda l: F.regexp_replace(F.trim(l), r"\s+", " "),
    )
    kept = F.filter(
        norm_lines,
        lambda l: l.rlike(_C4_LINE_END)
        & (F.size(F.split(l, " ")) >= C4_MIN_WORDS_PER_LINE)
        & ~F.lower(l).contains("javascript"),
    )
    cleaned = F.array_join(kept, "\n")
    n_sent = F.regexp_count(cleaned, F.lit(r"[.!?]"))
    lorem = F.lower(raw).contains("lorem ipsum")
    brace = raw.contains("{")
    reason = (
        F.when(lorem, F.lit("lorem_ipsum"))
        .when(brace, F.lit("curly_brace"))
        .when(n_sent < C4_MIN_SENTENCES, F.lit("too_few_sentences"))
    )
    return docs.select(
        "doc_id",
        F.size(norm_lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        n_sent.cast("long").alias("n_sentences"),
        reason.isNull().alias("keep"),
        reason.alias("drop_reason"),
        cleaned.alias("cleaned"),
    )


# ---------------------------------------------------------------------------
# PII detection + redaction (the C4/Dolma pipeline stage): regex
# counts on the raw text and a sequentially-redacted copy.  Patterns
# stay in the RE2 ∩ java.util.regex common dialect (no lookaround) so
# the DuckDB oracle runs the byte-identical expressions.

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"


def pii_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """→ (doc_id, n_emails, n_ips, n_phones, redacted): match counts on
    the ORIGINAL text; ``redacted`` replaces in the fixed order email →
    ip → phone with <EMAIL>/<IP>/<PHONE> (order matters — an email's
    host part can also match the ip pattern; counting on the original
    keeps the two signals independent of it).  Narrow Catalyst
    regexps, zero shuffle."""
    raw = F.col(text_col)
    red = F.regexp_replace(raw, PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, PII_IP, "<IP>")
    red = F.regexp_replace(red, PII_PHONE, "<PHONE>")
    return docs.select(
        "doc_id",
        F.regexp_count(raw, F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(raw, F.lit(PII_IP)).cast("long").alias("n_ips"),
        F.regexp_count(raw, F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        red.alias("redacted"),
    )


WINNOW_MIN_SHARED = 5  # pair report threshold: shared fingerprints
# a fingerprint present in more docs than this is common-vocabulary /
# template noise, not evidence of copying — MOSS's frequent-substring
# drop.  Far stricter than the LSH MAX_BUCKET pair-explosion guard: at
# the default 1000 the dense shared-vocabulary fingerprints of any
# same-domain corpus connect nearly ALL pairs (measured: 150k of 151k
# possible pairs at sf0.001) and the report is meaningless.
WINNOW_PAIR_CAP = 25


def winnow_overlap_pairs(
    docs: DataFrame,
    min_shared: int = WINNOW_MIN_SHARED,
    max_bucket: int = WINNOW_PAIR_CAP,
) -> DataFrame:
    """→ (doc_a, doc_b, shared_fps): document pairs sharing at least
    ``min_shared`` winnowed fingerprints — the MOSS report step
    (Schleimer et al. 2003 §4): any pair with a common substring of
    length ≥ k+w−1 shares a fingerprint, so heavy-overlap pairs
    surface with counts, ordered (doc_a < doc_b).

    Scale shape: the fingerprint table self-joins on the uniform
    fingerprint key — the LSH-candidate shape, with the same two
    guards: the table is materialized once (both join sides read it),
    and buckets over ``max_bucket`` members are dropped first
    (dedup._cap_buckets — a fingerprint shared by many docs is
    common vocabulary, not plagiarism, and would otherwise cost a
    quadratic pair set).  One groupBy(doc_a, doc_b) folds the shared
    count."""
    from ..materialize import materialize
    from .dedup import _cap_buckets

    fp = materialize(
        _cap_buckets(winnow_fingerprints(docs), ["fingerprint"], max_bucket)
    )
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Corpus statistics: tf-idf keywords and PMI collocations — the two
# classic corpus-analysis reports (keyword extraction for doc
# summaries/routing; collocation mining for phrase vocabularies).
# Both are compositions of the word/bigram count tables the engine
# already computes elsewhere: uniform-key groupBys, a broadcast of the
# bounded doc-frequency/total scalars, and a per-doc (bounded) or
# global top-k (TakeOrdered) — no corpus-wide sort anywhere.

TFIDF_TOP_K = 3
PMI_MIN_COUNT = 5
PMI_TOP_K = 50


def tfidf_keywords(docs: DataFrame, top_k: int = TFIDF_TOP_K) -> DataFrame:
    """→ (doc_id, word, tf, score, rk): the ``top_k`` tf·idf keywords
    per doc, idf = ln(N/df) over distinct-doc frequency.  idf is
    quantized to 9 dp before the tf product (the dsir convention) and
    the score to 6 dp; ties break (score desc, word asc).  The ranking
    window partitions by doc — bounded by doc vocabulary, skewless."""
    from pyspark.sql import Window

    from .dedup import normalized_words

    w = docs.select(
        "doc_id", F.explode(normalized_words()).alias("word")
    ).filter(F.length("word") > 0)
    tf = w.groupBy("doc_id", "word").agg(F.count("*").cast("long").alias("tf"))
    df = tf.groupBy("word").agg(F.count("*").cast("long").alias("df"))
    n = docs.agg(F.countDistinct("doc_id").cast("double").alias("n"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            F.round(
                F.col("tf") * F.round(F.log(F.col("n") / F.col("df")), 9), 6
            ).alias("score"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("word")
    )
    return (
        scored.withColumn("rk", F.row_number().over(win).cast("long"))
        .filter(F.col("rk") <= top_k)
    )


def pmi_bigrams(
    docs: DataFrame,
    min_count: int = PMI_MIN_COUNT,
    top_k: int = PMI_TOP_K,
) -> DataFrame:
    """→ (w1, w2, c_pair, pmi): the ``top_k`` adjacent-word
    collocations by pointwise mutual information
    ln(c(w1,w2)·T / (c(w1)·c(w2))) with T the total bigram count,
    among pairs seen >= ``min_count`` times.  Unigram counts are word
    occurrences over the corpus; ties break (pmi desc, w1, w2) and
    the global cut is a TakeOrdered — bounded, no full sort."""
    from .dedup import normalized_words
    from .selection import _bigram_occurrences

    bg = _bigram_occurrences(docs.select("doc_id", "text"))
    bc = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c_pair"))
    uni = (
        docs.select(
            F.explode(normalized_words()).alias("word")
        )
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("c"))
    )
    t = bc.agg(F.sum("c_pair").cast("double").alias("t"))
    return (
        bc.filter(F.col("c_pair") >= min_count)
        .join(uni.withColumnRenamed("word", "w1").withColumnRenamed("c", "c1"), "w1")
        .join(uni.withColumnRenamed("word", "w2").withColumnRenamed("c", "c2"), "w2")
        .crossJoin(F.broadcast(t))
        .select(
            "w1",
            "w2",
            "c_pair",
            F.round(
                F.log(
                    F.col("c_pair")
                    * F.col("t")
                    / (F.col("c1") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(top_k)
    )
