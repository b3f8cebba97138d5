"""Data selection via importance resampling (DSIR-style).

Xie et al. 2023 ("Data Selection for Language Models via Importance
Resampling"): score every raw-corpus doc by how much more likely its
hashed n-gram bag is under a TARGET distribution (a small high-quality
set) than under the RAW distribution, then keep the top-weighted docs.
The standard domain-targeting step of a pretraining-data pipeline —
complementary to dedup (drop copies), decontamination (drop eval
leaks), and quality gates (drop junk): this one RANKS what remains.

Nothing here exists in the reference (a KG-extraction system, no
corpus-selection stage); it is part of the driver-mandated
training-data surface.

Scale shape (the whole point of hashed features): both distribution
estimates are ``n_buckets``-bounded aggregations — a groupBy on a
uniform md5-derived bucket key, map-side combinable, B rows out no
matter the corpus size.  The per-bucket log-ratio table (B rows)
broadcasts into the per-doc bucket counts, and one groupBy(doc_id)
folds the weight.  Linear in gram volume, no skew, no pair
enumeration, nothing driver-sized except the B-row table.

Cross-engine determinism: bucket = md5-prefix mod B (the simhash
convention, dedup.py:365 ↔ the ``('0x' || substr(md5 …))::BIGINT``
oracle cast); the log-ratio table is quantized to 9 dp BEFORE the
per-doc fold and the folded weight to 4 dp after it (the pagerank
two-stage quantization pattern), so engine-order float-sum drift is
~1e-12 against a 1e-4 grid.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize
from .dedup import adjacent_structs, normalized_words, word_count, word_ngrams

N_BUCKETS = 1024
ALPHA = 1.0  # add-alpha smoothing over the bucket space


def md5_mod(col, modulus: int):
    """The ONE cross-engine uniform-hash convention: first 15 md5 hex
    digits (< 2^60, BIGINT-safe) as an integer mod ``modulus`` —
    byte-equivalent to DuckDB's ``('0x' || substr(md5(x), 1, 15))
    ::BIGINT % m``.  Every bucket/draw/shard key in this module routes
    through here so the convention cannot drift per call site."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long"),
        F.lit(modulus),
    )


def hashed_grams(docs: DataFrame, ngram_max: int = 2) -> DataFrame:
    """→ (doc_id, bucket): one row per word n-gram occurrence
    (n = 1..ngram_max, the DSIR unigram+bigram feature set), bucket =
    first 15 md5 hex digits mod N_BUCKETS.  Occurrences, not distinct
    — the features are bag counts."""
    words = F.col("words")
    grams = F.flatten(
        F.array(*[word_ngrams(words, n) for n in range(1, ngram_max + 1)])
    )
    g = (
        docs.select("doc_id", normalized_words().alias("words"))
        .select("doc_id", F.explode(grams).alias("gram"))
        .filter(F.length("gram") > 0)
    )
    return g.select("doc_id", md5_mod(F.col("gram"), N_BUCKETS).alias("bucket"))


def bucket_distribution(docs: DataFrame, ngram_max: int = 2) -> DataFrame:
    """→ (bucket, cnt): hashed-gram bucket counts — at most N_BUCKETS
    rows regardless of corpus size (map-side combinable groupBy on a
    uniform key)."""
    return hashed_grams(docs, ngram_max).groupBy("bucket").agg(
        F.count("*").alias("cnt")
    )


def importance_weights(
    raw: DataFrame,
    target: DataFrame,
    ngram_max: int = 2,
    alpha: float = ALPHA,
) -> DataFrame:
    """→ (doc_id, n_grams, logw): per raw-corpus doc, the DSIR log
    importance weight Σ_b c_b · [ln p_target(b) − ln p_raw(b)] over
    hashed n-gram bucket counts with add-alpha smoothing.  Docs whose
    normalized text is empty emit no row (no grams — the shingle-stage
    contract).

    The raw distribution is estimated from ``raw`` itself and the
    target one from ``target`` (the paper's recipe).  Both are
    B-bounded aggs; the joined log-ratio table has exactly B rows and
    broadcasts.

    The raw gram stream (the big frame — one row per word n-gram
    occurrence) is consumed exactly ONCE: it folds into the per-doc
    bucket counts, which are materialized and from which both the raw
    bucket distribution and the raw total re-aggregate (B-bounded /
    scalar, map-side combinable) instead of re-running the
    scan→explode upstream per reference."""
    B = N_BUCKETS
    per_doc = materialize(
        hashed_grams(raw, ngram_max)
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("c"))
    )
    raw_dist = per_doc.groupBy("bucket").agg(
        F.sum("c").cast("long").alias("r_cnt")
    )
    tgt_dist = bucket_distribution(target, ngram_max).withColumnRenamed(
        "cnt", "t_cnt"
    )
    # full B-row frame so buckets unseen on either side still get their
    # smoothed mass; totals enter as scalar subquery-style crossjoins
    # of single-row aggregates (broadcast, no data-scale shuffle)
    buckets = raw.sparkSession.range(B).select(F.col("id").alias("bucket"))
    r_tot = raw_dist.agg(F.sum("r_cnt").alias("r_tot"))
    t_tot = tgt_dist.agg(F.sum("t_cnt").alias("t_tot"))
    ratio = (
        buckets.join(F.broadcast(raw_dist), "bucket", "left")
        .join(F.broadcast(tgt_dist), "bucket", "left")
        .crossJoin(F.broadcast(r_tot))
        .crossJoin(F.broadcast(t_tot))
        .select(
            "bucket",
            F.round(
                F.log(
                    (F.coalesce(F.col("t_cnt"), F.lit(0)) + F.lit(alpha))
                    / (F.coalesce(F.col("t_tot"), F.lit(0)) + F.lit(alpha * B))
                )
                - F.log(
                    (F.coalesce(F.col("r_cnt"), F.lit(0)) + F.lit(alpha))
                    / (F.coalesce(F.col("r_tot"), F.lit(0)) + F.lit(alpha * B))
                ),
                9,
            ).alias("logratio"),
        )
    )
    return (
        per_doc.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.round(F.sum(F.col("c") * F.col("logratio")), 4).alias("logw"),
        )
    )


def select_top_k(weights: DataFrame, k: int) -> DataFrame:
    """→ weights + ``selected``: deterministic top-k by (logw desc,
    doc_id asc) — the resampling step made reproducible (the paper
    adds Gumbel noise; a seeded variant belongs to the caller).  The
    top-k id set is k-bounded (TakeOrdered — no single-partition sort
    of the corpus) and broadcasts back onto the full frame, which is
    materialized first (both branches read it — un-cut, the whole
    weight DAG would run twice)."""
    weights = materialize(weights)
    top = (
        weights.orderBy(F.desc("logw"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.lit(True).alias("selected"))
    )
    return (
        weights.join(F.broadcast(top), "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            "logw",
            F.coalesce("selected", F.lit(False)).alias("selected"),
        )
    )


DOMAIN_WORD_BUDGET = 1000


def domain_sample(
    docs: DataFrame,
    budget_words: int = DOMAIN_WORD_BUDGET,
) -> DataFrame:
    """→ (doc_id, source, n_words, frac, sampled): deterministic
    per-domain downsampling to a word budget (the Dolma/C4 "don't let
    one domain dominate the mix" step).  Each source's keep fraction is
    ``min(1, budget / source_words)``; a doc is kept when its
    md5(doc_id) uniform draw falls under the fraction — no window, no
    per-source sort, no skew: the per-source word totals are a
    sources-bounded map-side-combinable agg broadcast back, and the
    keep test is a narrow expression.  A 10⁹-doc domain costs exactly
    what a 10²-doc domain costs per row.

    The md5 draw, the division, and the comparison are integer-fed
    IEEE ops — bit-identical across engines (the dsir/simhash md5
    convention), so the boolean is oracle-exact; ``frac`` is reported
    rounded to 6 dp but compared unrounded."""
    # sized feeds both the per-source agg and the final join — cut the
    # lineage so the scan + normalize + split runs once, not twice
    sized = materialize(
        docs.select("doc_id", "source", word_count().alias("n_words"))
    )
    per_source = sized.groupBy("source").agg(
        F.sum("n_words").alias("src_words")
    )
    frac = F.least(
        F.lit(1.0), F.lit(float(budget_words)) / F.col("src_words")
    )
    draw = md5_mod(F.col("doc_id").cast("string"), 1_000_000) / F.lit(
        1_000_000.0
    )
    return (
        sized.join(F.broadcast(per_source), "source")
        .select(
            "doc_id",
            "source",
            "n_words",
            F.round(frac, 6).alias("frac"),
            (draw < frac).alias("sampled"),
        )
    )


N_PACK_SHARDS = 32
CHUNK_TOKENS = 256  # fixture-scale; production uses the model context (2k-8k)


def pack_chunks(
    docs: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    n_shards: int = N_PACK_SHARDS,
) -> DataFrame:
    """→ (doc_id, shard, n_tokens, start_tok, first_chunk, last_chunk):
    GPT-style concatenate-and-slice packing — the final assembly stage
    of a pretraining pipeline: docs concatenate in a deterministic
    order and the stream is cut every ``chunk_tokens`` tokens (docs may
    straddle a cut; ``first_chunk``/``last_chunk`` give the covered
    chunk range per doc).

    A single global running sum would serialize the corpus, so packing
    is SHARD-LOCAL (the standard practice — each writer task owns a
    shard): shard = md5(doc_id) mod ``n_shards``, docs ordered by
    doc_id within the shard, ``start_tok`` the exclusive prefix sum of
    whitespace-token counts.  One shuffle on the uniform shard key;
    the per-shard window sort is the only ordered step and shards are
    corpus/n_shards-sized — raise ``n_shards`` with the cluster.
    Empty docs occupy zero tokens but still report their insertion
    point."""
    from pyspark.sql import Window

    sized = docs.select(
        "doc_id",
        md5_mod(F.col("doc_id").cast("string"), n_shards).alias("shard"),
        word_count().alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_tok")
    out = sized.withColumn("start_tok", start)
    return out.select(
        "doc_id",
        "shard",
        "n_tokens",
        "start_tok",
        F.floor(F.col("start_tok") / chunk_tokens)
        .cast("long")
        .alias("first_chunk"),
        F.floor(
            F.greatest(
                F.col("start_tok"),
                F.col("start_tok") + F.col("n_tokens") - 1,
            )
            / chunk_tokens
        )
        .cast("long")
        .alias("last_chunk"),
    )


# ---------------------------------------------------------------------------
# N-gram LM perplexity bucketing (the CCNet quality stage, Wenzek et
# al. 2019 §4.3): score every document by its negative log-likelihood
# under a smoothed bigram language model trained on a reference corpus,
# then split the corpus into head / middle / tail TERCILES of the score
# distribution (CCNet trains KenLM on Wikipedia; the engine analog is
# an add-alpha bigram model trained on any DataFrame of docs).
#
# Scale shape: the count model is two groupBys on uniform gram keys
# (bigram counts; prefix counts fold FROM the bigram table, so the
# train stream is read once); scoring is two shuffle joins of the doc
# bigram stream against those count tables plus one groupBy(doc_id) —
# all linear, no pairs.  The tercile boundaries come from an EXACT
# distributed quantile: scores land on a fixed 1e-4 grid, so the
# histogram groupBy is grid-bounded (~2·10^5 rows for any corpus size)
# and the single cumulative window runs over that bounded table, never
# over the corpus.  Boundary tests are integer arithmetic
# (3·cum >= k·N) — no float thresholds.
#
# Cross-engine determinism: per-gram log-probs quantized to 9 dp before
# the per-doc fold, the folded mean to 4 dp after (the dsir/pagerank
# two-stage quantization pattern).

LM_ALPHA = 1.0


def _bigram_occurrences(docs: DataFrame) -> DataFrame:
    """→ (doc_id, w1, w2): one row per adjacent word pair of the
    normalized text.  Docs with fewer than two words emit nothing."""
    return (
        docs.select("doc_id", normalized_words().alias("words"))
        .select("doc_id", F.explode(adjacent_structs(F.col("words"))).alias("s"))
        .select("doc_id", F.col("s.w1").alias("w1"), F.col("s.w2").alias("w2"))
        .filter((F.length("w1") > 0) & (F.length("w2") > 0))
    )


def bigram_lm_nll(
    train: DataFrame,
    score: DataFrame,
    alpha: float = LM_ALPHA,
) -> DataFrame:
    """→ (doc_id, n_bigrams, nll): per ``score`` doc, the mean
    add-alpha bigram negative log-likelihood under counts from
    ``train``:  -mean ln[(c(w1,w2)+a) / (c(w1·)+a·V)] with V the
    distinct-continuation vocabulary of the train bigrams.  Prefix
    counts c(w1·) fold from the bigram count table (one pass over the
    train stream); a w1 unseen in train scores ln(a/(a·V)) = -ln V.
    Docs with <2 words emit no row (no bigrams — the shingle-stage
    contract)."""
    if score is train:
        # self-scoring (the registered query's shape): the bigram
        # stream is exploded ONCE into the per-doc count table, and the
        # train model's bigram counts re-aggregate FROM it (integer
        # sums — identical values to counting the raw stream); the
        # former shape scanned + exploded the corpus twice (r06, the
        # dsir importance_weights consumed-once pattern)
        doc_counts = materialize(
            _bigram_occurrences(score)
            .groupBy("doc_id", "w1", "w2")
            .agg(F.count("*").cast("long").alias("c"))
        )
        bc = materialize(
            doc_counts.groupBy("w1", "w2").agg(
                F.sum("c").cast("long").alias("bc")
            )
        )
    else:
        doc_counts = (
            _bigram_occurrences(score)
            .groupBy("doc_id", "w1", "w2")
            .agg(F.count("*").cast("long").alias("c"))
        )
        bc = materialize(
            _bigram_occurrences(train)
            .groupBy("w1", "w2")
            .agg(F.count("*").cast("long").alias("bc"))
        )
    uc = bc.groupBy("w1").agg(F.sum("bc").cast("long").alias("uc"))
    vocab = bc.agg(F.countDistinct("w2").cast("long").alias("v"))
    per_pair = (
        doc_counts
        .join(bc, ["w1", "w2"], "left")
        .join(uc, "w1", "left")
        .crossJoin(F.broadcast(vocab))
    )
    logp = F.round(
        F.log(
            (F.coalesce(F.col("bc"), F.lit(0)) + F.lit(alpha))
            / (F.coalesce(F.col("uc"), F.lit(0)) + F.lit(alpha) * F.col("v"))
        ),
        9,
    )
    return (
        per_pair.select("doc_id", "c", logp.alias("logp"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.round(-F.sum(F.col("c") * F.col("logp")) / F.sum("c"), 4).alias(
                "nll"
            ),
        )
    )


def nll_terciles(scores: DataFrame) -> DataFrame:
    """→ scores + ``bucket``: head / middle / tail by EXACT terciles of
    the 4-dp-quantized nll distribution (head = lowest perplexity, the
    CCNet keep set).  The histogram groupBy is bounded by the 1e-4
    score grid, so the one unpartitioned cumulative window runs over a
    ~10^5-row table regardless of corpus size; boundaries are the
    smallest grid values whose cumulative count reaches N/3 and 2N/3
    (3·cum >= k·N integer tests), broadcast back onto the full frame.
    ``scores`` is materialized first — histogram, total and the final
    join all read it."""
    from pyspark.sql import Window

    scores = materialize(scores)
    hist = scores.groupBy("nll").agg(F.count("*").cast("long").alias("c"))
    w = Window.orderBy("nll").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("c").over(w))
    tot = scores.agg(F.count("*").cast("long").alias("n"))
    bounds = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.min(
                F.when(F.col("cum") * 3 >= F.col("n"), F.col("nll"))
            ).alias("b1"),
            F.min(
                F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("nll"))
            ).alias("b2"),
        )
    )
    return (
        scores.crossJoin(F.broadcast(bounds))
        .select(
            "doc_id",
            "n_bigrams",
            "nll",
            F.when(F.col("nll") <= F.col("b1"), F.lit("head"))
            .when(F.col("nll") <= F.col("b2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


# ---------------------------------------------------------------------------
# In-engine trained quality classifier (the GPT-3 / LLaMA "quality
# filter" stage, Brown et al. 2020 appendix A): a logistic-regression
# discriminator over hashed n-gram features, trained INSIDE the engine
# by fixed-iteration full-batch gradient descent (the CCNet/fastText
# analog without a model-file dependency).  Complements dsir_weights —
# DSIR is the generative (Naive-Bayes-ratio) scorer, this is the
# discriminatively TRAINED one.
#
# Scale shape per iteration (r06 formulation): the per-doc feature
# ARRAYS table (doc_id, y, buckets[], xs[] — one row per doc, row
# width bounded by B+1) is materialized once; margins and residuals
# are then NARROW Catalyst array expressions against the constant-
# folded weight array literal — zero per-round joins, zero per-round
# doc_id shuffles (the former formulation's two shuffles/round cost
# ~5 AQE stage waves of scheduling latency per round, dominating the
# round at any data size where the barrier is the bottleneck).  The
# per-bucket gradient combine is map-side partial vectors (one
# B+1-slot float64 accumulator per task) either collected and summed
# on the driver (bounded: n_partitions × B rows — the default up to
# DRIVER_COMBINE_MAX_PARTIALS) or finished by one B-bounded groupBy
# exchange (the fallback for very wide clusters); weights stay a
# ≤B+1 driver-resident vector (the BPE-argmax bounded-collect
# precedent).
#
# Optimization: plain full-batch GD is hopeless here — the all-ones
# bias column and the ~1/nnz-magnitude tf columns condition the
# Hessian apart by ~10^4.  The fix that stays SQL-expressible is a
# DIAGONAL Newton preconditioner: h_b = (1/N)·Σ_d x_db², step
# w_b ← w_b − lr·g_b/(0.25·h_b + eps) (0.25 = the logistic Hessian's
# p(1−p) bound).  Because the preconditioner ignores cross-terms and a
# doc's ~nnz features each apply a full correction, the stable lr is
# O(1/nnz); lr=0.04 × 12 rounds reaches ~0.88 train accuracy on the
# lang-label fixture (base rate 0.56) at both test scales, and lr≥0.06
# measurably oscillates — don't raise it without re-sweeping.
#
# Cross-engine determinism: margins, probabilities and gradients are
# quantized to 9 dp at each reduction (sum-order drift ~1e-12 against
# the 1e-9 grid); the weight recurrence then consumes identical inputs
# in an identical sequence in both engines.  The driver-side gradient
# combine rounds through ``_round_half_up`` — the python twin of
# Spark's F.round (BigDecimal.valueOf → HALF_UP), NOT python round()
# (banker's) or np.round (also banker's); the residual shortest-repr
# grid-boundary risk is the same documented probabilistic one the
# Spark↔DuckDB contract already carries (graph.py module docstring).

LR_ITERS = 12
LR_RATE = 0.04
LR_EPS = 1e-9
LR_DP = 9
BIAS_BUCKET = -1

# gradient-combine strategy bound: collect per-task partial gradient
# vectors when n_partitions × (B+1) stays under this many rows
# (driver-bounded, one job, ZERO shuffles per round); past it, fall
# back to the one-exchange B-bounded groupBy combine.  512 tasks × 1025
# slots ≈ 0.5M rows ≈ 12 MB — comfortably driver-sized.
DRIVER_COMBINE_MAX_PARTIALS = 512 * 1024

# rows of the (doc_id, y, buckets[], xs[]) feature table per training
# task: the 12 round jobs each pay per-task Arrow + scheduling
# overhead, and AQE sizes the featA exchange by its bytes (small), so
# tiny corpora would otherwise fan the rounds out over many near-empty
# tasks.  20k rows × ~0.5-2 KB/row keeps partitions in the guide's
# tens-of-MB band; the coalesce applying it is NARROW (over the
# already-checkpointed rows) and never raises the partition count, so
# big corpora keep their cluster parallelism.
ROWS_PER_TRAIN_TASK = 20_000


def _round_half_up(x: float, dp: int) -> float:
    """Spark F.round(double, dp) twin: BigDecimal.valueOf(x) quantized
    HALF_UP — python's shortest repr matches Double.toString's decimal
    value for round-trip purposes, and Decimal(repr(x)) quantized
    HALF_UP reproduces the Catalyst result (python's built-in round()
    and numpy's round() are HALF_EVEN and would diverge at .5 grid
    points)."""
    from decimal import ROUND_HALF_UP, Decimal

    if x != x or x in (float("inf"), float("-inf")):
        return x
    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-dp), rounding=ROUND_HALF_UP)
    )


def quality_features(docs: DataFrame, ngram_max: int = 2) -> DataFrame:
    """→ (doc_id, bucket, x): term-frequency-normalized hashed n-gram
    bucket features (x = count/doc_grams — one exact division, no sum
    ordering) plus a constant bias feature at ``BIAS_BUCKET`` for
    EVERY doc, so gramless docs still score."""
    c = (
        hashed_grams(docs, ngram_max)
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").cast("double").alias("c"))
    )
    tot = c.groupBy("doc_id").agg(F.sum("c").alias("n"))
    x = c.join(tot, "doc_id").select(
        "doc_id", "bucket", (F.col("c") / F.col("n")).alias("x")
    )
    bias = docs.select(
        "doc_id",
        F.lit(BIAS_BUCKET).cast("long").alias("bucket"),
        F.lit(1.0).alias("x"),
    )
    return x.unionByName(bias)


def quality_lr_scores(
    docs: DataFrame,
    labels: DataFrame,
    n_iter: int = LR_ITERS,
    lr: float = LR_RATE,
    ngram_max: int = 2,
) -> DataFrame:
    """→ (doc_id, score, prob): per-doc logistic margin and probability
    after ``n_iter`` preconditioned full-batch gradient rounds of
    w_b ← w_b − lr · g_b / (0.25·h_b + eps)  with
    g = (1/N) Σ_d x_d (σ(x_d·w) − y_d), h_b = (1/N) Σ_d x_db²,
    w₀ = 0.  ``labels`` is (doc_id, y) with y ∈ {0.0, 1.0} covering
    every doc.

    Every reduction is quantized to LR_DP before reuse, so both the
    training trajectory and the final scores are engine-portable (the
    pagerank quantization contract; the residual 1-ulp grid-boundary
    risk is the same documented one)."""
    # Fold the gram stream into per-doc ALIGNED ARRAYS with the label
    # attached — row width bounded by B+1 slots at any corpus size;
    # every subsequent round reads this frame narrowly.  Built in the
    # minimal shuffle count (r06): bucket counts → per-doc arrays →
    # labels left-join; the tf normalizer is the exact integer sum of
    # the doc's own counts (order-free), computed narrowly from the
    # array instead of a separate groupBy+join, and the bias slot is
    # appended narrowly instead of a union branch (gramless docs get
    # the bias-only arrays through the left-join coalesce — same rows
    # as quality_features' bias union).
    counts = (
        hashed_grams(docs, ngram_max)
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").cast("double").alias("c"))
    )
    # n rides out of the same groupBy as the arrays (an exact integer
    # sum of the doc's counts — order-free), as a real attribute so
    # the per-element division below cannot re-inline an aggregate
    arr = counts.groupBy("doc_id").agg(
        F.collect_list(F.struct("bucket", "c")).alias("bx"),
        F.sum("c").alias("n"),
    )
    featA = materialize(
        labels.join(arr, "doc_id", "left")
        .select(
            "doc_id",
            "y",
            F.concat(
                F.coalesce(
                    F.col("bx.bucket"), F.array().cast("array<bigint>")
                ),
                F.array(F.lit(BIAS_BUCKET).cast("long")),
            ).alias("buckets"),
            F.concat(
                F.coalesce(
                    F.transform(F.col("bx"), lambda s: s["c"] / F.col("n")),
                    F.array().cast("array<double>"),
                ),
                F.array(F.lit(1.0)),
            ).alias("xs"),
        )
        # data-proportional partitioning for the 12 round jobs: the
        # label-side broadcast join would otherwise pin featA to the
        # SOURCE scan's partition count (32 near-empty tasks + 32
        # partial vectors per round at test scale); an explicit
        # exchange lets AQE coalesce to the advisory size — few
        # partitions on small inputs, many at scale (measured: ~1.3 s
        # across the 12 rounds at sf0.1)
        .repartition("doc_id")
    )
    # labels cover every doc and every doc carries the bias feature,
    # so featA has exactly one row per doc — N collected as an exact
    # integer (same double the former 1-row count frame carried)
    n_val = float(featA.count())

    # data-proportional round-job parallelism (see ROWS_PER_TRAIN_TASK):
    # narrow merge of the checkpointed partitions; never splits, so at
    # cluster scale this is a no-op
    target = max(1, int(n_val) // ROWS_PER_TRAIN_TASK + 1)
    if target < featA.rdd.getNumPartitions():
        featA = featA.coalesce(target)

    use_driver_combine = (
        featA.rdd.getNumPartitions() * (N_BUCKETS + 1)
        <= DRIVER_COMBINE_MAX_PARTIALS
    )

    def _combine(df: DataFrame, out_dp: int) -> dict[int, float]:
        """Per-bucket sum of (x·scale)/N terms where ``df`` carries
        (buckets, xs, scale) — scale a per-ROW scalar (evaluated once
        per row at the Arrow/exchange boundary; an element-wise
        transform would re-inline it per element via CollapseProject).
        Map-side partial B+1-slot float64 accumulators, combined on
        the driver when bounded (zero shuffles) else via one B-bounded
        exchange; rounded to ``out_dp`` either way (the driver path
        through the F.round twin).  Term arithmetic is (x·scale)/N in
        both paths — identical per-term IEEE ops to the former
        Catalyst sum((x*r)/n)."""
        import numpy as np

        if use_driver_combine:

            def kernel(batches):
                import pandas as _pd

                acc = np.zeros(N_BUCKETS + 1, dtype=np.float64)
                seen = np.zeros(N_BUCKETS + 1, dtype=bool)
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    # vectorized across the whole batch: flatten the
                    # per-doc arrays once, repeat each doc's scale over
                    # its own slots, one unbuffered (in-order) add
                    lens = np.fromiter(
                        (len(b) for b in pdf["buckets"]), dtype=np.int64
                    )
                    idx = np.concatenate(list(pdf["buckets"])).astype(np.int64) + 1
                    xs = np.concatenate(list(pdf["xs"])).astype(np.float64)
                    sc = np.repeat(pdf["scale"].to_numpy(np.float64), lens)
                    np.add.at(acc, idx, (xs * sc) / n_val)
                    seen[idx] = True
                nz = np.flatnonzero(seen)
                yield _pd.DataFrame({"bucket": nz - 1, "pg": acc[nz]})

            rows = df.mapInPandas(kernel, "bucket long, pg double").collect()
            tot: dict[int, float] = {}
            for r in rows:  # collect() preserves partition order
                tot[r["bucket"]] = tot.get(r["bucket"], 0.0) + r["pg"]
            return {b: _round_half_up(v, out_dp) for b, v in tot.items()}
        agg = (
            df.select(F.explode(F.arrays_zip("buckets", "xs")).alias("z"), "scale")
            .groupBy(F.col("z.buckets").alias("bucket"))
            .agg(
                F.round(
                    F.sum(F.col("z.xs") * F.col("scale") / F.lit(n_val)),
                    out_dp,
                ).alias("g")
            )
            .collect()
        )
        return {r["bucket"]: r["g"] for r in agg}

    def margin(w_map: dict[int, float]) -> F.Column:
        """round(Σ_i xs[i]·w[buckets[i]], dp) as a narrow array fold
        against the constant weight vector, indexed bucket+2
        (element_at is 1-based; slot 1 = the BIAS_BUCKET=-1 weight).
        The weight vector rides in as ONE from_json string literal
        (r06): a 1025-element array(...) literal costs ~0.1 s of SQL
        parsing PER ROUND (and the python Column API ~0.5 s of py4j —
        both measured), while the single-token JSON string parses in
        ~ms and ConstantFolding evaluates the from_json once at
        optimization time (asserted gone from the optimized plan, with
        the array-literal build bit-equal on every fixture row —
        pytest).  repr() doubles round-trip exactly through Jackson's
        correctly-rounded parse; the declared array<double> schema
        pins the type (no DECIMAL inference).  A non-finite weight
        raises: its repr is not JSON, and from_json would silently
        turn every score into NULL."""
        for b, w in w_map.items():
            if not math.isfinite(w):
                raise ValueError(
                    f"classifier weight for bucket {b} is {w!r}: "
                    "training diverged (lower lr)"
                )
        js = "[" + ",".join(
            repr(w_map.get(b, 0.0)) for b in range(-1, N_BUCKETS)
        ) + "]"
        return F.expr(
            "round(aggregate(zip_with(xs, transform(buckets, "
            f"b -> element_at(from_json('{js}', 'array<double>'), "
            "cast(b + 2 as int))), "
            "(x, w) -> x * w), 0.0D, (acc, v) -> acc + v), "
            f"{LR_DP})"
        )

    # preconditioner: h_b = round(Σ_d (x_db·x_db)/N, dp) — computed
    # ONCE, so it just uses the exchange path (its per-element square
    # has no outer-row reference, so there is no re-inlining hazard)
    h_rows = (
        featA.select(F.explode(F.arrays_zip("buckets", "xs")).alias("z"))
        .groupBy(F.col("z.buckets").alias("bucket"))
        .agg(
            F.round(
                F.sum(F.col("z.xs") * F.col("z.xs") / F.lit(n_val)), LR_DP
            ).alias("h")
        )
        .collect()
    )
    h_map = {r["bucket"]: r["h"] for r in h_rows}
    w_map = {b: 0.0 for b in h_map}
    for _ in range(n_iter):
        # residual per doc (narrow): r_d = round(σ(s_d), dp) − y_d,
        # evaluated once per row at the mapInPandas boundary; gradient
        # terms (x·r)/N accumulate map-side — the whole round is one
        # job with NO shuffle at all on the driver-combine path
        r_col = (
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-margin(w_map))), LR_DP
            )
            - F.col("y")
        )
        g_map = _combine(
            featA.select("buckets", "xs", r_col.alias("scale")), LR_DP
        )
        w_map = {
            b: _round_half_up(
                w_map[b] - lr * g / (0.25 * h_map[b] + LR_EPS), LR_DP
            )
            for b, g in g_map.items()
        }
    return featA.select("doc_id", margin(w_map).alias("s")).select(
        "doc_id",
        F.round("s", 6).alias("score"),
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("s"))), 6
        ).alias("prob"),
    )


SHUFFLE_SEED = 7
N_SHUFFLE_SHARDS = 32


def shuffle_order(
    docs: DataFrame,
    seed: int = SHUFFLE_SEED,
    n_shards: int = N_SHUFFLE_SHARDS,
) -> DataFrame:
    """→ (doc_id, shard, pos): the seeded deterministic corpus shuffle
    that precedes packing — every epoch of pretraining consumes docs
    in a pseudorandom order that must be REPRODUCIBLE (resume, lineage)
    and cheap (no global sort).  The order key is md5(seed:doc_id);
    docs land in md5 shards and get a dense 0-based position within
    their shard by (key, doc_id).  One shuffle on the uniform shard
    key; the per-shard window sorts corpus/n_shards rows — the
    pack_chunks scale contract, raise ``n_shards`` with the cluster.
    Changing ``seed`` permutes the order; the (doc_id) set is
    unchanged."""
    from pyspark.sql import Window

    key_src = F.concat(
        F.lit(f"{seed}:"), F.col("doc_id").cast("string")
    )
    keyed = docs.select(
        "doc_id",
        md5_mod(key_src, n_shards).alias("shard"),
        F.md5(key_src).alias("k"),
    )
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
    )
