"""Deduplication family over a documents/pages table.

Beyond the reference (which has no dedup — nearest analog is the
order-sensitive seen-set W5, mrc_utils.py:397-415), these are the
standard large-scale training-data dedup operators, Spark-first:

- exact:      md5(normalized text) → keep min(doc_id) per hash.
              One shuffle (groupBy hash); at 100 TB the hash groupBy is
              the canonical dedup and AQE coalesces the skewless output.
- minhash LSH: word-shingle → per-band minhash signature → band-bucket
              join for candidate pairs → exact Jaccard verify.
              Shuffles: explode+groupBy for signatures (combine-enabled
              min agg), self-join on (band, sig) buckets — bucket keys
              are near-uniform by construction (hashes), so no skew.
- simhash:    64-bit-ish (60-bit) sign-aggregated word hash; near-dup =
              small Hamming distance. All md5/bit arithmetic — portable
              to the DuckDB oracle.
- embedding:  cosine near-dup over an embedding column; brute-force
              pair join at test scale, LSH-bucketed variant
              (similarity.py) as the 100-TB path.

Every hash is md5-based so the DuckDB correctness oracle can reproduce
results bit-for-bit (Spark's hash()/xxhash64 are not portable).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize

N_BANDS = 8
SHINGLE = 3  # word 3-grams
# default per-(band, sig) bucket cap for the LSH candidate joins: a
# bucket of b members emits b(b-1)/2 candidate rows, so an uncapped
# mega-bucket (boilerplate duplicated millions of times on real web
# data) is quadratic.  The standard pipeline collapses exact
# duplicates FIRST (collapse_exact below), so oversized buckets can
# only come from huge NEAR-duplicate families; the cap bounds those to
# max_bucket²/2 pairs per bucket and the dropped mass is measurable
# (buckets over the cap), not silent.
MAX_BUCKET = 1000


def _cap_buckets(keys: DataFrame, bucket_cols: list[str], max_bucket: int) -> DataFrame:
    """Drop rows whose bucket has more than ``max_bucket`` members —
    the shared skew guard of the three LSH-style candidate joins.

    Shape: a groupBy count (map-side combinable — a 10M-row mega-bucket
    reduces to one row per map task before the shuffle) + an inner join
    back on the bucket key, which AQE's skew-join can split at runtime.
    A window count would instead force every bucket — including exactly
    the mega-buckets the cap exists for — through ONE task just to be
    counted (windows are not skew-splittable; same argument as
    exact_members).  The join's surviving-bucket side carries one row
    per under-cap bucket, so the mega-bucket's rows hash into a
    splittable probe with no match and vanish."""
    under = (
        keys.groupBy(*bucket_cols)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") <= max_bucket)
        .drop("n")
    )
    return keys.join(under, bucket_cols)


def normalized_text(col="text"):
    """lower + collapse whitespace — the canonical dedup key."""
    return F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")


def normalized_words(col="text"):
    """the whitespace tokens of the normalized text — the ONE tokenizer.
    Gram builders select it as a column before any lambda reads it:
    passed as an expression, Catalyst copies the whole lower → trim →
    regexp_replace → split chain into every lambda body, once per gram.
    ``F.trim`` strips spaces only, so a leading ``\\n``/``\\t``
    yields an empty first token (mirrored by the oracles)."""
    return F.split(normalized_text(col), " ")


def word_count(col="text"):
    """whitespace-token count of the normalized text, with the empty
    string counting 0 (split('') yields [''], size 1 — the quirk every
    caller must dodge the same way).  The ONE word-count convention —
    mirrored by queries._WORD_COUNT_SQL."""
    return (
        F.when(F.length(normalized_text(col)) == 0, F.lit(0))
        .otherwise(F.size(normalized_words(col)))
        .cast("long")
    )


def _windows(arr, n, f):
    """array of ``f(i)`` for every start index i (0-based) of a full
    ``n``-element window of ``arr`` — the ONE home of the window index
    arithmetic (word n-grams, adjacent pairs).  An array shorter than
    ``n`` yields [], a null array null; ``n`` may be a column.  The
    array entry's index IS the window start, so ``posexplode`` recovers
    positions."""
    starts = F.slice(arr, 1, F.greatest(F.size(arr) - n + 1, F.lit(0)))
    return F.transform(starts, lambda _, i: f(i))


def word_ngrams(words, n):
    """array of the space-joined word n-grams of a words COLUMN, in
    start-position order (see ``_windows``)."""
    return _windows(words, n, lambda i: F.array_join(F.slice(words, i + 1, n), " "))


def adjacent_structs(arr, f1: str = "w1", f2: str = "w2"):
    """array of struct(f1=arr[i], f2=arr[i+1]) over every adjacent
    element pair of an array COLUMN (selection bigrams, BPE pair
    counts); sub-2-element arrays yield []."""
    return _windows(
        arr,
        2,
        lambda i: F.struct(
            F.element_at(arr, i + 1).alias(f1), F.element_at(arr, i + 2).alias(f2)
        ),
    )


def join_in_order(collected, field: str, sep: str):
    """reassemble a ``collect_list(struct(pos, value))`` column into the
    values joined by ``sep`` in pos order — the ONE positional
    reassembly idiom (array_sort orders the structs by pos first;
    collect_list has already dropped null entries, so a when()-filter
    inside the collect composes cleanly)."""
    return F.array_join(
        F.transform(F.array_sort(collected), lambda x: x[field]), sep
    )


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """→ (content_hash, n_dups, keep_doc_id): groups with ≥2 members."""
    return (
        docs.select(F.col("doc_id"), F.md5(normalized_text()).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_dups") >= 2)
    )


def exact_members(docs: DataFrame) -> DataFrame:
    """→ (doc_id, content_hash, rep_id): every doc mapped to the min
    doc_id of its exact-content group (rep_id == doc_id ⇔ this doc is
    the group's representative).

    Shape chosen for the hot-cluster case (one boilerplate page with
    millions of copies): the rep map is a groupBy on the content hash
    — map-side combinable, so a mega-cluster reduces to one row per
    map task before the shuffle — and membership is a JOIN back on the
    hash, which AQE's skew-join can split at runtime.  A window
    (min over partitionBy(content_hash)) would instead force the whole
    cluster into ONE task — windows are not skew-splittable — which is
    a straggler/OOM at exactly the cluster sizes this pipeline order
    exists for.  The quadratic danger downstream is pair enumeration,
    which callers avoid by running near-dup candidate generation on
    representatives only (``collapse_exact``) and emitting STAR edges
    (member → rep), never member × member cliques."""
    hashed = docs.select(
        "doc_id", F.md5(normalized_text()).alias("content_hash")
    )
    rep_map = hashed.groupBy("content_hash").agg(F.min("doc_id").alias("rep_id"))
    return hashed.join(rep_map, "content_hash").select(
        "doc_id", "content_hash", "rep_id"
    )


def collapse_exact(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """→ (reps, members): the standard dedup pipeline order — collapse
    exact duplicates to one representative BEFORE shingling/minhash, so
    an exact-duplicate cluster of m docs contributes ONE doc to the
    near-dup candidate join instead of m docs sharing every band bucket
    (which would emit ~m²·bands/2 candidates).  ``reps`` has the
    original doc columns (representatives only — recovered through a
    skewless join on the unique doc_id); ``members`` is (doc_id,
    rep_id) for re-expanding verdicts at the end."""
    # reps in ONE map-side-combinable groupBy (r06): min_by keeps the
    # min-doc_id member's own full row per content hash — the same
    # rows the former rep_ids-filter + join-back produced, minus two
    # exchanges.  Still no window (a mega-cluster reduces to one
    # candidate struct per map task before the shuffle), and
    # ``members`` keeps the join formulation (its output is one row
    # per member — a collect_list would rebuild the hot-cluster
    # single-row hazard).
    hashed = docs.withColumn("content_hash", F.md5(normalized_text()))
    reps = (
        hashed.groupBy("content_hash")
        .agg(
            F.min_by(
                F.struct(*[F.col(c) for c in docs.columns]), F.col("doc_id")
            ).alias("rep")
        )
        .select("rep.*")
    )
    m = exact_members(docs)
    return reps, m.select("doc_id", "rep_id")


def word_shingles(words, n: int = SHINGLE):
    """array of the distinct word n-gram strings of a words COLUMN.  A
    doc of 1..n-1 words is its own one short shingle (the oracles'
    ``greatest(len - n + 1, 1)``)."""
    grams = word_ngrams(words, F.least(F.lit(n), F.size(words)))
    return F.array_distinct(F.filter(grams, lambda g: F.length(g) > 0))


def _shingles(docs: DataFrame, n: int, *keys: str) -> DataFrame:
    """→ (*keys, shingle): one row per distinct word n-gram of a doc."""
    words = docs.select(*keys, normalized_words().alias("words"))
    return words.select(
        *keys, F.explode(word_shingles(F.col("words"), n)).alias("shingle")
    )


def shingle_table(docs: DataFrame) -> DataFrame:
    return _shingles(docs, SHINGLE, "doc_id")


def contamination_scores(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = SHINGLE,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """→ (doc_id, n_shingles, n_hit, contamination): per-doc fraction
    of distinct word n-grams that appear ANYWHERE in the benchmark
    suite — benchmark DECONTAMINATION, the training-data step dedup
    does not cover (dedup asks "is this doc a copy of another corpus
    doc?"; this asks "does this doc leak the evaluation suite?" — the
    n-gram-overlap filter of GPT-3 appendix C / The Pile / Dolma).

    Plan shape: the benchmark's DISTINCT shingle set is aggregated once
    (eval suites are thousands of docs vs a corpus of billions, so this
    side is small — Catalyst/AQE broadcasts it when stats allow, else a
    shuffle on the uniform shingle string key, skewless either way);
    corpus shingles left-join it and one map-side-combinable
    groupBy(doc_id) folds hit and total counts.  Linear in total
    shingle volume, no pair enumeration: a shingle occurring in every
    benchmark doc still contributes ONE right-side row.  Docs whose
    normalized text yields no shingles produce no row (same contract as
    the shingle-based dedup stages).

    Pass ``shingles`` to reuse an already-built corpus shingle table.
    """
    sh = shingles if shingles is not None else _shingles(docs, n, "doc_id")
    bench = _shingles(benchmark, n).distinct().withColumn("hit", F.lit(1))
    return (
        sh.join(bench, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hit"),
        )
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("n_hit").cast("long").alias("n_hit"),
            (F.col("n_hit") / F.col("n_shingles")).alias("contamination"),
        )
    )


def minhash_signatures(
    docs: DataFrame, n_bands: int = N_BANDS, shingles: DataFrame | None = None
) -> DataFrame:
    """→ (doc_id, band, sig): per-band minhash via min(md5(band:shingle)).

    One pass over the shingle table: a single groupBy(doc_id) computes
    all ``n_bands`` mins as separate map-side-combinable aggregates, and
    the (band, sig) rows are exploded AFTER aggregation — so neither the
    scan nor the shuffle is amplified ``n_bands``× (the earlier
    crossJoin-with-a-band-table formulation exploded every shingle row
    8-fold before the combine).

    Pass ``shingles`` to reuse an already-built (cached) shingle table.
    """
    sh = shingles if shingles is not None else shingle_table(docs)
    per_doc = sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.md5(F.concat_ws(":", F.lit(str(b)), F.col("shingle")))
            ).alias(f"sig{b}")
            for b in range(n_bands)
        ]
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"), F.col(f"sig{b}").alias("sig")
            )
            for b in range(n_bands)
        ]
    )
    return per_doc.select("doc_id", F.explode(band_structs).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    n_bands: int = N_BANDS,
    shingles: DataFrame | None = None,
    max_bucket: int | None = MAX_BUCKET,
) -> DataFrame:
    """→ (doc_a, doc_b) distinct candidate pairs sharing any band bucket.

    ``max_bucket`` drops (band, sig) buckets with more members before
    the self-join — the skew guard that bounds a single bucket's output
    to max_bucket²/2 pairs (mirrors embedding_near_dups_lsh's cap).
    Callers should collapse exact duplicates first (``collapse_exact``)
    so the cap only ever bites genuine near-dup mega-families; pass
    ``max_bucket=None`` for the uncapped test/oracle formulation."""
    sig = minhash_signatures(docs, n_bands, shingles=shingles)
    # the signature table has up to 4 plan references below (bucket
    # count, its join probe, and both self-join sides) — materialize it
    # once or every reference re-runs the scan→shingle→min-agg upstream
    sig = materialize(sig)
    if max_bucket is not None:
        sig = _cap_buckets(sig, ["band", "sig"], max_bucket)
    a = sig.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    b = sig.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def lsh_bucket_stats(
    docs: DataFrame,
    n_bands: int = N_BANDS,
    shingles: DataFrame | None = None,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """→ (band, bucket_size, n_buckets, over_cap): the (band, sig)
    bucket-size histogram — the telemetry that makes the ``max_bucket``
    skew guard's dropped mass MEASURABLE rather than silent.  A
    production dedup run materializes this alongside the pair output:
    any ``over_cap`` row is a near-dup mega-family the candidate join
    skipped, with its exact size on record.  Two map-side-combinable
    groupBys over the signature table — no joins, no pair
    enumeration; output is bounded by the number of DISTINCT bucket
    sizes (≤ largest cluster), not by corpus size."""
    sig = minhash_signatures(docs, n_bands, shingles=shingles)
    sizes = sig.groupBy("band", "sig").agg(F.count("*").alias("bucket_size"))
    return (
        sizes.groupBy("band", "bucket_size")
        .agg(F.count("*").alias("n_buckets"))
        .withColumn("over_cap", F.col("bucket_size") > max_bucket)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame | None = None,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact word-shingle Jaccard for pairs ≥ threshold.

    With ``candidates`` (from LSH) only those pairs are verified — the
    100-TB path. Without, all co-shingled pairs are scored (test scale).
    Pass ``shingles`` to reuse an already-built (cached) shingle table.
    """
    sh = shingles if shingles is not None else shingle_table(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))

    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    if candidates is not None:
        # candidates-first: intersect shingles only for LSH candidate
        # pairs (candidates × avg-shingles rows) instead of exploding
        # the full co-shingle pair space and filtering afterwards
        inter = (
            candidates.join(a, "doc_a")
            .join(b, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_common"))
        )
    else:
        inter = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_common"))
        )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash(docs: DataFrame, bits: int = 60) -> DataFrame:
    """→ (doc_id, simhash): sign-aggregated 60-bit word simhash.

    word hash = first 15 hex digits of md5 (portable to the oracle);
    bit b of the simhash = 1 iff Σ_words (±1 per bit) > 0, weighting
    each word by its occurrence count.

    One-pass plan: a single groupBy(doc_id) with one conditional-sum
    aggregate per bit.  Each map task pre-combines its (doc, word)
    occurrences into 60 longs per doc, so the shuffle carries
    60·8 bytes per (doc, map-partition) — no row explosion.  (The
    previous formulation crossJoined a 60-row bit table against the
    word table, a 60× shuffle amplification at scale.)
    """
    words = docs.select(
        "doc_id", F.explode(normalized_words()).alias("word")
    ).filter(F.length("word") > 0)
    # Per-occurrence ±1 per bit sums to the same total as ±count per
    # distinct word, so no (doc_id, word) pre-count is needed.
    hashed = words.select(
        "doc_id",
        F.conv(F.substring(F.md5("word"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    bit_sums = [
        F.sum(
            F.when(F.expr(f"(h >> {b}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    per_doc = hashed.groupBy("doc_id").agg(*bit_sums)
    sig = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("long"),
        range(bits),
        F.lit(0).cast("long"),
    )
    return per_doc.select("doc_id", sig.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 60,
    n_bands: int = 4,
    max_bucket: int | None = MAX_BUCKET,
) -> DataFrame:
    """→ (doc_a, doc_b, hamming): pairs whose simhashes differ in at
    most ``max_hamming`` bits — the pigeonhole band join that turns the
    simhash SIGNATURE (above) into a usable near-dup detector at scale.

    Pigeonhole: split the ``bits``-bit signature into ``n_bands`` equal
    bands; any pair within hamming ``n_bands − 1`` (3 at the 4-band
    default) must agree EXACTLY on at least one band, so candidates are
    an equality self-join on (band, band_value) — never an all-pairs
    scan — and the exact popcount-of-xor verify runs per candidate.
    Band values of near-uniform hashes are near-uniform → skewless
    join keys, same argument as the minhash LSH bucket join.
    ``max_bucket`` is the same oversized-bucket guard as
    lsh_candidate_pairs' (collapse exact duplicates first so it only
    bites genuine near-identical mega-families).
    """
    assert bits % n_bands == 0, "bands must tile the signature"
    # pigeonhole completeness: a pair within ``max_hamming`` differing
    # bits can dodge band agreement only if every band absorbs ≥1 of
    # them — possible once max_hamming ≥ n_bands, so such configs
    # silently lose pairs and must fail loudly instead
    assert max_hamming <= n_bands - 1, (
        f"pigeonhole recall requires max_hamming <= n_bands - 1 "
        f"(got max_hamming={max_hamming}, n_bands={n_bands})"
    )
    width = bits // n_bands
    mask = (1 << width) - 1

    sig = simhash(docs, bits=bits)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.expr(f"(simhash >> {b * width}) & {mask}").alias("bval"),
            )
            for b in range(n_bands)
        ]
    )
    keys = sig.select(
        "doc_id", "simhash", F.explode(band_structs).alias("bk")
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.bval").alias("bval"))
    # same reuse shape as lsh_candidate_pairs: materialize once for the
    # cap + both self-join sides, or each re-runs the simhash groupBy
    keys = materialize(keys)
    if max_bucket is not None:
        keys = _cap_buckets(keys, ["band", "bval"], max_bucket)

    a = keys.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"), "band", "bval"
    )
    b = keys.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"), "band", "bval"
    )
    return (
        a.join(b, ["band", "bval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.bit_count(F.expr("sig_a ^ sig_b")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_near_dups_lsh(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_bands: int = 8,
    bits_per_band: int = 8,
    dim: int = 64,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """→ (vec_a, vec_b, cosine): near-dup pairs via LSH bucketing — the
    PRODUCTION path (the brute-force variant below is its recall oracle
    at test scale; round-2 verdict flagged the crossJoin as the
    registered entry).

    Exact-duplicate vectors collapse to one representative BEFORE
    keying (star edges re-expand them, see below); the surviving
    vectors shuffle once on their (band, bucket) key; candidates are
    same-bucket pairs only, deduped across bands before the single
    cosine each pays — never an all-pairs join.  For true duplicates
    (cosine → 1) every hyperplane agrees, so every band collides and
    recall is 1 by construction; recall at looser thresholds follows
    the 1−(1−p^bits)^bands amplification curve (similarity.lsh_topk's
    scale contract: grow ``bits_per_band`` ≈ log2(n/bucket) with corpus
    size, recover recall by raising ``n_bands``, cap skew with
    ``max_bucket``).
    """
    from .similarity import _cosine, lsh_band_keys, make_planes

    # collapse exact-duplicate VECTORS first, same pipeline order as the
    # text dedup family: an identical-embedding cluster larger than
    # ``max_bucket`` fills every one of its (band, bucket) cells past
    # the cap in ALL bands at once, so without the collapse the cap
    # would silently drop the whole cluster — the exact boilerplate
    # shape dedup exists to catch.  The rep map is a map-side-
    # combinable groupBy on the embedding VALUE (both engines group on
    # exact doubles — no string formatting) and membership a join AQE
    # can skew-split — never a window, which would force a mega-cluster
    # into one task (see exact_members).  Star edges (rep → member,
    # cosine 1 by definition) re-expand the verdict linearly.
    e = embeddings.select("vec_id", "embedding")
    # the rep map IS the reps table (min vec_id + its group-key
    # embedding — identical rows to the former join-back + filter,
    # r06): one map-side-combinable groupBy, materialized once because
    # it feeds the keying UDF, BOTH cosine sides, and the star join
    # (the triangle_count lesson)
    rep_map = materialize(e.groupBy("embedding").agg(F.min("vec_id").alias("rep_id")))
    reps = rep_map.select(F.col("rep_id").alias("vec_id"), "embedding")
    star = (
        e.join(rep_map, "embedding")
        .filter(F.col("vec_id") != F.col("rep_id"))
        .select(
            F.col("rep_id").alias("vec_a"),
            F.col("vec_id").alias("vec_b"),
            F.lit(1.0).alias("cosine"),
        )
    )

    planes = make_planes(dim, n_bands * bits_per_band, seed)
    keys = materialize(
        lsh_band_keys(reps, planes, n_bands, bits_per_band).select(
            "vec_id", "band", "bucket"
        )
    )
    if max_bucket is not None:
        keys = _cap_buckets(keys, ["band", "bucket"], max_bucket)

    cand = (
        keys.alias("a")
        .join(keys.alias("b"), ["band", "bucket"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    e_a = reps.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("e_a"))
    e_b = reps.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("e_b"))
    near = (
        cand.join(e_a, "vec_a")
        .join(e_b, "vec_b")
        .withColumn("cosine", _cosine(F.col("e_a"), F.col("e_b")))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )
    # threshold ≤ 1 always admits the exact-dup star edges; a member's
    # near-dups beyond its own cluster are reachable through its rep
    # (the same transitive-component contract as dedup_keep)
    return near.unionByName(star)


def embedding_near_dups(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """→ (vec_a, vec_b, cosine) for pairs with cosine ≥ threshold.

    Brute-force pair join — the TEST-SCALE recall oracle for
    ``embedding_near_dups_lsh`` (which is the registered production
    path). The dot product stays in Catalyst (zip_with + aggregate) —
    no Python.
    """
    def cos(e1, e2):
        dot = F.aggregate(
            F.zip_with(e1, e2, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        n1 = F.sqrt(F.aggregate(e1, F.lit(0.0), lambda a, v: a + v * v))
        n2 = F.sqrt(F.aggregate(e2, F.lit(0.0), lambda a, v: a + v * v))
        return dot / (n1 * n2)

    a = embeddings.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("e_a"))
    b = embeddings.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("e_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", cos(F.col("e_a"), F.col("e_b")))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Span-level duplicated text (the ExactSubstr family, Lee et al. 2021
# "Deduplicating Training Data Makes Language Models Better"): find the
# REGIONS of a doc whose text also appears in other docs, not just
# whole-doc copies.  The paper builds a single-node suffix array; the
# distributed shape here is positional k-grams — a word k-gram occurring
# in >= min_docs distinct docs marks its k word positions as duplicated,
# and maximal runs of duplicated start positions merge into spans.  A
# span of >= k duplicated-gram starts recovers exactly the shared
# substrings of >= k words (every window inside a shared substring is
# shared), so this is the suffix-array answer at k-word resolution,
# with no suffix sorting and no pair enumeration: one distinct on
# (gram, doc), one B-unbounded-but-uniform groupBy(gram), one 1:1
# enrichment join back, one per-doc window.  Hot boilerplate grams
# cost one df row each, never a pair blow-up — linear in gram volume
# at any corpus size.

DUP_SPAN_K = 5  # span resolution: word k-grams (the paper uses 50 BPE tokens)
MIN_DUP_DOCS = 2


def positional_shingle_table(docs: DataFrame, n: int = DUP_SPAN_K) -> DataFrame:
    """→ (doc_id, pos, gram): EVERY word n-gram occurrence with its
    0-based start-word position (no distinct — positions matter here,
    unlike ``shingle_table``).  Docs with fewer than n words emit
    nothing."""
    words = docs.select("doc_id", normalized_words().alias("words"))
    return words.select(
        "doc_id", F.posexplode(word_ngrams(F.col("words"), n)).alias("pos", "gram")
    ).filter(F.length("gram") > 0)


def duplicated_spans(
    docs: DataFrame,
    n: int = DUP_SPAN_K,
    min_docs: int = MIN_DUP_DOCS,
) -> DataFrame:
    """→ (doc_id, start_word, end_word): maximal word spans (0-based,
    inclusive) covered by n-grams that occur in >= ``min_docs``
    DISTINCT docs.  A duplicated gram start p covers words p..p+n-1,
    so two starts belong to the same span whenever their COVERAGE is
    contiguous — gap in starts ≤ n — and a new segment begins only at
    a start gap > n (a gap of 2..n still overlaps/abuts; breaking
    there would emit overlapping spans whose lengths double-count).
    A merged run p1..p2 covers exactly words p1..p2+n-1.  Within-doc
    repetition alone does NOT mark a span (distinct-doc frequency —
    ``repetition_stats`` owns the within-doc signal)."""
    from pyspark.sql import Window

    pg = materialize(positional_shingle_table(docs, n))
    dup_g = (
        pg.select("gram", "doc_id")
        .distinct()
        .groupBy("gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("gram")
    )
    dp = pg.join(dup_g, "gram").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    seg = dp.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w) > n, F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn("seg_id", F.sum("brk").over(w))
    return seg.groupBy("doc_id", "seg_id").agg(
        F.min("pos").cast("long").alias("start_word"),
        (F.max("pos") + F.lit(n - 1)).cast("long").alias("end_word"),
    ).select("doc_id", "start_word", "end_word")


def dup_span_stats(
    docs: DataFrame,
    n: int = DUP_SPAN_K,
    min_docs: int = MIN_DUP_DOCS,
) -> DataFrame:
    """→ (doc_id, n_spans, dup_words, total_words, dup_word_frac): one
    row per input doc (zero-filled when nothing is duplicated) — the
    per-doc verdict a span-dedup pass gates on (e.g. drop or trim docs
    whose dup_word_frac exceeds a budget)."""
    spans = duplicated_spans(docs, n, min_docs)
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.col("end_word") - F.col("start_word") + 1)
        .cast("long")
        .alias("dup_words"),
    )
    totals = docs.select("doc_id", word_count().alias("total_words"))
    return totals.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("dup_words", F.lit(0)).cast("long").alias("dup_words"),
        "total_words",
        F.round(
            F.coalesce("dup_words", F.lit(0))
            / F.greatest("total_words", F.lit(1)),
            6,
        ).alias("dup_word_frac"),
    )


# ---------------------------------------------------------------------------
# Per-host boilerplate line removal (the CCNet / RefinedWeb "strip the
# nav bars, cookie banners and footers" stage, Wenzek et al. 2019 §4.1,
# Penedo et al. 2023 §3.2): a line whose normalized form appears in a
# large enough FRACTION of a single source's documents is template
# chrome, not content — remove it from every page of that source and
# reassemble the remaining lines in order.  Cross-doc but host-local:
# all keys carry the source, so nothing ever aggregates across hosts.
#
# Scale shape: one posexplode (narrow), one map-side-combinable
# count-distinct groupBy on the uniform (source, line) key, a
# sources-bounded doc-count broadcast, one enrichment join of the line
# stream against the flagged set on the same (source, line) key, one
# groupBy(doc_id) reassembly.  A nav line repeated on 10^9 pages of one
# host is ONE group row — no pair enumeration anywhere; linear in line
# volume at any corpus size.  The threshold test is pure integer
# arithmetic (100·line_docs >= pct·src_docs) — oracle-exact.

BOILER_MIN_DOCS = 2
BOILER_PCT = 25  # a line in >= 25% of a source's docs is boilerplate


def normalized_line(col):
    """per-LINE whitespace normalization (trim + collapse) — the line
    analog of ``normalized_text``; mirrored in the c4/boilerplate
    oracles."""
    return F.regexp_replace(F.trim(col), r"\s+", " ")


def host_boilerplate_stats(
    docs: DataFrame,
    min_docs: int = BOILER_MIN_DOCS,
    pct: int = BOILER_PCT,
) -> DataFrame:
    """→ (doc_id, source, n_lines, n_boiler, boiler_frac, cleaned):
    per doc, total line count, the number of lines flagged as source
    boilerplate (normalized line present in >= ``min_docs`` distinct
    docs AND >= ``pct``% of the source's docs), their fraction
    (rounded 6 dp), and the page text reassembled from the KEPT lines
    in original order.  Empty normalized lines are never flagged (every
    page has them; they carry no template signal) but count in
    ``n_lines``.  Input needs (doc_id, source, text).

    The exploded line stream feeds both the count and the reassembly —
    materialized once."""
    # coalesce: a null-text doc must still emit its (empty-line) row —
    # split(NULL) explodes to nothing, which would both drop the doc
    # from the output AND leave it inflating the src_docs denominator
    lines = materialize(
        docs.select(
            "doc_id",
            "source",
            F.posexplode(
                F.split(F.coalesce(F.col("text"), F.lit("")), "\n")
            ).alias("pos", "raw"),
        ).select(
            "doc_id", "source", "pos", normalized_line(F.col("raw")).alias("line")
        )
    )
    src_docs = docs.groupBy("source").agg(
        F.countDistinct("doc_id").alias("src_docs")
    )
    boiler = (
        lines.filter(F.length("line") > 0)
        .groupBy("source", "line")
        .agg(F.countDistinct("doc_id").alias("line_docs"))
        .join(F.broadcast(src_docs), "source")
        .filter(
            (F.col("line_docs") >= min_docs)
            & (F.col("line_docs") * 100 >= F.col("src_docs") * pct)
        )
        .select("source", "line", F.lit(True).alias("boiler"))
    )
    flagged = lines.join(boiler, ["source", "line"], "left").select(
        "doc_id",
        "source",
        "pos",
        "line",
        F.coalesce("boiler", F.lit(False)).alias("boiler"),
    )
    per_doc = flagged.groupBy("doc_id", "source").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.col("boiler").cast("long")).cast("long").alias("n_boiler"),
        # when() without otherwise -> null for boiler lines, which
        # collect_list drops
        F.collect_list(
            F.when(~F.col("boiler"), F.struct("pos", "line"))
        ).alias("kept"),
    )
    return per_doc.select(
        "doc_id",
        "source",
        "n_lines",
        "n_boiler",
        F.round(F.col("n_boiler") / F.col("n_lines"), 6).alias("boiler_frac"),
        join_in_order(F.col("kept"), "line", "\n").alias("cleaned"),
    )


def remove_duplicated_spans(
    docs: DataFrame,
    n: int = DUP_SPAN_K,
    min_docs: int = MIN_DUP_DOCS,
) -> DataFrame:
    """→ (doc_id, total_words, removed_words, cleaned): the REMOVE half
    of ExactSubstr dedup (Lee et al. 2021 drop the shared substring
    from all but one copy; the engine policy here is the simpler
    symmetric one — drop every duplicated span everywhere, the
    "train on unique text only" variant).  Words whose 0-based
    position falls inside any ``duplicated_spans`` span are cut; the
    survivors reassemble in order.

    Shape: positional word explode (narrow) + one LEFT ANTI join
    against the span table on (doc_id, pos ∈ [start, end]) — a hash
    join on doc_id with a residual range predicate, spans-per-doc
    bounded — + one groupBy(doc_id) reassembly.  Linear; no pair
    enumeration anywhere (the span table itself is the linear
    dedup_spans shape)."""
    spans = duplicated_spans(docs, n, min_docs)
    words = docs.select(
        "doc_id",
        F.posexplode(normalized_words()).alias("pos", "word"),
    ).filter(F.length("word") > 0)
    kept = words.join(
        spans,
        (words["doc_id"] == spans["doc_id"])
        & (words["pos"] >= spans["start_word"])
        & (words["pos"] <= spans["end_word"]),
        "left_anti",
    )
    reassembled = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("kept_words"),
        join_in_order(
            F.collect_list(F.struct("pos", "word")), "word", " "
        ).alias("cleaned"),
    )
    totals = docs.select("doc_id", word_count().alias("total_words"))
    return totals.join(reassembled, "doc_id", "left").select(
        "doc_id",
        "total_words",
        (
            F.col("total_words") - F.coalesce("kept_words", F.lit(0))
        ).cast("long").alias("removed_words"),
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
    )
