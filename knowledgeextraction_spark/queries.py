"""Query registry: every implemented operator as (spark_fn, oracle_sql).

Each entry returns a DataFrame over the driver's parquet tables at
``sf_dir`` (documents/embeddings/events/lineitem/...); the paired
oracle is DuckDB SQL over the same tables (views pre-registered by the
driver). Column names and types are aligned on both sides; every hash
is md5-based so results are bit-reproducible across engines.

Entries without an oracle (the model-based KG stages) are registered in
``NON_SQL_QUERIES`` — the driver records a rows-only check for those;
their real correctness gate is tests/test_spark_pipeline.py's exact
oracle parity.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .broadcast import weights_broadcast
from .materialize import local_frame, materialize, sorted_output
from .operators import dedup, selection, similarity, textstats
from .operators.conlleval import conll_eval
from .operators.segment import packed_records, sentence_table
from .sources import pages as pages_src

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the sf≤0.1 documents table is one small parquet file → a 1-partition
    # scan, which serializes every narrow stage (shingling, hashing,
    # stats) onto one core.  Repartition to the session parallelism —
    # at production scale the scan has thousands of file-splits and this
    # exchange disappears (shuffling ~10 MB here stands in for that).
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cast float32 → double so dot products are bit-comparable with the
    # DuckDB oracle (both engines then accumulate in float64);
    # repartition for the same 1-partition-small-file reason as _docs
    # (the narrow plane-projection stage otherwise runs on one core)
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )


# the ONE replica-id offset: planted duplicate replicas (documents and
# embeddings) get original_id + this, and every consumer that needs to
# tell originals from replicas (streaming batch boundaries, fixture
# assertions) compares against the SAME constant — a diverging copy of
# this number would silently break the keeper-arrival ordering contract
REPLICA_ID_OFFSET = 1_000_000


def _docs_with_replicas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ deterministic replicas of every 10th doc (dup seeds)."""
    d = _docs(spark, sf_dir)
    reps = d.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(REPLICA_ID_OFFSET)
    )
    return d.unionByName(reps)


_DOCS_REPL_SQL = (
    "(SELECT * FROM documents UNION ALL "
    f"SELECT doc_id + {REPLICA_ID_OFFSET} AS doc_id, text, lang, source, n_chars "
    "FROM documents WHERE doc_id % 10 = 0)"
)

# the ONE normalized-text / content-hash convention, shared by every
# oracle that hashes or tokenizes document content (dedup exact/minhash
# prep, streaming dedup, the rep window) — mirrors
# operators/dedup.normalized_text so the convention cannot silently
# diverge between engines or between oracles (CLAUDE.md invariant)
_NORM_TEXT_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_CONTENT_HASH_SQL = f"md5({_NORM_TEXT_SQL})"
# the ONE word-count convention ('' splits to [''], size 1 — counted 0);
# mirrors operators/dedup.word_count
_WORD_COUNT_SQL = (
    f"CASE WHEN length({_NORM_TEXT_SQL}) = 0 THEN 0 "
    f"ELSE len(string_split({_NORM_TEXT_SQL}, ' ')) END"
)

# doc-world sentence delimiters (word_mapping maps 'a'→'，', 'the'→'。')
_DOC_DELIMS = "，。"


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pages_src.pages_from_documents(spark, sf_dir)


def _extracted_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages → (url, text, lang) THROUGH the html render/extract
    round-trip (exercises the byte-identity invariant on driver data)."""
    from .operators.extract import extracted_text

    return _pages(spark, sf_dir).select(
        "url", extracted_text("html").alias("text"), "lang"
    )


def _doc_pipeline(spark: SparkSession, out_dir: str | None = None):
    """The doc-world ``KGPipeline``: every KG query runs its stages —
    the same language gate, repartition width, fused detect stage and
    driver-resolved dictionary and component map as the deployed
    pipeline."""
    from .pipeline import KGPipeline

    return KGPipeline(
        spark,
        entities=pages_src.entities_df(spark),
        rules=pages_src.rules_df(spark),
        equivalences=pages_src.equivalences_df(spark, pages_src.doc_equivalences()),
        out_dir=out_dir,
    )


_EXTRACT_SQL_BODY = (
    f"SELECT {pages_src.URL_SQL} AS url, "
    f"{{translit}} AS text, lang FROM documents"
)


def _extract_sql() -> str:
    return _EXTRACT_SQL_BODY.format(translit=pages_src.translit_sql("text"))


# ---------------------------------------------------------------------------
# KG pipeline queries (documents-derived pages world)
# ---------------------------------------------------------------------------


def q_kg_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16: html→text, byte-identical per url (render∘extract == translit)."""
    return _extracted_pages(spark, sf_dir).select("url", "text")


def sql_kg_extract_text() -> str:
    return f"SELECT url, text FROM ({_extract_sql()}) t"


def q_kg_lang_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: language gate counts."""
    return (
        _pages(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("n_pages"))
        .orderBy("lang")
    )


def sql_kg_lang_gate() -> str:
    return "SELECT lang, count(*) AS n_pages FROM documents GROUP BY lang ORDER BY lang"


def q_kg_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: sentence segmentation of zh pages (url, sent_id, sentence)."""
    zh = _extracted_pages(spark, sf_dir).filter(F.col("lang") == "zh")
    return sentence_table(zh).withColumn("sent_id", F.col("sent_id").cast("long"))


def sql_kg_sentences() -> str:
    # doc-world text has only ，。 delimiters, no quotes, no whitespace —
    # for this input class to_sentences == maximal [^D]*D | trailing runs
    return f"""
SELECT url,
       generate_subscripts(sents, 1) - 1 AS sent_id,
       unnest(sents) AS sentence
FROM (
  SELECT url,
         regexp_extract_all(text, '[^{_DOC_DELIMS}]*[{_DOC_DELIMS}]|[^{_DOC_DELIMS}]+$') AS sents
  FROM ({_extract_sql()}) t WHERE lang = 'zh'
) s
"""


def q_kg_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: greedy packing. Doc-world texts are < 382 chars, so each
    non-empty zh page packs to exactly one record — which the SQL oracle
    can express; the Spark side still runs the real packer."""
    zh = _extracted_pages(spark, sf_dir).filter(F.col("lang") == "zh")
    return packed_records(zh).withColumn("rec_id", F.col("rec_id").cast("long"))


def sql_kg_records() -> str:
    return (
        f"SELECT url, 0::BIGINT AS rec_id, text FROM ({_extract_sql()}) t "
        "WHERE lang = 'zh' AND length(text) > 0"
    )


def q_kg_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10: connected components over the dictionary's equivalence edges."""
    from .operators.canonicalize import surface_components
    from .operators.link import surface_dictionary

    eq = pages_src.equivalences_df(spark, pages_src.doc_equivalences())
    dic = surface_dictionary(pages_src.entities_df(spark))
    return sorted_output(surface_components(eq, dic), "surface")


def sql_kg_components() -> str:
    entities, _ = pages_src.dictionary()
    surf_rows = []
    for e in entities:
        for s in [e.canonical_name, *e.aliases]:
            surf_rows.append(f"('{s}', {e.entity_id})")
    edge_rows = [
        f"('{a}', '{b}')" for a, b in pages_src.doc_equivalences()
    ] or ["(NULL, NULL)"]
    return f"""
WITH RECURSIVE surfaces(surface, entity_id) AS (VALUES {', '.join(surf_rows)}),
eq(a, b) AS (VALUES {', '.join(edge_rows)}),
edges AS (
  SELECT sa.entity_id AS src, sb.entity_id AS dst
  FROM eq JOIN surfaces sa ON eq.a = sa.surface
          JOIN surfaces sb ON eq.b = sb.surface
),
sym AS (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
  UNION SELECT src, src FROM edges UNION SELECT dst, dst FROM edges
),
reach(a, b) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
),
comp AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a)
SELECT s.surface,
       CAST(coalesce(c.component, s.entity_id) AS BIGINT) AS component_id
FROM surfaces s LEFT JOIN comp c ON s.entity_id = c.id
ORDER BY s.surface
"""


def q_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+M2 mention detection: the fused detect stage, one row per
    mention (model-based → rows-only check here; exact parity is
    pytest's oracle gate)."""
    pipe = _doc_pipeline(spark)
    return pipe.mentions(pipe.records(_pages(spark, sf_dir)))


def q_kg_linked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 entity linking of detected mentions."""
    pipe = _doc_pipeline(spark)
    return pipe.linked(pipe.mentions(pipe.records(_pages(spark, sf_dir))))


def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8/M9/M10: the flagship — canonicalized (subj, pred, obj) triples.

    Uses the fused narrow plan (ARCHITECTURE.md §1): scan → one fused
    detect mapInPandas → in-array pairing → broadcast joins → distinct —
    KGPipeline's own triples stage, with its driver-resolved dimension
    tables; its parity with the numpy oracle is asserted in
    tests/test_spark_pipeline.py."""
    pipe = _doc_pipeline(spark)
    return pipe.triples(pipe.records(_pages(spark, sf_dir)))


def q_mrc_answers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4/M5 end-to-end: MRC span extraction over doc-world pages —
    per (zh page, entity type), the best answer span from the surrogate
    start/end/cls heads through the squad-v2 n-best assembly
    (mrc_albert.py:82-150, mrc_utils.py:350-464).  Oracle: golden
    parquet from the independent numpy assembly (oracle/mrc.py)."""
    from .broadcast import mrc_weights_broadcast
    from .operators.mrc import mrc_answers

    # materialized once: the examples frame built from this is
    # consumed by THREE branches of the assembly (the candidate kernel
    # input, the answer-text join, and the final left join) — without
    # it the page render+extract chain executes 3×
    zh = materialize(
        _extracted_pages(spark, sf_dir)
        .filter((F.col("lang") == "zh") & (F.length("text") > 0))
        .select("url", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return mrc_answers(zh, mrc_weights_broadcast(spark)).select(
        "url",
        "label_type",
        "answer",
        F.round("prob", 6).alias("prob"),
        F.round("score_diff", 6).alias("score_diff"),
    )


def q_kg_relations_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6→M7 model path: candidate mention pairs → entity-marked NRE
    encodings (albert_encoder.py:49-119) → hierarchical relation head
    (type classifier + per-connective detectors + rel2id mapping — the
    SoftmaxNN surrogate, models.py:31-41).  The rule-based emitter
    (kg_triples) remains the production path; this is the model-scored
    twin.  Oracle: golden parquet from the numpy twin."""
    from .broadcast import nre_weights_broadcast
    from .operators.nre import classify_relations_fused

    rm = _doc_pipeline(spark).records(_pages(spark, sf_dir))
    return sorted_output(
        classify_relations_fused(rm, nre_weights_broadcast(spark)).withColumn(
            "score", F.round("score", 6)
        ),
        "url",
        "rec_id",
        "pair_id",
    )


def q_kg_relations_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-level (multi-instance) NRE aggregation — the reference's
    ``BagAttention`` analog (nremodels/models.py:78; bench
    run_pcnn_attn.py:44-66): per-sentence relation scores pooled over
    the bag of sentences mentioning the same linked (head, tail)
    entity pair.  Attention-shaped pooling (softmax-weighted mean of
    the instance scores) + max-pool + bag size, all in one Catalyst
    groupBy (operators/nre.py:bag_relations).  Oracle: the same
    arithmetic in DuckDB over the kg_relations_scored and kg_linked
    goldens.  ONE detection pass feeds both inputs: the fused
    records+mentions table is persisted and branches into (a) pair
    scoring and (b) mention linking — the encoder never runs twice
    (the linked branch is kg_linked's own plan, so it equals the
    kg_linked golden)."""
    from pyspark import StorageLevel

    from .broadcast import nre_weights_broadcast
    from .operators.nre import bag_relations, classify_relations_fused

    # persisted for the two consumers below; unlike crf_fit (which
    # materializes internally and can unpersist in-query) the result
    # here is lazy, so the cache lives until the caller's
    # clearCache()/session end — same contract as dedup_jaccard's
    # shared shingle table
    pipe = _doc_pipeline(spark)
    rm = pipe.records(_pages(spark, sf_dir)).persist(StorageLevel.MEMORY_AND_DISK)
    scored = classify_relations_fused(
        rm, nre_weights_broadcast(spark)
    ).withColumn("score", F.round("score", 6))
    linked = pipe.linked(pipe.mentions(rm))
    return sorted_output(
        bag_relations(scored, linked)
        .withColumn("bag_score", F.round("bag_score", 6))
        .withColumn("max_score", F.round("max_score", 6)),
        "subj_id",
        "obj_id",
        "predicate",
    )


def sql_kg_relations_bag() -> str:
    from .operators.nre import PAIR_ID_BASE

    return f"""
WITH scored AS ({sql_golden("kg_relations_scored")}),
linked AS ({sql_golden("kg_linked")}),
pairs AS (
  SELECT url, rec_id, predicate, score,
         CAST(pair_id // {PAIR_ID_BASE} AS INT) AS h_start,
         CAST(pair_id % {PAIR_ID_BASE} AS INT) AS t_start
  FROM scored
),
j AS (
  SELECT h.entity_id AS subj_id, t.entity_id AS obj_id, p.predicate, p.score
  FROM pairs p
  JOIN linked h ON p.url = h.url AND p.rec_id = h.rec_id AND p.h_start = h.start_pos
  JOIN linked t ON p.url = t.url AND p.rec_id = t.rec_id AND p.t_start = t.start_pos
)
SELECT subj_id, obj_id, predicate,
       CAST(count(*) AS BIGINT) AS n_sentences,
       round(sum(exp(score) * score) / sum(exp(score)), 6) AS bag_score,
       round(max(score), 6) AS max_score
FROM j GROUP BY subj_id, obj_id, predicate
ORDER BY subj_id, obj_id, predicate
"""


def q_streaming_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 as a driver-gated query: the SAME pages flow through the
    Structured Streaming ingest (streaming/ingest.py — file-drop source,
    fused batch operators in foreachBatch, epoch-keyed exactly-once
    sink) in multi-file micro-batches, and the read-back triples must
    equal the batch pipeline's output — the oracle is the SAME golden
    parquet as kg_triples, so stream == batch == independent numpy
    oracle."""
    import shutil
    import tempfile

    from .streaming.ingest import incremental_triples

    base = os.path.join(
        tempfile.gettempdir(),
        f"sparkkg_stream_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    pages_dir = os.path.join(base, "pages")
    out_dir = os.path.join(base, "out")
    # fresh checkpoint + sink: a reused checkpoint would mark every file
    # processed and replay nothing (exactly-once doing its job)
    shutil.rmtree(base, ignore_errors=True)
    # stage the pages as 4 file drops → 2 micro-batches at 2 files/trigger
    _pages(spark, sf_dir).repartition(4).write.parquet(pages_dir)
    q = incremental_triples(
        spark,
        pages_dir,
        out_dir,
        entities=pages_src.entities_df(spark),
        rules=pages_src.rules_df(spark),
        equivalences=pages_src.equivalences_df(spark, pages_src.doc_equivalences()),
        max_files_per_trigger=2,
    )
    q.awaitTermination()
    return (
        spark.read.parquet(os.path.join(out_dir, "triples"))
        .select("subj_id", "predicate", "obj_id", "url", "rec_id")
        .orderBy("url", "rec_id", "subj_id", "predicate", "obj_id")
    )


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful streaming operator (applyInPandasWithState
    sessionization, streaming/stateful.py) as a driver-gated query:
    events replay as three event-time-ordered file drops, each user's
    open session rides group state across micro-batches, and a session
    row is appended exactly once when a later event closes it.  Oracle:
    the batch sessionize SQL minus each user's final (still-open)
    session — so stream output == batch semantics is the gate, not just
    a pytest property."""
    import shutil
    import tempfile

    from .streaming.stateful import sessionize_stream

    base = os.path.join(
        tempfile.gettempdir(),
        f"sparkkg_sessions_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    in_dir, out_dir, ckpt = (
        os.path.join(base, "in"),
        os.path.join(base, "out"),
        os.path.join(base, "_ckpt"),
    )
    shutil.rmtree(base, ignore_errors=True)

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    t1, t2 = ev.select(
        F.expr("percentile(unix_micros(cast(ts as timestamp)), 0.33)"),
        F.expr("percentile(unix_micros(cast(ts as timestamp)), 0.66)"),
    ).first()
    # three sequential single-file drops in event-time order: the
    # stateful contract needs per-user time order ACROSS micro-batches
    # (within a batch the operator sorts).  The file source orders new
    # files by MODIFICATION TIME (ms granularity) — two fast writes can
    # land in the same millisecond and process in arbitrary order — so
    # each drop's files get an explicit, widely spaced mtime stamp.
    stamped: set[str] = set()
    for i, cond in enumerate(
        [micros <= t1, (micros > t1) & (micros <= t2), micros > t2]
    ):
        ev.filter(cond).coalesce(1).write.mode("append").parquet(in_dir)
        t_stamp = 1_600_000_000 + i * 3600
        for f_name in os.listdir(in_dir):
            p = os.path.join(in_dir, f_name)
            if f_name.endswith(".parquet") and p not in stamped:
                os.utime(p, (t_stamp, t_stamp))
                stamped.add(p)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        sessionize_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).orderBy("user_id", "session_id")


def sql_streaming_sessions() -> str:
    from .queries_relational import sql_sessionize

    body = sql_sessionize().strip().rstrip()
    assert body.endswith("ORDER BY user_id, session_id")
    body = body[: -len("ORDER BY user_id, session_id")]
    return f"""
WITH sessions AS ({body})
SELECT user_id, session_id, n_events, first_event, last_event
FROM sessions
QUALIFY session_id < max(session_id) OVER (PARTITION BY user_id)
ORDER BY user_id, session_id
"""


def _run_replayed_doc_stream(
    spark: SparkSession, sf_dir: str, tag: str, stream_op
) -> DataFrame:
    """Shared streaming-dedup fixture: land documents∪replicas as three
    doc_id-ascending one-file parquet drops (originals in two halves,
    then the planted replicas), replay them one file per micro-batch
    through ``stream_op`` (a streaming DataFrame → DataFrame), sink to
    parquet, and return the read-back output.

    The ascending ranges guarantee every group's globally-minimal
    doc_id arrives no later than any other member — the keeper/rep
    ordering contract of dedup_stream and neardup_stream.  Files are
    mtime-stamped far apart: the file source orders by modification
    time at ms granularity, and two fast writes can collide in one
    millisecond and replay in arbitrary order (same fixture discipline
    as q_streaming_sessions)."""
    import shutil
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(),
        f"sparkkg_{tag}_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    in_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "_checkpoint")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(in_dir)

    d = _docs_with_replicas(spark, sf_dir).select("doc_id", "text")
    n_orig = _docs(spark, sf_dir).count()
    did = F.col("doc_id")
    stamped: set[str] = set()
    for i, cond in enumerate(
        [
            did < n_orig // 2,
            (did >= n_orig // 2) & (did < REPLICA_ID_OFFSET),
            did >= REPLICA_ID_OFFSET,
        ]
    ):
        d.filter(cond).coalesce(1).write.mode("append").parquet(in_dir)
        t_stamp = 1_600_000_000 + i * 3600
        for f_name in os.listdir(in_dir):
            p = os.path.join(in_dir, f_name)
            if f_name.endswith(".parquet") and p not in stamped:
                os.utime(p, (t_stamp, t_stamp))
                stamped.add(p)

    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        stream_op(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup as a driver-gated streaming query
    (streaming/stateful.py:dedup_stream): documents∪replicas replay as
    three doc_id-ascending file drops, each content hash's elected
    keeper rides group state across micro-batches, and every arriving
    doc gets its keep verdict — and the elected keeper id, for
    downstream contract auditing — exactly once.  Oracle: the batch
    window rule keeper = min(doc_id) over content_hash,
    keep ⇔ doc_id = keeper — stream == batch is the gate."""
    from .streaming.stateful import dedup_stream

    return _run_replayed_doc_stream(spark, sf_dir, "sdedup", dedup_stream).orderBy(
        "doc_id"
    )


def sql_streaming_dedup() -> str:
    return f"""
SELECT doc_id,
       {_CONTENT_HASH_SQL} AS content_hash,
       min(doc_id) OVER (
         PARTITION BY {_CONTENT_HASH_SQL}
       ) AS keeper,
       doc_id = min(doc_id) OVER (
         PARTITION BY {_CONTENT_HASH_SQL}
       ) AS keep
FROM {_DOCS_REPL_SQL} d
ORDER BY doc_id
"""


def q_streaming_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental minhash-LSH NEAR-dup dedup as a driver-gated
    streaming query (streaming/stateful.py:neardup_stream): documents∪
    replicas replay as three doc_id-ascending drops; per-band minhash
    signatures are computed narrow on each arriving doc, each
    (band, sig) bucket's representative rides group state across
    micro-batches, and every doc is verdicted against its buckets'
    reps exactly once.  Output is the per-doc fold of the stream's
    (doc_id, band, rep_id) rows: keep ⇔ the doc opened every one of
    its buckets, dup_of = the smallest foreign representative it hit.
    Oracle: the batch LSH bucket rule — rep = min(doc_id) per
    (band, sig) over the same band-signature table the batch
    dedup_minhash oracle builds — which the ascending replay makes the
    stream reproduce exactly."""
    from .streaming.stateful import neardup_stream

    out = _run_replayed_doc_stream(spark, sf_dir, "sneardup", neardup_stream)
    return (
        out.groupBy("doc_id")
        .agg(
            F.bool_and(F.col("rep_id") == F.col("doc_id")).alias("keep"),
            F.min(
                F.when(F.col("rep_id") != F.col("doc_id"), F.col("rep_id"))
            ).alias("dup_of"),
        )
        .orderBy("doc_id")
    )


def sql_streaming_neardup() -> str:
    sh = _SHINGLE_SQL.format(n=dedup.SHINGLE, src=_DOCS_REPL_SQL)
    return f"""
WITH sig AS (
  SELECT doc_id, band, min(md5(concat(band::VARCHAR, ':', shingle))) AS sig
  FROM ({sh}) s CROSS JOIN (SELECT unnest(range({dedup.N_BANDS})) AS band) b
  GROUP BY doc_id, band
),
rep AS (SELECT band, sig, min(doc_id) AS rep_id FROM sig GROUP BY band, sig),
j AS (SELECT s.doc_id, r.rep_id FROM sig s JOIN rep r USING (band, sig))
SELECT doc_id,
       bool_and(rep_id = doc_id) AS keep,
       min(CASE WHEN rep_id <> doc_id THEN rep_id END) AS dup_of
FROM j GROUP BY doc_id ORDER BY doc_id
"""


def q_graph_bucketed_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16 as a driver-gated query: materialize the triples/nodes graph
    tables BUCKETED by entity id (pipeline.write_bucketed_graph_tables,
    the Iceberg bucket(N, id) stand-in), then answer per-entity
    out-degree from the read-back tables — the aggregation and the
    nodes⋈degree join both run on the bucket key, so neither needs an
    exchange (test_bucketed_join asserts the Exchange-free plan).
    Oracle: the same degree computation over the golden kg_triples
    parquet, so the sink round-trip is value-checked end to end."""
    from .pipeline import write_bucketed_graph_tables

    triples = q_kg_triples(spark, sf_dir)
    prefix = f"kgq_{os.path.basename(sf_dir.rstrip('/')).replace('.', '_')}"
    write_bucketed_graph_tables(triples, n_buckets=8, prefix=prefix)
    t = spark.table(f"{prefix}_triples")
    nodes = spark.table(f"{prefix}_nodes")
    deg = t.groupBy("subj_id").agg(F.count("*").alias("deg"))
    return (
        nodes.join(deg, nodes.entity_id == deg.subj_id, "left")
        .select(
            "entity_id",
            F.coalesce("deg", F.lit(0)).cast("long").alias("out_degree"),
        )
        .orderBy("entity_id")
    )


def sql_graph_bucketed_degree() -> str:
    return f"""
WITH t AS ({sql_golden("kg_triples")}),
nodes AS (SELECT subj_id AS entity_id FROM t UNION SELECT obj_id FROM t),
deg AS (SELECT subj_id AS entity_id, count(*) AS d FROM t GROUP BY subj_id)
SELECT n.entity_id, CAST(coalesce(d.d, 0) AS BIGINT) AS out_degree
FROM nodes n LEFT JOIN deg d USING (entity_id) ORDER BY entity_id
"""


def _triple_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct directed (src, dst) entity edges from the live triple
    pipeline, self-loops dropped — the graph the analytics run on."""
    t = q_kg_triples(spark, sf_dir)
    return (
        t.select(F.col("subj_id").alias("src"), F.col("obj_id").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


_EDGES_SQL = (
    "(SELECT DISTINCT subj_id AS src, obj_id AS dst FROM t "
    "WHERE subj_id <> obj_id)"
)


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference graph analytics: damped PageRank over the
    entity graph the pipeline just built (operators/graph.py — fixed
    10-iteration iterative DataFrame joins, lineage cut per round,
    per-round 10-dp quantization of the UNIFORM-NORMALIZED rank —
    uniform = 1.0, probability form = rank/N — which keeps the decimal
    grid scale-free and the values engine-portable).  Runs the FULL
    variant — dangling-node rank mass is summed each round (one scalar
    agg, broadcast back) and redistributed uniformly, conserving total
    mass at N per round (tests/test_graph.py asserts conservation).
    Oracle: the identical unrolled iteration over the golden
    kg_triples parquet, dangling term included."""
    from .operators import graph

    pr = graph.pagerank(_triple_edges(spark, sf_dir), redistribute_dangling=True)
    return (
        pr.select(
            F.col("id").alias("entity_id"), F.round("rank", 6).alias("rank")
        ).orderBy("entity_id")
    )


def sql_graph_pagerank() -> str:
    from .operators import graph

    d = graph.PR_DAMPING
    dp = graph.PR_ROUND_DP
    one_minus_d = repr(1.0 - d)
    # mirror of the redistribute_dangling=True operator: per round, the
    # (rounded) dangling rank sum is cross-joined in and every node
    # receives its dang/N share inside the damped term.  Each pr{k} is
    # referenced TWICE per level (dangling sum + contribution join), so
    # the CTEs must be MATERIALIZED: DuckDB's default CTE inlining
    # would otherwise expand the 10-level chain into 2^10 copies of the
    # base scan (observed: >120s at sf0.001 vs ~0.1s materialized).
    iters = "".join(
        f""",
dg{k} AS MATERIALIZED (
  SELECT round(coalesce(sum(p.rank), 0.0), {dp}) AS dang
  FROM pr{k} p LEFT JOIN outdeg o ON p.id = o.src WHERE o.src IS NULL
),
pr{k + 1} AS MATERIALIZED (
  SELECT n.id,
         round({one_minus_d} + {d!r} * (coalesce(c.s, 0.0) + dg.dang / nn.n),
               {dp}) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS id, sum(p.rank / o.deg) AS s
    FROM edges e JOIN pr{k} p ON e.src = p.id
    JOIN outdeg o ON e.src = o.src
    GROUP BY e.dst
  ) c ON n.id = c.id CROSS JOIN dg{k} dg CROSS JOIN nn
)"""
        for k in range(graph.PR_ITERS)
    )
    return f"""
WITH t AS ({sql_golden("kg_triples")}),
edges AS (SELECT * FROM {_EDGES_SQL}),
nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
outdeg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
pr0 AS MATERIALIZED (SELECT id, 1.0 AS rank FROM nodes){iters}
SELECT id AS entity_id, round(rank, 6) AS rank
FROM pr{graph.PR_ITERS} ORDER BY entity_id
"""


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity triangle participation over the (undirected) entity
    graph — operators/graph.py:triangle_count, the oriented-edge join
    formulation.  Oracle: same three-way join over the golden
    kg_triples parquet."""
    from .operators import graph

    return (
        graph.triangle_count(_triple_edges(spark, sf_dir))
        .select(F.col("id").alias("entity_id"), "triangles")
        .orderBy("entity_id")
    )


def sql_graph_triangles() -> str:
    return f"""
WITH t AS ({sql_golden("kg_triples")}),
dedges AS (SELECT * FROM {_EDGES_SQL}),
und AS (SELECT src, dst FROM dedges UNION SELECT dst, src FROM dedges),
fwd AS (SELECT src, dst FROM und WHERE src < dst),
tri AS (
  SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
  FROM fwd ab JOIN fwd bc ON ab.dst = bc.src
  JOIN fwd ac ON ac.src = ab.src AND ac.dst = bc.dst
),
per AS (
  SELECT id, count(*) AS triangles FROM (
    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
  ) GROUP BY id
),
nodes AS (SELECT src AS id FROM und)
SELECT DISTINCT n.id AS entity_id,
       CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles
FROM nodes n LEFT JOIN per p USING (id) ORDER BY entity_id
"""


def q_pipeline_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 + [NORTH] resumability as a driver-gated query: run the
    materializing pipeline (stage snapshots + one lineage row per
    written file, pipeline.py:_stage/_append_lineage) into a fresh out_dir,
    run it a SECOND time — every stage must resume from its snapshot
    (compute-if-absent) — then read back the ``_lineage`` table and
    report per-stage total row counts.  Lineage rows append only when
    a stage actually COMPUTES, so a recomputing (non-resuming) second
    run would double every count; equality against the independent
    per-stage oracles (records SQL + the mentions/linked/triples
    goldens) therefore gates the lineage row counts AND the resume
    path in one green row."""
    import shutil
    import tempfile

    out = os.path.join(
        tempfile.gettempdir(),
        f"sparkkg_lineage_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(out, ignore_errors=True)
    pipe = _doc_pipeline(spark, out_dir=out)
    pages = _pages(spark, sf_dir)
    pipe.run(pages)
    pipe.run(pages)  # must resume every stage — no new lineage rows
    lineage = spark.read.parquet(os.path.join(out, "_lineage"))
    return (
        lineage.groupBy("stage")
        .agg(F.sum("count").cast("long").alias("n_rows"))
        .orderBy("stage")
    )


def sql_pipeline_lineage() -> str:
    return f"""
SELECT stage, CAST(n_rows AS BIGINT) AS n_rows FROM (
  SELECT 'records' AS stage, count(*) AS n_rows FROM ({sql_kg_records()})
  UNION ALL
  SELECT 'mentions', count(*) FROM ({sql_golden("kg_mentions")})
  UNION ALL
  SELECT 'linked', count(*) FROM ({sql_golden("kg_linked")})
  UNION ALL
  SELECT 'triples', count(*) FROM ({sql_golden("kg_triples")})
) ORDER BY stage
"""


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference graph analytics: 2-core membership of the
    entity graph the pipeline just built (operators/graph.py:
    kcore_members — iterative distributed peeling: per-round degree
    groupBy + two left-semi joins, survivor-count fixpoint probe,
    lineage cut per round; no pair enumeration, linear in E at any
    degree distribution).  The 2-core is the standard noise filter on
    extraction graphs: entities that survive have at least two
    independent relation anchors after the peeling cascade, pendant
    chains hanging off the core peel away layer by layer.  Oracle: the
    identical peeling unrolled to the same KCORE_MAX_ROUNDS cap over
    the golden kg_triples parquet, so the contract is exact even for a
    graph still peeling at the cap."""
    from .operators import graph

    m = graph.kcore_members(_triple_edges(spark, sf_dir))
    return (
        m.select(F.col("id").alias("entity_id"), "in_core")
        .orderBy("entity_id")
    )


def kcore_peel_sql(k: int, rounds: int) -> str:
    """The unrolled peel CTE chain shared by the registered oracle and
    the operator's pytest (so the test always exercises the REGISTERED
    SQL shape, not a private copy).  Expects an ``e0(src, dst)``
    symmetric self-loop-free edge CTE in scope; defines k1..k{rounds}
    (survivor sets) and e1..e{rounds} (surviving edges).  e{r}: edge
    set after r peels; k{r}: nodes with degree >= k in e{r-1}.  Each
    level references its predecessor multiple times -> MATERIALIZED,
    same reason as the pagerank oracle (default CTE inlining goes
    exponential in depth)."""
    return "".join(
        f""",
k{r} AS MATERIALIZED (
  SELECT src AS id FROM e{r - 1} GROUP BY src HAVING count(*) >= {k}
),
e{r} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{r - 1} e
  JOIN k{r} a ON e.src = a.id JOIN k{r} b ON e.dst = b.id
)"""
        for r in range(1, rounds + 1)
    )


def sql_graph_kcore() -> str:
    from .operators import graph

    levels = kcore_peel_sql(graph.KCORE_K, graph.KCORE_MAX_ROUNDS)
    return f"""
WITH t AS ({sql_golden("kg_triples")}),
dedges AS (SELECT * FROM {_EDGES_SQL}),
e0 AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst FROM dedges UNION SELECT dst, src FROM dedges
  ) WHERE src <> dst
),
nodes AS (SELECT DISTINCT src AS id FROM e0){levels}
SELECT n.id AS entity_id, c.id IS NOT NULL AS in_core
FROM nodes n LEFT JOIN k{graph.KCORE_MAX_ROUNDS} c ON n.id = c.id
ORDER BY entity_id
"""


def q_graph_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop reachability counts over the entity graph via merged
    K-minimum-values sketches (operators/graph.py:kmv_reach_counts —
    the ANF/HyperBall shape: per-node state capped at K+1 md5 hashes,
    merged along edges per hop, so no exact hub-quadratic (src, dst)
    pair set is ever materialized).  Sketches below capacity are exact,
    so at oracle scale the values equal the exact BFS-by-join
    (khop_counts, kept as the pytest oracle); the estimate branch is
    engine-portable by construction and the DuckDB oracle mirrors the
    full sketch computation, estimate branch included."""
    from .operators import graph

    return (
        graph.kmv_reach_counts(_triple_edges(spark, sf_dir), k=2)
        .select(F.col("id").alias("entity_id"), "reach")
        .orderBy("entity_id")
    )


def kmv_khop_tail_sql(kk: int) -> str:
    """DuckDB mirror of operators/graph.py:kmv_reach_counts (k=2
    unrolled), as the tail of a WITH chain expecting an ``edges`` CTE:
    K+1-capacity KMV sketches over md5(id), one merge hop, self-hash
    dropped, exact count below capacity / deterministic (K-1)/r_K
    estimate at it.  Exposed so tests can run the estimate branch on a
    literal edge list with small K against the Spark operator."""
    cap = kk + 1
    numer = (kk - 1) * (1 << 52)
    return f"""nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
h AS (SELECT id, md5(CAST(id AS VARCHAR)) AS hv FROM nodes),
s1 AS (
  SELECT id, hv FROM (
    SELECT e.src AS id, nh.hv,
           row_number() OVER (PARTITION BY e.src ORDER BY nh.hv) AS rn
    FROM edges e JOIN h nh ON nh.id = e.dst
  ) WHERE rn <= {cap}
),
u2 AS (
  SELECT id, hv FROM s1
  UNION
  SELECT e.src AS id, s.hv FROM edges e JOIN s1 s ON s.id = e.dst
),
s2 AS (
  SELECT id, hv FROM (
    SELECT id, hv, row_number() OVER (PARTITION BY id ORDER BY hv) AS rn
    FROM u2
  ) WHERE rn <= {cap}
),
sz AS (SELECT id, count(*) AS n_all FROM s2 GROUP BY id),
kept AS (
  SELECT id, hv FROM (
    SELECT s2.id, s2.hv,
           row_number() OVER (PARTITION BY s2.id ORDER BY s2.hv) AS rn
    FROM s2 JOIN h ON h.id = s2.id AND s2.hv <> h.hv
  ) WHERE rn <= {kk}
),
agg AS (SELECT id, count(*) AS n_kept, max(hv) AS kth FROM kept GROUP BY id),
fin AS (
  SELECT a.id,
         CASE WHEN sz.n_all >= {cap}
              THEN CAST(floor(CAST({numer} AS DOUBLE) /
                   CAST(greatest(('0x' || substr(a.kth, 1, 13))::BIGINT, 1)
                        AS DOUBLE)) AS BIGINT)
              ELSE a.n_kept END AS reach
  FROM agg a JOIN sz USING (id)
)
SELECT n.id AS entity_id, CAST(coalesce(f.reach, 0) AS BIGINT) AS reach
FROM nodes n LEFT JOIN fin f USING (id) ORDER BY entity_id
"""


def sql_graph_khop() -> str:
    from .operators import graph

    return f"""
WITH t AS ({sql_golden("kg_triples")}),
edges AS (SELECT * FROM {_EDGES_SQL}),
{kmv_khop_tail_sql(graph.KMV_K)}
"""


def q_crf_fit_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17/W8 analog as a driver query: distributed closed-form training
    of the CRF projection (operators/fit.py) on weak dictionary
    supervision derived from the doc world — surfaces found by exact
    match become gold spans, two narrow distributed passes accumulate
    the Gram partials, and the W8 election solves one fit per λ and
    keeps the best dev masked accuracy.  Output: training metadata rows
    (per-label masked-position counts + elected λ + dev accuracy).
    Oracle: golden parquet from the INDEPENDENT single-pass numpy fit
    (oracle/fit.py — the kg_mentions pattern); the fit path encodes in
    float64 (encode_hidden64) precisely so the two fits agree to
    round-to-6 bit-stability.  tests/test_fit_distributed.py adds the
    single-node float32 trainer parity gate.  Scale: the shuffled
    payload is #partitions × [930, 930] float64 partials — independent
    of corpus size."""
    import re as _re

    from .core.labels import LABELS
    from .operators.fit import TRAIN_SCHEMA, fit_select_l2, weak_label_surfaces

    pattern, label_of = weak_label_surfaces()

    records = q_kg_records(spark, sf_dir).select("text")

    def weak_label(batches):
        import pandas as pd

        rx = _re.compile(pattern)
        for pdf in batches:
            ents = [
                [
                    {"label": label_of[m.group(0)], "start": m.start(), "end": m.end()}
                    for m in rx.finditer(t or "")
                ]
                for t in pdf["text"]
            ]
            yield pd.DataFrame({"text": pdf["text"], "ents": ents})

    from pyspark import StorageLevel

    # persisted: the fit runs several distributed passes (freq, gram
    # partials, per-λ dev scoring) over the same weak-labeled records —
    # without the persist each pass replays extract→pack→regex-label
    train_all = (
        records.mapInPandas(weak_label, TRAIN_SCHEMA)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        # deterministic 80/20 train/dev split on a text hash
        bucket = F.pmod(
            F.conv(F.substring(F.md5("text"), 1, 2), 16, 10).cast("int"), F.lit(5)
        )
        train = train_all.filter(bucket != 0)
        dev = train_all.filter(bucket == 0)

        from .operators.fit import label_frequencies

        freq = label_frequencies(train)  # one pass, shared with the fit
        best_l2, best_acc, _pw, _pb, _accs = fit_select_l2(
            train, dev, weights_broadcast(spark), l2_grid=(1e-3, 1e-2, 1e-1), freq=freq
        )
    finally:
        # ADVICE r3: don't leave the weak-labeled records cached for the
        # rest of an oracle-sweep session
        train_all.unpersist()
    rows = [(f"freq_{lab}", float(freq[i])) for i, lab in enumerate(LABELS)]
    rows += [("best_l2", float(best_l2)), ("dev_masked_accuracy", round(float(best_acc), 6))]
    return local_frame(spark, rows, "metric string, value double").orderBy("metric")


def q_dirty_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: dirty-JSON-line cleaner (crf_gen_taggers.py:140-143 slices
    each line to [find('{'), rfind('}')+1] before json.loads).  The
    dirty lines are constructed deterministically from documents (noise
    prefix/suffix around a JSON payload), then cleaned with
    regexp_extract('\\{.*\\}') — the greedy match IS the
    find/rfind slice — and parsed with from_json."""
    dirty = _docs(spark, sf_dir).select(
        F.concat(
            F.lit(">>log noise "),
            F.to_json(F.struct("doc_id", "lang", "n_chars")),
            F.lit(" ##trailer"),
        ).alias("line")
    )
    cleaned = F.regexp_extract("line", r"\{.*\}", 0)
    parsed = F.from_json(
        cleaned, "doc_id bigint, lang string, n_chars bigint"
    ).alias("j")
    return (
        dirty.select(parsed)
        .select(
            F.col("j.doc_id").alias("doc_id"),
            F.col("j.lang").alias("lang"),
            F.col("j.n_chars").alias("n_chars"),
        )
        .orderBy("doc_id")
    )


def sql_dirty_json() -> str:
    return """
WITH dirty AS (
  SELECT concat('>>log noise ',
                to_json(struct_pack(doc_id := doc_id, lang := lang,
                                    n_chars := n_chars)),
                ' ##trailer') AS line
  FROM documents
),
cleaned AS (SELECT regexp_extract(line, '\\{.*\\}', 0) AS j FROM dirty)
SELECT CAST(json_extract_string(j, '$.doc_id') AS BIGINT) AS doc_id,
       json_extract_string(j, '$.lang') AS lang,
       CAST(json_extract_string(j, '$.n_chars') AS BIGINT) AS n_chars
FROM cleaned ORDER BY doc_id
"""


def q_squad_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: SQuAD-style nested-JSON source (mrc_utils.py:466-526).

    Writes a deterministic SQuAD-shaped JSONL corpus derived from the
    documents table, reads it back with ``spark.read.json`` under an
    explicit nested schema, and flattens (paragraph, qa) → examples via
    ``explode(qas)``.  The oracle recomputes the flattened output
    directly from ``documents``, so any write/read/flatten divergence
    in the nested path fails the row hash."""
    import tempfile

    from .sources.squad import read_squad_examples, write_squad_jsonl

    path = os.path.join(
        tempfile.gettempdir(), f"sparkkg_squad_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    write_squad_jsonl(spark, sf_dir, path)
    return read_squad_examples(spark, path).orderBy("qas_id")


def sql_squad_read() -> str:
    return """
WITH words AS (
  SELECT doc_id, trim(text) AS context,
         string_split(trim(text), ' ') AS w
  FROM documents
),
flat AS (
  SELECT concat('q', doc_id, '_first') AS qas_id,
         'first word' AS question,
         w[1] AS answer_text,
         0::BIGINT AS answer_start,
         FALSE AS is_impossible,
         context
  FROM words
  UNION ALL
  SELECT concat('q', doc_id, '_fifth'),
         'fifth word',
         CASE WHEN len(w) >= 5 THEN w[5] ELSE '' END,
         CASE WHEN len(w) >= 5
              THEN (length(array_to_string(w[1:4], ' ')) + 1)::BIGINT
              ELSE (-1)::BIGINT END,
         len(w) < 5,
         context
  FROM words
)
SELECT qas_id, question, answer_text, answer_start, is_impossible,
       CASE WHEN is_impossible THEN TRUE
            ELSE substr(context, answer_start::INT + 1, length(answer_text))
                 = answer_text END AS answer_ok
FROM flat ORDER BY qas_id
"""


# ---------------------------------------------------------------------------
# dedup queries
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sorted_output(
        dedup.exact_duplicates(_docs_with_replicas(spark, sf_dir)),
        "content_hash",
    )


def sql_dedup_exact() -> str:
    return f"""
SELECT content_hash, count(*) AS n_dups, min(doc_id) AS keep_doc_id
FROM (SELECT doc_id,
             {_CONTENT_HASH_SQL} AS content_hash
      FROM {_DOCS_REPL_SQL} d) h
GROUP BY content_hash HAVING count(*) >= 2 ORDER BY content_hash
"""


_SHINGLE_SQL = """
SELECT doc_id, shingle FROM (
  SELECT doc_id, unnest(list_distinct(sh)) AS shingle FROM (
    SELECT doc_id,
           [array_to_string(words[i:i+{n}-1], ' ')
            for i in range(1, greatest(len(words) - {n} + 1, 1) + 1)] AS sh
    FROM (SELECT doc_id,
                 string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS words
          FROM {src} d) w
  ) u
) s WHERE length(shingle) > 0
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sorted_output(
        dedup.minhash_signatures(_docs(spark, sf_dir)).withColumn(
            "band", F.col("band").cast("long")
        ),
        "doc_id",
        "band",
    )


def sql_dedup_minhash() -> str:
    sh = _SHINGLE_SQL.format(n=dedup.SHINGLE, src="documents")
    return f"""
SELECT doc_id, band, min(md5(concat(band::VARCHAR, ':', shingle))) AS sig
FROM ({sh}) s CROSS JOIN (SELECT unnest(range({dedup.N_BANDS})) AS band) b
GROUP BY doc_id, band ORDER BY doc_id, band
"""


# exact-dup representatives of documents ∪ replicas: one doc (min
# doc_id) per normalized-content hash — the standard pipeline order
# collapses exact duplicates BEFORE shingling/minhash, so a cluster of
# m identical pages contributes 1 doc to the candidate join, not m docs
# sharing every band bucket (r3 verdict #1: the m² candidate blow-up)
# the ONE normalized-content rep window (shared by _REPS_SQL and
# sql_dedup_keep's memb CTE so the normalization convention cannot
# silently diverge between the candidate stage and the exact edges)
_REP_WINDOW_SQL = (
    f"min(doc_id) OVER (PARTITION BY {_CONTENT_HASH_SQL}) AS rep_id"
)

_REPS_SQL = f"""(
  SELECT doc_id, text FROM (
    SELECT doc_id, text, {_REP_WINDOW_SQL}
    FROM {_DOCS_REPL_SQL} d
  ) r WHERE doc_id = rep_id
)"""

# mirror of dedup.MAX_BUCKET for the oracle: drop oversized (band, sig)
# buckets before the candidate self-join (never triggers at test scale,
# but the oracle must carry the same semantics as the Spark cap)
_LSH_CAP_SQL = f"""
bsize AS (SELECT band, sig, count(*) AS n FROM sig GROUP BY band, sig),
sigc AS (
  SELECT s.* FROM sig s JOIN bsize USING (band, sig) WHERE bsize.n <= {dedup.MAX_BUCKET}
)"""


def q_dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash-LSH candidate pairs among exact-dup REPRESENTATIVES —
    exact duplicates are collapsed first (dedup.collapse_exact), so the
    bucket join is linear in cluster size; the ``max_bucket`` cap
    guards the remaining near-dup mega-buckets (r3 verdict item 1)."""
    reps, _members = dedup.collapse_exact(_docs_with_replicas(spark, sf_dir))
    return sorted_output(dedup.lsh_candidate_pairs(reps), "doc_a", "doc_b")


def sql_dedup_lsh_pairs() -> str:
    sh = _SHINGLE_SQL.format(n=dedup.SHINGLE, src=_REPS_SQL)
    return f"""
WITH sig AS (
  SELECT doc_id, band, min(md5(concat(band::VARCHAR, ':', shingle))) AS sig
  FROM ({sh}) s CROSS JOIN (SELECT unnest(range({dedup.N_BANDS})) AS band) b
  GROUP BY doc_id, band
),{_LSH_CAP_SQL}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM sigc a JOIN sigc b ON a.band = b.band AND a.sig = b.sig
WHERE a.doc_id < b.doc_id ORDER BY doc_a, doc_b
"""


def q_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap telemetry for the LSH candidate join (dedup.lsh_bucket_stats):
    the (band, sig) bucket-size histogram over exact-dup
    REPRESENTATIVES — the report that makes ``max_bucket``'s dropped
    mass measurable (any over_cap row is a skipped near-dup
    mega-family, with its size on record).  Same input shape as
    dedup_lsh_pairs, so the histogram instruments exactly the join the
    cap guards."""
    reps, _members = dedup.collapse_exact(_docs_with_replicas(spark, sf_dir))
    return sorted_output(
        dedup.lsh_bucket_stats(reps).withColumn(
            "band", F.col("band").cast("long")
        ),
        "band",
        "bucket_size",
    )


def sql_lsh_bucket_stats() -> str:
    sh = _SHINGLE_SQL.format(n=dedup.SHINGLE, src=_REPS_SQL)
    return f"""
WITH sig AS (
  SELECT doc_id, band, min(md5(concat(band::VARCHAR, ':', shingle))) AS sig
  FROM ({sh}) s CROSS JOIN (SELECT unnest(range({dedup.N_BANDS})) AS band) b
  GROUP BY doc_id, band
),
sizes AS (
  SELECT band, sig, CAST(count(*) AS BIGINT) AS bucket_size
  FROM sig GROUP BY band, sig
)
SELECT band, bucket_size, CAST(count(*) AS BIGINT) AS n_buckets,
       bucket_size > {dedup.MAX_BUCKET} AS over_cap
FROM sizes GROUP BY band, bucket_size ORDER BY band, bucket_size
"""


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-candidate Jaccard verify among exact-dup REPRESENTATIVES
    (collapse-first pipeline order, r3 verdict item 1)."""
    reps, _members = dedup.collapse_exact(_docs_with_replicas(spark, sf_dir))
    # the shingle table feeds BOTH the LSH candidate stage and the
    # Jaccard verify — build it once and persist (memory-and-disk: at
    # 100 TB it spills rather than recomputing the scan+tokenize twice)
    from pyspark import StorageLevel

    sh = dedup.shingle_table(reps).persist(StorageLevel.MEMORY_AND_DISK)
    cands = dedup.lsh_candidate_pairs(reps, shingles=sh)
    return sorted_output(
        dedup.ngram_jaccard_pairs(reps, cands, threshold=0.5, shingles=sh)
        .withColumn("jaccard", F.round("jaccard", 6)),
        "doc_a",
        "doc_b",
    )


def sql_dedup_jaccard() -> str:
    sh = _SHINGLE_SQL.format(n=dedup.SHINGLE, src=_REPS_SQL)
    return f"""
WITH sh AS ({sh}),
sig AS (
  SELECT doc_id, band, min(md5(concat(band::VARCHAR, ':', shingle))) AS sig
  FROM sh CROSS JOIN (SELECT unnest(range({dedup.N_BANDS})) AS band) b
  GROUP BY doc_id, band
),{_LSH_CAP_SQL},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigc a JOIN sigc b ON a.band = b.band AND a.sig = b.sig
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a AS doc_a, i.doc_b AS doc_b,
       round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM inter i
JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
ORDER BY i.doc_a, i.doc_b
"""


# deterministic pseudo-benchmark split for the decontamination query:
# every 10th doc_id plays the held-out eval suite, the rest the corpus
DECONTAM_MOD = 10


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py:
    contamination_scores): per corpus doc, the fraction of its distinct
    word 3-grams that appear anywhere in the benchmark suite — the
    training-data step dedup does NOT cover (GPT-3 appendix C / The
    Pile / Dolma n-gram-overlap filtering).  Benchmark = every
    DECONTAM_MOD-th doc_id of the documents table (deterministic
    stand-in for a held-out eval suite); corpus = the rest.  One
    distinct-shingle aggregation of the (small) benchmark side, one
    skewless left join on the shingle key, one map-side-combinable
    groupBy(doc_id).  Oracle: identical split + join over the same
    shingle CTE."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(DECONTAM_MOD)) != 0)
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(DECONTAM_MOD)) == 0)
    return sorted_output(
        dedup.contamination_scores(corpus, bench).withColumn(
            "contamination", F.round("contamination", 6)
        ),
        "doc_id",
    )


def sql_decontaminate() -> str:
    corpus_sh = _SHINGLE_SQL.format(
        n=dedup.SHINGLE,
        src=f"(SELECT * FROM documents WHERE doc_id % {DECONTAM_MOD} <> 0)",
    )
    bench_sh = _SHINGLE_SQL.format(
        n=dedup.SHINGLE,
        src=f"(SELECT * FROM documents WHERE doc_id % {DECONTAM_MOD} = 0)",
    )
    return f"""
WITH corpus_sh AS ({corpus_sh}),
bench AS (SELECT DISTINCT shingle FROM ({bench_sh}) bs)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(b.shingle) AS BIGINT) AS n_hit,
       round(CAST(count(b.shingle) AS DOUBLE) / count(*), 6) AS contamination
FROM corpus_sh c LEFT JOIN bench b ON c.shingle = b.shingle
GROUP BY c.doc_id ORDER BY c.doc_id
"""


DSIR_TOP_K = 100


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/selection.py): per raw-corpus
    doc, Σ_b c_b·[ln p_target(b) − ln p_raw(b)] over hashed
    unigram+bigram bucket counts, plus a deterministic top-k
    ``selected`` flag — the domain-targeting rank step of a
    pretraining-data pipeline (Xie et al. 2023).  Target = the
    decontaminate query's benchmark split (every DECONTAM_MOD-th doc),
    raw = the rest.  Both distributions are N_BUCKETS-bounded aggs;
    the log-ratio table broadcasts; one groupBy(doc_id) folds the
    weight.  Oracle: same split, same md5-prefix buckets, same
    two-stage 9dp/4dp quantization."""
    docs = _docs(spark, sf_dir)
    raw = docs.filter(F.pmod(F.col("doc_id"), F.lit(DECONTAM_MOD)) != 0)
    target = docs.filter(F.pmod(F.col("doc_id"), F.lit(DECONTAM_MOD)) == 0)
    w = selection.importance_weights(raw, target)
    return sorted_output(selection.select_top_k(w, DSIR_TOP_K), "doc_id")


def sql_dsir_weights() -> str:
    B = selection.N_BUCKETS
    a = selection.ALPHA

    def grams(src: str) -> str:
        return f"""
  SELECT doc_id, gram FROM (
    SELECT doc_id, unnest(list_concat(
      words,
      [array_to_string(words[i:i+1], ' ') for i in range(1, len(words))]
    )) AS gram
    FROM (SELECT doc_id, string_split({_NORM_TEXT_SQL}, ' ') AS words
          FROM {src} d) w
  ) g WHERE length(gram) > 0"""

    raw_src = f"(SELECT * FROM documents WHERE doc_id % {DECONTAM_MOD} <> 0)"
    tgt_src = f"(SELECT * FROM documents WHERE doc_id % {DECONTAM_MOD} = 0)"
    return f"""
WITH raw_g AS (
  SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT % {B} AS bucket
  FROM ({grams(raw_src)}) rg
),
tgt_g AS (
  SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT % {B} AS bucket
  FROM ({grams(tgt_src)}) tg
),
raw_d AS (SELECT bucket, count(*) AS r_cnt FROM raw_g GROUP BY bucket),
tgt_d AS (SELECT bucket, count(*) AS t_cnt FROM tgt_g GROUP BY bucket),
tots AS (
  SELECT (SELECT count(*) FROM raw_g) AS r_tot,
         (SELECT count(*) FROM tgt_g) AS t_tot
),
ratio AS (
  SELECT b.range AS bucket,
         round(ln((coalesce(t_cnt, 0) + {a}) / (t_tot + {a * B}))
             - ln((coalesce(r_cnt, 0) + {a}) / (r_tot + {a * B})), 9) AS logratio
  FROM range({B}) b
  LEFT JOIN raw_d ON raw_d.bucket = b.range
  LEFT JOIN tgt_d ON tgt_d.bucket = b.range
  CROSS JOIN tots
),
per_doc AS (
  SELECT doc_id, bucket, count(*) AS c FROM raw_g GROUP BY doc_id, bucket
),
w AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_grams,
         round(sum(c * logratio), 4) AS logw
  FROM per_doc JOIN ratio USING (bucket) GROUP BY doc_id
),
ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY logw DESC, doc_id ASC) AS rn
  FROM w
)
SELECT w.doc_id, w.n_grams, w.logw,
       (ranked.rn <= {DSIR_TOP_K}) AS selected
FROM w JOIN ranked ON ranked.doc_id = w.doc_id
ORDER BY w.doc_id
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine TRAINED quality classifier
    (selection.quality_lr_scores, the GPT-3/LLaMA quality-filter
    stage): logistic regression over tf-normalized hashed n-gram
    buckets, fit by LR_ITERS diagonally-preconditioned full-batch
    gradient rounds against the deterministic lang=='en' label
    (~0.88 train accuracy vs the 0.56 base rate), scored back over
    the corpus.  Two linear shuffles per round, B-bounded broadcast
    weights; every reduction 9-dp-quantized so the training
    trajectory is engine-portable.  Oracle: the identical recurrence
    unrolled as materialized DuckDB CTEs (the pagerank pattern)."""
    d = _docs(spark, sf_dir)
    labels = d.select(
        "doc_id", (F.col("lang") == "en").cast("double").alias("y")
    )
    s = selection.quality_lr_scores(d, labels)
    return sorted_output(
        s.join(labels, "doc_id").select(
            "doc_id",
            F.col("y").cast("long").alias("label"),
            "score",
            "prob",
            (F.col("prob") >= 0.5).alias("pred"),
        ),
        "doc_id",
    )


def sql_quality_classifier() -> str:
    B = selection.N_BUCKETS
    lr = selection.LR_RATE
    dp = selection.LR_DP
    eps = selection.LR_EPS
    bias = selection.BIAS_BUCKET
    grams = f"""
  SELECT doc_id, gram FROM (
    SELECT doc_id, unnest(list_concat(
      words,
      [array_to_string(words[i:i+1], ' ') for i in range(1, len(words))]
    )) AS gram
    FROM (SELECT doc_id, string_split({_NORM_TEXT_SQL}, ' ') AS words
          FROM documents d) w
  ) g WHERE length(gram) > 0"""
    iters = "".join(
        f""",
s{k} AS MATERIALIZED (
  SELECT doc_id, round(sum(x * w), {dp}) AS s
  FROM feat JOIN w{k} USING (bucket) GROUP BY doc_id
),
r{k} AS MATERIALIZED (
  SELECT doc_id, round(1 / (1 + exp(-s)), {dp}) - y AS r
  FROM s{k} JOIN labels USING (doc_id)
),
g{k} AS MATERIALIZED (
  SELECT bucket, round(sum(x * r / nd.n), {dp}) AS gr
  FROM feat JOIN r{k} USING (doc_id) CROSS JOIN nd GROUP BY bucket
),
w{k + 1} AS MATERIALIZED (
  SELECT bucket, round(w - {lr!r} * gr / (0.25 * h + {eps!r}), {dp}) AS w
  FROM w{k} JOIN g{k} USING (bucket) JOIN hh USING (bucket)
)"""
        for k in range(selection.LR_ITERS)
    )
    return f"""
WITH g AS (
  SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT % {B} AS bucket
  FROM ({grams}) gg
),
cnt AS (SELECT doc_id, bucket, CAST(count(*) AS DOUBLE) AS c
        FROM g GROUP BY doc_id, bucket),
tot AS (SELECT doc_id, sum(c) AS n FROM cnt GROUP BY doc_id),
labels AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
           FROM documents),
feat AS MATERIALIZED (
  SELECT doc_id, bucket, c / n AS x FROM cnt JOIN tot USING (doc_id)
  UNION ALL
  SELECT doc_id, CAST({bias} AS BIGINT) AS bucket, 1.0 AS x FROM documents
),
nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM labels),
hh AS MATERIALIZED (
  SELECT bucket, round(sum(x * x / nd.n), {dp}) AS h
  FROM feat CROSS JOIN nd GROUP BY bucket
),
w0 AS MATERIALIZED (SELECT DISTINCT bucket, 0.0 AS w FROM feat){iters},
sf AS (
  SELECT doc_id, round(sum(x * w), {dp}) AS s
  FROM feat JOIN w{selection.LR_ITERS} USING (bucket) GROUP BY doc_id
)
SELECT doc_id, CAST(y AS BIGINT) AS label,
       round(s, 6) AS score,
       round(1 / (1 + exp(-s)), 6) AS prob,
       round(1 / (1 + exp(-s)), 6) >= 0.5 AS pred
FROM sf JOIN labels USING (doc_id) ORDER BY doc_id
"""


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplicated text (dedup.dup_span_stats — the
    distributed ExactSubstr analog, Lee et al. 2021): per doc over
    documents ∪ replicas, the maximal word spans whose
    ``DUP_SPAN_K``-grams occur in ≥2 distinct docs, summarized as
    (n_spans, dup_words, total_words, dup_word_frac).  Replicated docs
    read dup_word_frac = 1.0 (every window shared with the replica);
    within-doc repetition alone scores 0 (distinct-doc frequency).
    Oracle: same positional grams / lag-gap merge in window SQL."""
    return sorted_output(
        dedup.dup_span_stats(_docs_with_replicas(spark, sf_dir)), "doc_id"
    )


def _span_ctes() -> str:
    """The shared wt → pg → dup_g → dp → seg → spans CTE chain (the
    SQL mirror of ``dedup.duplicated_spans``) — used by BOTH
    sql_dedup_spans and sql_dedup_span_clean so the span semantics
    cannot drift between the detect and remove oracles."""
    n = dedup.DUP_SPAN_K
    m = dedup.MIN_DUP_DOCS
    return f"""wt AS (
  SELECT doc_id, string_split({_NORM_TEXT_SQL}, ' ') AS words
  FROM {_DOCS_REPL_SQL} d
),
pg AS (
  SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
    SELECT doc_id,
           unnest([{{'pos': i - 1,
                    'gram': array_to_string(words[i:i+{n - 1}], ' ')}}
                   for i in range(1, len(words) - {n} + 2)]) AS u
    FROM wt WHERE len(words) >= {n}
  ) x
),
dup_g AS (
  SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM pg) gd
  GROUP BY gram HAVING count(*) >= {m}
),
dp AS (SELECT doc_id, pos FROM pg JOIN dup_g USING (gram)),
seg AS (
  -- a start gap of 2..n still has contiguous word coverage: break
  -- only past n, or the emitted spans overlap and double-count
  SELECT doc_id, pos,
         sum(CASE WHEN pos - prev > {n} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS seg_id
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM dp) l
),
spans AS (
  SELECT doc_id, min(pos) AS start_word, max(pos) + {n - 1} AS end_word
  FROM seg GROUP BY doc_id, seg_id
)"""


def sql_dedup_spans() -> str:
    return f"""
WITH {_span_ctes()},
per_doc AS (
  SELECT doc_id, count(*) AS n_spans,
         sum(end_word - start_word + 1) AS dup_words
  FROM spans GROUP BY doc_id
),
totals AS (
  SELECT doc_id, {_WORD_COUNT_SQL} AS total_words
  FROM {_DOCS_REPL_SQL} d
)
SELECT t.doc_id,
       CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(dup_words, 0) AS BIGINT) AS dup_words,
       CAST(total_words AS BIGINT) AS total_words,
       round(coalesce(dup_words, 0) / greatest(total_words, 1), 6)
         AS dup_word_frac
FROM totals t LEFT JOIN per_doc USING (doc_id)
ORDER BY doc_id
"""


def q_dedup_span_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVE half of ExactSubstr dedup
    (dedup.remove_duplicated_spans, Lee et al. 2021): duplicated word
    spans are cut from every doc of documents ∪ replicas and the
    survivors reassemble in order — replicated docs come back empty
    (their whole text is shared), singletons come back intact.
    Positional-word anti-join against the span table + one reassembly
    groupBy — linear.  Oracle: the shared span CTE chain + NOT EXISTS
    range anti-join."""
    s = dedup.remove_duplicated_spans(_docs_with_replicas(spark, sf_dir))
    return sorted_output(
        s.select(
            "doc_id",
            "total_words",
            "removed_words",
            F.md5("cleaned").alias("cleaned_hash"),
        ),
        "doc_id",
    )


def sql_dedup_span_clean() -> str:
    return f"""
WITH {_span_ctes()},
w_pos AS (
  SELECT doc_id, u.pos AS pos, u.word AS word FROM (
    SELECT doc_id,
           unnest([{{'pos': i - 1, 'word': words[i]}}
                   for i in range(1, len(words) + 1)]) AS u
    FROM wt
  ) x WHERE length(word) > 0
),
kept AS (
  SELECT doc_id, pos, word FROM w_pos w
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = w.doc_id
      AND w.pos BETWEEN s.start_word AND s.end_word)
),
re AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_words,
         array_to_string(list(word ORDER BY pos), ' ') AS cleaned
  FROM kept GROUP BY doc_id
),
totals AS (
  SELECT doc_id, {_WORD_COUNT_SQL} AS total_words
  FROM {_DOCS_REPL_SQL} d
)
SELECT t.doc_id,
       CAST(total_words AS BIGINT) AS total_words,
       CAST(total_words - coalesce(kept_words, 0) AS BIGINT)
         AS removed_words,
       md5(coalesce(cleaned, '')) AS cleaned_hash
FROM totals t LEFT JOIN re USING (doc_id)
ORDER BY t.doc_id
"""


def _paged_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents re-paged into lines for the C4 cleaning query: the
    flat synthetic text carries no newlines or punctuation, so a
    deterministic transform (mirrored bit-for-bit in ``_PAGED_SQL``)
    chunks each doc into 12-word lines where every 7th line mentions
    javascript, every 3rd lacks terminal punctuation, every 11th doc
    gains a lorem-ipsum line and every 13th a curly-brace line —
    exercising every C4 branch."""
    d = _docs(spark, sf_dir).select("doc_id", dedup.normalized_words().alias("words"))
    words = F.col("words")
    n_chunks = F.greatest(
        F.ceil(F.size(words) / F.lit(12.0)).cast("int"), F.lit(1)
    )

    def line_at(i):
        chunk = F.array_join(F.slice(words, i * 12 + 1, 12), " ")
        return F.concat(
            chunk,
            F.when(i % 7 == 0, F.lit(" javascript click here."))
            .when(i % 3 != 0, F.lit("."))
            .otherwise(F.lit("")),
        )

    paged = F.concat(
        F.array_join(F.transform(F.sequence(F.lit(0), n_chunks - 1), line_at), "\n"),
        F.when(
            F.col("doc_id") % 11 == 0, F.lit("\nlorem ipsum dolor sit amet.")
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0, F.lit("\n{ config }")).otherwise(
            F.lit("")
        ),
    )
    return d.select("doc_id", paged.alias("text"))


_PAGED_SQL = f"""(
SELECT doc_id,
       array_to_string([array_to_string(words[i*12+1 : i*12+12], ' ') ||
                        (CASE WHEN i % 7 = 0 THEN ' javascript click here.'
                              WHEN i % 3 <> 0 THEN '.' ELSE '' END)
                        for i in range(0, greatest(CAST(ceil(len(words)/12.0) AS INT), 1))],
                       chr(10))
       || (CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END)
       || (CASE WHEN doc_id % 13 = 0 THEN chr(10) || '{{ config }}' ELSE '' END) AS text
FROM (SELECT doc_id, string_split({_NORM_TEXT_SQL}, ' ') AS words
      FROM documents d) w)"""


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level page cleaning (textstats.c4_line_stats, Raffel et
    al. 2020 §2.2) over the re-paged documents: kept-line counts,
    sentence count, page keep/drop verdict with ranked reason, and the
    md5 of the cleaned text.  Narrow Catalyst array lambdas — zero
    shuffle beyond the output orderBy."""
    s = textstats.c4_line_stats(_paged_docs(spark, sf_dir))
    return sorted_output(
        s.select(
            "doc_id",
            "n_lines",
            "n_kept",
            "n_sentences",
            "keep",
            "drop_reason",
            F.md5("cleaned").alias("cleaned_hash"),
        ),
        "doc_id",
    )


def sql_c4_clean() -> str:
    minw = textstats.C4_MIN_WORDS_PER_LINE
    mins = textstats.C4_MIN_SENTENCES
    return f"""
WITH pages AS {_PAGED_SQL},
norm AS (
  SELECT doc_id, text,
         list_transform(string_split(text, chr(10)),
                        l -> regexp_replace(trim(l), '\\s+', ' ', 'g')) AS nl
  FROM pages
),
k AS (
  SELECT doc_id, text, nl,
         list_filter(nl, l -> regexp_matches(l, '[.!?"]$')
                          AND len(string_split(l, ' ')) >= {minw}
                          AND NOT contains(lower(l), 'javascript')) AS kept
  FROM norm
),
c AS (
  -- array_to_string([]) is NULL in DuckDB but '' in Spark's array_join
  SELECT doc_id, nl, kept,
         coalesce(array_to_string(kept, chr(10)), '') AS cleaned,
         len(regexp_extract_all(coalesce(array_to_string(kept, chr(10)), ''), '[.!?]')) AS n_sent,
         contains(lower(text), 'lorem ipsum') AS lorem,
         contains(text, '{{') AS brace
  FROM k
),
v AS (
  SELECT doc_id, nl, kept, cleaned, n_sent,
         CASE WHEN lorem THEN 'lorem_ipsum'
              WHEN brace THEN 'curly_brace'
              WHEN n_sent < {mins} THEN 'too_few_sentences' END AS drop_reason
  FROM c
)
SELECT doc_id,
       CAST(len(nl) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       CAST(n_sent AS BIGINT) AS n_sentences,
       drop_reason IS NULL AS keep,
       drop_reason,
       md5(cleaned) AS cleaned_hash
FROM v ORDER BY doc_id
"""


def _pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic PII injections (mirrored in
    ``_PII_SQL``): every 5th doc an email, every 7th an IPv4, every
    9th a phone number."""
    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    text = F.concat(
        F.col("text"),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" server 10.2."),
                (did % 200).cast("string"),
                F.lit(".7 up"),
            ),
        ).otherwise(F.lit("")),
        F.when(did % 9 == 0, F.lit(" call 555-867-5309")).otherwise(F.lit("")),
    )
    return d.select("doc_id", text.alias("text"))


_PII_SQL = """(
SELECT doc_id,
       text
       || (CASE WHEN doc_id % 5 = 0
                THEN ' contact user' || doc_id::VARCHAR || '@example.com now'
                ELSE '' END)
       || (CASE WHEN doc_id % 7 = 0
                THEN ' server 10.2.' || (doc_id % 200)::VARCHAR || '.7 up'
                ELSE '' END)
       || (CASE WHEN doc_id % 9 = 0 THEN ' call 555-867-5309' ELSE '' END)
         AS text
FROM documents d)"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (textstats.pii_stats) over documents
    with injected emails/IPs/phones: per-doc match counts on the
    original text and the md5 of the sequentially-redacted copy.
    Patterns live in the RE2 ∩ java regex common dialect so the DuckDB
    oracle runs byte-identical expressions."""
    s = textstats.pii_stats(_pii_docs(spark, sf_dir))
    return sorted_output(
        s.select(
            "doc_id",
            "n_emails",
            "n_ips",
            "n_phones",
            F.md5("redacted").alias("redacted_hash"),
        ),
        "doc_id",
    )


def sql_pii_scrub() -> str:
    e, i, p = textstats.PII_EMAIL, textstats.PII_IP, textstats.PII_PHONE
    return f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{e}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{i}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
             '{e}', '<EMAIL>', 'g'),
             '{i}', '<IP>', 'g'),
             '{p}', '<PHONE>', 'g')) AS redacted_hash
FROM {_PII_SQL} d ORDER BY doc_id
"""


def q_domain_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain word-budget downsampling (selection.domain_sample):
    each source's keep fraction is min(1, budget/source_words); the
    per-doc keep test is a deterministic md5 draw — no window, no
    per-source sort, skew-immune.  Oracle: identical integer-fed md5
    arithmetic."""
    return sorted_output(selection.domain_sample(_docs(spark, sf_dir)), "doc_id")


def sql_domain_sample() -> str:
    b = selection.DOMAIN_WORD_BUDGET
    return f"""
WITH sized AS (
  SELECT doc_id, source, CAST({_WORD_COUNT_SQL} AS BIGINT) AS n_words
  FROM documents d
),
ps AS (SELECT source, CAST(sum(n_words) AS BIGINT) AS src_words
       FROM sized GROUP BY source)
SELECT doc_id, source, n_words,
       round(least(1.0, {b} / src_words), 6) AS frac,
       (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000000)
         / 1000000.0 < least(1.0, {b} / src_words) AS sampled
FROM sized JOIN ps USING (source) ORDER BY doc_id
"""


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concatenate-and-slice packing (selection.pack_chunks):
    docs assigned to fixed-token training chunks within md5 hash
    shards — per doc the shard, token count, exclusive prefix start
    offset, and covered chunk range.  One shuffle on the uniform shard
    key; the per-shard window is the only ordered step.  Oracle: same
    window arithmetic in SQL."""
    return sorted_output(selection.pack_chunks(_docs(spark, sf_dir)), "doc_id")


def sql_pack_chunks() -> str:
    s = selection.N_PACK_SHARDS
    c = selection.CHUNK_TOKENS
    return f"""
WITH sized AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % {s} AS shard,
         CAST({_WORD_COUNT_SQL} AS BIGINT) AS n_tokens
  FROM documents d
),
cum AS (
  SELECT doc_id, shard, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
              AS BIGINT) AS start_tok
  FROM sized
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens, start_tok,
       CAST(floor(start_tok / {c}) AS BIGINT) AS first_chunk,
       CAST(floor(greatest(start_tok, start_tok + n_tokens - 1) / {c})
            AS BIGINT) AS last_chunk
FROM cum ORDER BY doc_id
"""


def _hosted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents re-paged with per-SOURCE template chrome for the host
    boilerplate query (mirrored bit-for-bit in ``_HOSTED_SQL``): a nav
    line on every doc of the source (always boilerplate), the doc text
    as the content line, a copyright footer on every 2nd doc (~50% —
    above the 25% bar) and a newsletter plug on every 5th (~20% —
    below it).  concat_ws skips the null CASE arms in both engines."""
    d = _docs(spark, sf_dir)
    src = F.col("source")
    text = F.concat_ws(
        "\n",
        F.concat(F.lit("home about contact "), src),
        F.col("text"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("copyright "), src, F.lit(" all rights reserved.")),
        ),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("subscribe to "), src, F.lit(" newsletter.")),
        ),
    )
    return d.select("doc_id", "source", text.alias("text"))


_HOSTED_SQL = """(
SELECT doc_id, source,
       concat_ws(chr(10),
         'home about contact ' || source,
         text,
         CASE WHEN doc_id % 2 = 0
              THEN 'copyright ' || source || ' all rights reserved.' END,
         CASE WHEN doc_id % 5 = 0
              THEN 'subscribe to ' || source || ' newsletter.' END) AS text
FROM documents d)"""


def q_host_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host boilerplate line removal (dedup.host_boilerplate_stats,
    the CCNet/RefinedWeb template-stripping stage) over documents with
    injected per-source nav/footer chrome: line counts, flagged
    boilerplate count + fraction, and the md5 of the page reassembled
    from kept lines.  One count-distinct groupBy on (source, line), a
    broadcast source-size join, one enrichment join, one reassembly
    groupBy — no pair enumeration; the threshold is integer
    arithmetic, oracle-exact."""
    s = dedup.host_boilerplate_stats(_hosted_docs(spark, sf_dir))
    return sorted_output(
        s.select(
            "doc_id",
            "source",
            "n_lines",
            "n_boiler",
            "boiler_frac",
            F.md5("cleaned").alias("cleaned_hash"),
        ),
        "doc_id",
    )


def sql_host_boilerplate() -> str:
    m = dedup.BOILER_MIN_DOCS
    p = dedup.BOILER_PCT
    return f"""
WITH pages AS {_HOSTED_SQL},
lines AS (
  SELECT doc_id, source, u.pos AS pos, u.line AS line FROM (
    SELECT doc_id, source,
           unnest([{{'pos': i - 1,
                    'line': regexp_replace(trim(ls[i]), '\\s+', ' ', 'g')}}
                   for i in range(1, len(ls) + 1)]) AS u
    FROM (SELECT doc_id, source,
                 string_split(coalesce(text, ''), chr(10)) AS ls
          FROM pages) t
  ) x
),
sd AS (SELECT source, count(DISTINCT doc_id) AS src_docs
       FROM pages GROUP BY source),
bl AS (
  SELECT source, line, count(DISTINCT doc_id) AS line_docs
  FROM lines WHERE length(line) > 0 GROUP BY source, line
),
boiler AS (
  SELECT source, line, TRUE AS boiler FROM bl JOIN sd USING (source)
  WHERE line_docs >= {m} AND line_docs * 100 >= src_docs * {p}
),
fl AS (SELECT l.doc_id, l.source, l.pos, l.line,
              coalesce(b.boiler, FALSE) AS boiler
       FROM lines l LEFT JOIN boiler b USING (source, line)),
pd AS (
  SELECT doc_id, source,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         coalesce(array_to_string(
           list(line ORDER BY pos) FILTER (WHERE NOT boiler), chr(10)),
           '') AS cleaned
  FROM fl GROUP BY doc_id, source
)
SELECT doc_id, source, n_lines, n_boiler,
       round(n_boiler / n_lines, 6) AS boiler_frac,
       md5(cleaned) AS cleaned_hash
FROM pd ORDER BY doc_id
"""


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality bucketing (selection.bigram_lm_nll +
    nll_terciles): per-doc mean negative log-likelihood under an
    add-alpha bigram model trained on the corpus itself, split into
    head/middle/tail by EXACT terciles of the 4-dp score grid (the
    histogram window runs over the bounded grid, never the corpus)."""
    d = _docs(spark, sf_dir)
    return sorted_output(
        selection.nll_terciles(selection.bigram_lm_nll(d, d)),
        "doc_id"
    )


def sql_lm_perplexity() -> str:
    a = selection.LM_ALPHA
    return f"""
WITH bg AS (
  SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
    SELECT doc_id,
           unnest([{{'w1': words[i], 'w2': words[i + 1]}}
                   for i in range(1, len(words))]) AS u
    FROM (SELECT doc_id, string_split({_NORM_TEXT_SQL}, ' ') AS words
          FROM documents d) t
  ) x WHERE length(w1) > 0 AND length(w2) > 0
),
bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS bc
       FROM bg GROUP BY w1, w2),
uc AS (SELECT w1, CAST(sum(bc) AS BIGINT) AS uc FROM bc GROUP BY w1),
v AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM bc),
pp AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS c
       FROM bg GROUP BY doc_id, w1, w2),
scored AS (
  SELECT doc_id, c,
         round(ln((coalesce(bc, 0) + {a}) / (coalesce(uc, 0) + {a} * v)), 9)
           AS logp
  FROM pp LEFT JOIN bc USING (w1, w2) LEFT JOIN uc USING (w1) CROSS JOIN v
),
sc AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         round(-sum(c * logp) / sum(c), 4) AS nll
  FROM scored GROUP BY doc_id
),
hist AS (SELECT nll, CAST(count(*) AS BIGINT) AS c FROM sc GROUP BY nll),
cum AS (SELECT nll, sum(c) OVER (ORDER BY nll) AS cum FROM hist),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc),
bounds AS (
  SELECT min(CASE WHEN cum * 3 >= n THEN nll END) AS b1,
         min(CASE WHEN cum * 3 >= 2 * n THEN nll END) AS b2
  FROM cum CROSS JOIN tot
)
SELECT doc_id, n_bigrams, nll,
       CASE WHEN nll <= b1 THEN 'head'
            WHEN nll <= b2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM sc CROSS JOIN bounds ORDER BY doc_id
"""


def _url_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic synthetic URLs exercising every
    canonicalization rule (mirrored in the oracle): mixed-case scheme
    and host, case-significant userinfo, default ports on both
    schemes, a literal '&utm_x=1' in the PATH (must survive), tracking
    params leading / trailing / alone in the query, and fragments."""
    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, F.lit("http")).otherwise(F.lit("HTTPS")),
        F.lit("://"),
        F.when(did % 17 == 0, F.lit("User:PwD@")).otherwise(F.lit("")),
        F.lit("WWW."),
        F.col("source"),
        F.lit(".Example.com"),
        F.when(did % 4 == 0, F.lit(":80"))
        .when(did % 4 == 1, F.lit(":443"))
        .otherwise(F.lit("")),
        F.lit("/P/"),
        did.cast("string"),
        F.when(did % 19 == 0, F.lit("/a&utm_x=1")).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(F.lit("?utm_source=feed&id="), did.cast("string")),
        )
        .when(
            did % 7 == 0,
            F.concat(F.lit("?id="), did.cast("string"), F.lit("&utm_campaign=x")),
        )
        .when(did % 13 == 0, F.lit("?utm_only=1"))
        .otherwise(F.lit("")),
        F.when(did % 11 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    return d.select("doc_id", "source", url.alias("url"))


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + host blocklist (operators/urls.py — the
    crawl-hygiene stage in front of every CC pipeline): strip
    fragments, lowercase scheme://host, drop default ports, strip
    utm_*/fbclid tracking params; flag hosts on a broadcast blocklist
    (here: every source ending in '0').  Pure narrow regexp chain —
    zero shuffle beyond the output orderBy."""
    from .operators import urls

    pages = _url_docs(spark, sf_dir)
    blocklist = pages.filter(F.col("source").endswith("0")).select(
        F.lower(
            F.concat(F.lit("www."), F.col("source"), F.lit(".example.com"))
        ).alias("host")
    )
    return sorted_output(urls.canonicalize_urls(pages, blocklist), "doc_id")


_URL_PAGES_SQL = """(
SELECT doc_id, source,
       (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'HTTPS' END)
       || '://' || (CASE WHEN doc_id % 17 = 0 THEN 'User:PwD@' ELSE '' END)
       || 'WWW.' || source || '.Example.com'
       || (CASE WHEN doc_id % 4 = 0 THEN ':80'
                WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END)
       || '/P/' || doc_id
       || (CASE WHEN doc_id % 19 = 0 THEN '/a&utm_x=1' ELSE '' END)
       || (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&id=' || doc_id
                WHEN doc_id % 7 = 0 THEN '?id=' || doc_id || '&utm_campaign=x'
                WHEN doc_id % 13 = 0 THEN '?utm_only=1' ELSE '' END)
       || (CASE WHEN doc_id % 11 = 0 THEN '#sec' ELSE '' END) AS url
FROM documents d)"""


def sql_url_canonicalize() -> str:
    return f"""
WITH pages AS {_URL_PAGES_SQL},
c1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM pages),
c2 AS (SELECT doc_id,
              lower(regexp_extract(u, '^([^:/?#]+)://', 1)) || '://'
              || regexp_extract(u, '^[^:/?#]+://([^/?#]*@)', 1)
              || lower(regexp_extract(u,
                   '^[^:/?#]+://(?:[^/?#]*@)?([^/?#]*)', 1))
              || regexp_replace(u, '^[^:/?#]+://[^/?#]*', '') AS u
       FROM c1),
c3 AS (SELECT doc_id, regexp_replace(regexp_replace(u,
         '^(http://(?:[^/?#]*@)?[^/?#:]*):80([/?#].*)?$', '\\1\\2'),
         '^(https://(?:[^/?#]*@)?[^/?#:]*):443([/?#].*)?$', '\\1\\2') AS u
       FROM c2),
c4 AS (SELECT doc_id,
              regexp_extract(u, '^([^?]*)', 1) ||
              regexp_replace(regexp_replace(regexp_replace(
                  regexp_extract(u, '^[^?]*(\\?.*)$', 1),
                '&(utm_[a-z_]*|fbclid)=[^&#]*', '', 'g'),
                '^\\?(utm_[a-z_]*|fbclid)=[^&#]*&', '?'),
                '^\\?(utm_[a-z_]*|fbclid)=[^&#]*$', '') AS u
       FROM c3),
canon AS (SELECT doc_id, u AS canon_url,
                 regexp_extract(u,
                   '^[a-z]+://(?:[^/?#]*@)?([^/?#:]+)', 1) AS host
          FROM c4),
bl AS (SELECT DISTINCT lower('www.' || source || '.example.com') AS host
       FROM documents WHERE source LIKE '%0')
SELECT c.doc_id, c.canon_url, c.host, (bl.host IS NOT NULL) AS blocked
FROM canon c LEFT JOIN bl ON c.host = bl.host
ORDER BY c.doc_id
"""


def q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-epoch snapshot diff (urls.snapshot_diff): epoch B drops
    every 7th doc, appends ' updated' to every remaining 5th, and adds
    replicas of every 9th under offset ids — per page the
    added/removed/changed/unchanged verdict from one full-outer join
    of content hashes.  The incremental-recrawl primitive."""
    from .operators import urls

    a = _docs(spark, sf_dir)
    did = F.col("doc_id")
    b = (
        a.filter(did % 7 != 0)
        .select(
            "doc_id",
            F.when(
                did % 5 == 0, F.concat(F.col("text"), F.lit(" updated"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            a.filter(did % 9 == 0).select(
                (did + F.lit(REPLICA_ID_OFFSET)).alias("doc_id"), "text"
            )
        )
    )
    return sorted_output(urls.snapshot_diff(a, b), "doc_id")


def sql_crawl_diff() -> str:
    return f"""
WITH a AS (SELECT doc_id, md5({_NORM_TEXT_SQL}) AS old_hash FROM documents d),
b_src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' updated' ELSE text END AS text
  FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT doc_id + {REPLICA_ID_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % 9 = 0
),
b AS (SELECT doc_id, md5({_NORM_TEXT_SQL}) AS new_hash FROM b_src d)
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN old_hash = new_hash THEN 'unchanged'
            ELSE 'changed' END AS status,
       old_hash, new_hash
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
ORDER BY doc_id
"""


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus dashboard — the rollup a pipeline operator
    reads before launching a run: doc count, word volume, mean doc
    length, within-source exact-duplicate members beyond the first
    (count − distinct content hashes), and the English share.  Two
    map-side-combinable aggs on the bounded source key; the content
    hash and word count are the shared conventions."""
    d = _docs(spark, sf_dir)
    return (
        d.select(
            "source",
            dedup.word_count().alias("n_words"),
            F.md5(dedup.normalized_text()).alias("h"),
            (F.col("lang") == "en").cast("long").alias("is_en"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.round(F.avg("n_words"), 6).alias("avg_words"),
            (F.count("*") - F.countDistinct("h"))
            .cast("long")
            .alias("n_dup_docs"),
            F.sum("is_en").cast("long").alias("n_en"),
        )
        .orderBy("source")
    )


def sql_corpus_report() -> str:
    return f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       round(avg(n_words), 6) AS avg_words,
       CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_dup_docs,
       CAST(sum(is_en) AS BIGINT) AS n_en
FROM (SELECT source, {_WORD_COUNT_SQL} AS n_words,
             md5({_NORM_TEXT_SQL}) AS h,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
      FROM documents d) t
GROUP BY source ORDER BY source
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py, Sennrich
    et al. 2016): the corpus collapses once into a word-frequency
    table, then 20 merge rounds run over that vocabulary table only —
    per round one bounded pair-count groupBy, a one-row TakeOrdered
    argmax, and a narrow fold applying the merge.  Integer counts +
    lexicographic tie-break make the merge sequence EXACT (no
    quantization); the oracle is the committed golden parquet from the
    independent single-node python trainer (oracle/bpe.py — merge
    application is not SQL-expressible)."""
    from .operators import bpe

    return bpe.merge_table(_docs(spark, sf_dir)).orderBy("rank")


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE (operators/bpe.py:encode_token_counts): per-doc word
    and BPE-token counts under the corpus-trained merge sequence —
    each DISTINCT word runs the 20-deep merge fold once
    (vocabulary-bounded), then joins back onto the doc→word stream on
    the uniform word key and folds per doc.  Oracle: committed golden
    parquet from the independent python encoder."""
    from .operators import bpe

    return sorted_output(bpe.encode_token_counts(_docs(spark, sf_dir)), "doc_id")


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic corpus shuffle (selection.shuffle_order):
    the reproducible pseudorandom training order every epoch consumes
    — md5(seed:doc_id) order key, md5 shards, dense per-shard
    positions.  One uniform-key shuffle; per-shard window only."""
    return sorted_output(selection.shuffle_order(_docs(spark, sf_dir)), "doc_id")


def sql_corpus_shuffle() -> str:
    s = selection.SHUFFLE_SEED
    n = selection.N_SHUFFLE_SHARDS
    return f"""
WITH keyed AS (
  SELECT doc_id,
         ('0x' || substr(md5('{s}:' || doc_id::VARCHAR), 1, 15))::BIGINT
           % {n} AS shard,
         md5('{s}:' || doc_id::VARCHAR) AS k
  FROM documents d
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) - 1
            AS BIGINT) AS pos
FROM keyed ORDER BY doc_id
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sorted_output(dedup.simhash(_docs(spark, sf_dir)), "doc_id")


def sql_dedup_simhash() -> str:
    return """
WITH words AS (
  SELECT doc_id, word, count(*) AS w
  FROM (SELECT doc_id,
               unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS word
        FROM documents) t
  WHERE length(word) > 0 GROUP BY doc_id, word
),
hashed AS (
  SELECT doc_id, w, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h FROM words
),
per_bit AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (h >> bit) & 1 = 1 THEN w ELSE -w END) AS s
  FROM hashed CROSS JOIN (SELECT unnest(range(60)) AS bit) b
  GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT)
         AS simhash
FROM per_bit GROUP BY doc_id ORDER BY doc_id
"""


def _embeddings_with_replicas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ exact replicas of every 10th vector (near-dup seeds,
    the _docs_with_replicas pattern): plants true duplicates so the
    near-dup operator has real positives at every scale, and — because
    an exact duplicate agrees with EVERY hyperplane — LSH recall on the
    planted pairs is 1 by construction."""
    e = _embeddings(spark, sf_dir)
    reps = e.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(REPLICA_ID_OFFSET)
    )
    return e.unionByName(reps)


_EMB_REPL_SQL = (
    "(SELECT vec_id, embedding FROM embeddings UNION ALL "
    f"SELECT vec_id + {REPLICA_ID_OFFSET} AS vec_id, embedding "
    "FROM embeddings WHERE vec_id % 10 = 0)"
)


def _dedup_keep_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered (doc_id, component_id, keep) over documents∪replicas —
    the shared core of q_dedup_keep and q_corpus_clean (same edges,
    same components, same verdict)."""
    from pyspark import StorageLevel

    from .operators.canonicalize import connected_components

    d = _docs_with_replicas(spark, sf_dir)
    # collapse-first pipeline order (r3 verdict items 1+2): near-dup
    # candidate generation runs over exact-dup REPRESENTATIVES only,
    # and exact clusters enter the component graph as STAR edges
    # (member → min doc_id of its content hash) — one edge per member,
    # linear in cluster size, identical components to the m²-edge
    # clique by construction (every member is connected through the
    # representative)
    reps, members = dedup.collapse_exact(d)
    sh = dedup.shingle_table(reps).persist(StorageLevel.MEMORY_AND_DISK)
    cands = dedup.lsh_candidate_pairs(reps, shingles=sh)
    near = dedup.ngram_jaccard_pairs(reps, cands, threshold=0.5, shingles=sh).select(
        "doc_a", "doc_b"
    )
    exact = members.filter(F.col("doc_id") != F.col("rep_id")).select(
        F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    edges = (
        near.unionByName(exact)
        .distinct()
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    comp = connected_components(edges)
    return (
        d.select("doc_id")
        .join(comp, d.doc_id == comp.id, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component_id"),
            (F.col("doc_id") == F.coalesce("component", "doc_id")).alias("keep"),
        )
    )


def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION — what a training-data pipeline actually
    ships: exact-dup STAR edges (member → its content-hash rep, linear
    in cluster size) ∪ near-dup (Jaccard ≥ 0.5) pairs over exact-dup
    representatives become equivalence edges, connected components (the
    M10 operator reused on doc ids) give each duplicate cluster a
    stable id = min member, and every document gets a keep/drop verdict
    (keep ⇔ it is its cluster's representative).  Components are
    transitive on purpose: A≈B≈C collapses to one kept doc even when
    A,C never pair directly.  Scale: the edge set is
    |members| + |near pairs| (≪ |docs|²), so the CC cost is linear in
    duplicate mass — never quadratic in a cluster's size."""
    return sorted_output(_dedup_keep_frame(spark, sf_dir), "doc_id")


def _dedup_keep_ctes() -> str:
    """The shared CTE chain ending in ``comp(id, component)`` — the
    oracle core reused by sql_dedup_keep and sql_corpus_clean."""
    sh = _SHINGLE_SQL.format(n=dedup.SHINGLE, src=_REPS_SQL)
    return f"""
WITH RECURSIVE sh AS ({sh}),
sig AS (
  SELECT doc_id, band, min(md5(concat(band::VARCHAR, ':', shingle))) AS sig
  FROM sh CROSS JOIN (SELECT unnest(range({dedup.N_BANDS})) AS band) b
  GROUP BY doc_id, band
),{_LSH_CAP_SQL},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigc a JOIN sigc b ON a.band = b.band AND a.sig = b.sig
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
near AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
),
memb AS (
  SELECT doc_id, {_REP_WINDOW_SQL}
  FROM {_DOCS_REPL_SQL} d
),
exact AS (
  SELECT rep_id AS doc_a, doc_id AS doc_b FROM memb WHERE doc_id <> rep_id
),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM near
          UNION SELECT doc_a, doc_b FROM exact),
sym AS (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
  UNION SELECT src, src FROM edges UNION SELECT dst, dst FROM edges
),
reach(a, b) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
),
comp AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a)"""


def sql_dedup_keep() -> str:
    return f"""{_dedup_keep_ctes()}
SELECT d.doc_id,
       CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS component_id,
       d.doc_id = coalesce(c.component, d.doc_id) AS keep
FROM {_DOCS_REPL_SQL} d LEFT JOIN comp c ON d.doc_id = c.id
ORDER BY d.doc_id
"""


# corpus_clean gates — tuned to the synthetic corpus's quality range
# (0.82–1.0 at sf0.01) so BOTH verdict branches are exercised at test
# scale; a production pipeline tunes these to its corpus the same way
CLEAN_QUALITY_MIN = 0.88
CLEAN_MIN_WORDS = 20


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-cleaning verdict a training-data pipeline
    ships: dedup (exact star edges ∪ LSH-verified near pairs → connected
    components → keep the cluster representative) composed with the
    quality gates (text_stats composite score + minimum length) into
    one per-document row: keep/drop + the first drop reason
    (duplicate ≻ too_short ≻ low_quality).

    Scale shape: the dedup branch is _dedup_keep_frame (edge set linear
    in duplicate mass); the stats branch is pure narrow Catalyst; the
    final join is doc_id ⋈ doc_id — both sides already shuffled on the
    unique key, no skew.  At 100 TB this is the query whose output
    feeds the tokenizer."""
    verdict = _dedup_keep_frame(spark, sf_dir)
    stats = textstats.text_stats(_docs_with_replicas(spark, sf_dir)).select(
        "doc_id", "n_words", "quality"
    )
    reason = (
        F.when(~F.col("dedup_keep"), "duplicate")
        .when(F.col("n_words") < CLEAN_MIN_WORDS, "too_short")
        .when(F.col("quality") < CLEAN_QUALITY_MIN, "low_quality")
    )
    return sorted_output(
        verdict.withColumnRenamed("keep", "dedup_keep")
        .join(stats, "doc_id")
        .select(
            "doc_id",
            "component_id",
            "n_words",
            "quality",
            reason.alias("drop_reason"),
            reason.isNull().alias("keep"),
        ),
        "doc_id",
    )


def sql_corpus_clean() -> str:
    return f"""{_dedup_keep_ctes()},
stats AS ({_text_stats_sql(_DOCS_REPL_SQL)}),
verdict AS (
  SELECT d.doc_id,
         CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS component_id,
         d.doc_id = coalesce(c.component, d.doc_id) AS dedup_keep
  FROM {_DOCS_REPL_SQL} d LEFT JOIN comp c ON d.doc_id = c.id
)
SELECT v.doc_id, v.component_id, s.n_words, s.quality,
       CASE WHEN NOT v.dedup_keep THEN 'duplicate'
            WHEN s.n_words < {CLEAN_MIN_WORDS} THEN 'too_short'
            WHEN s.quality < {CLEAN_QUALITY_MIN} THEN 'low_quality'
       END AS drop_reason,
       CASE WHEN NOT v.dedup_keep THEN FALSE
            WHEN s.n_words < {CLEAN_MIN_WORDS} THEN FALSE
            WHEN s.quality < {CLEAN_QUALITY_MIN} THEN FALSE
            ELSE TRUE END AS keep
FROM verdict v JOIN stats s ON v.doc_id = s.doc_id
ORDER BY v.doc_id
"""


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simhash near-dup PAIRS via the pigeonhole band join (hamming ≤ 3
    must agree on one of 4 bands) over exact-dup REPRESENTATIVES of
    documents ∪ replicas — collapse-first pipeline order (identical
    texts have identical simhashes, so clusters would otherwise share
    every band bucket), then the never-all-pairs band join with the
    ``max_bucket`` oversized-bucket guard."""
    reps, _members = dedup.collapse_exact(_docs_with_replicas(spark, sf_dir))
    return sorted_output(dedup.simhash_near_pairs(reps), "doc_a", "doc_b")


def sql_dedup_simhash_pairs() -> str:
    sim = """
WITH words AS (
  SELECT doc_id, word, count(*) AS w
  FROM (SELECT doc_id,
               unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS word
        FROM {src} d) t
  WHERE length(word) > 0 GROUP BY doc_id, word
),
hashed AS (
  SELECT doc_id, w, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h FROM words
),
per_bit AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (h >> bit) & 1 = 1 THEN w ELSE -w END) AS s
  FROM hashed CROSS JOIN (SELECT unnest(range(60)) AS bit) b
  GROUP BY doc_id, bit
),
sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM per_bit GROUP BY doc_id
),
keys AS (
  SELECT doc_id, simhash, band, (simhash >> (band * 15)) & 32767 AS bval
  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS band) b
),
ksize AS (SELECT band, bval, count(*) AS n FROM keys GROUP BY band, bval),
keysc AS (
  SELECT k.* FROM keys k JOIN ksize USING (band, bval) WHERE ksize.n <= {cap}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM keysc a JOIN keysc b ON a.band = b.band AND a.bval = b.bval
                         AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY doc_a, doc_b
""".format(src=_REPS_SQL, cap=dedup.MAX_BUCKET)
    return sim


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via the LSH-BUCKETED production path
    (dedup.embedding_near_dups_lsh — round-2 verdict: the registered
    entry must be the scale path, not the brute-force crossJoin; the
    brute-force variant remains its recall oracle in pytest)."""
    from pyspark import StorageLevel

    # one materialization feeds the LSH keying AND both cosine-join
    # sides (same pattern as q_dedup_jaccard's shared shingle table —
    # without it the scan+cast+union recomputes 3×)
    emb = _embeddings_with_replicas(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # max_bucket: the registered production entry ships its own skew
    # guard (r3 verdict item 5).  Exact-duplicate vectors collapse to
    # one representative inside the operator (star edges re-expand
    # them), so the cap can only bite genuine near-dup mega-buckets —
    # an identical-vector cluster bigger than the cap is NOT dropped;
    # the recall test asserts the planted pairs survive
    return sorted_output(
        dedup.embedding_near_dups_lsh(
            emb,
            threshold=0.9,
            n_bands=_LSH_BANDS,
            bits_per_band=_LSH_BITS,
            dim=64,
            max_bucket=dedup.MAX_BUCKET,
        ).withColumn("cosine", F.round("cosine", 6)),
        "vec_a",
        "vec_b",
    )


def sql_dedup_embedding() -> str:
    bucket_case = _lsh_bucket_case(64, _LSH_BANDS, _LSH_BITS)
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM {_EMB_REPL_SQL}),
memb AS (
  SELECT vec_id, embedding,
         min(vec_id) OVER (PARTITION BY embedding) AS rep_id
  FROM emb
),
reps AS (SELECT vec_id, embedding FROM memb WHERE vec_id = rep_id),
star AS (
  SELECT rep_id AS vec_a, vec_id AS vec_b, 1.0::DOUBLE AS cosine
  FROM memb WHERE vec_id <> rep_id
),
keys AS (
  SELECT vec_id, band, {bucket_case} AS bucket
  FROM reps CROSS JOIN (SELECT unnest(range({_LSH_BANDS})) AS band) b
),
ksize AS (SELECT band, bucket, count(*) AS n FROM keys GROUP BY band, bucket),
keysc AS (
  SELECT k.* FROM keys k JOIN ksize USING (band, bucket)
  WHERE ksize.n <= {dedup.MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM keysc a JOIN keysc b ON a.band = b.band AND a.bucket = b.bucket
                           AND a.vec_id < b.vec_id
),
scored AS (
  SELECT vec_a, vec_b,
         list_dot_product(a.embedding, b.embedding) /
         (sqrt(list_dot_product(a.embedding, a.embedding)) *
          sqrt(list_dot_product(b.embedding, b.embedding))) AS cosine
  FROM cand JOIN reps a ON a.vec_id = vec_a
            JOIN reps b ON b.vec_id = vec_b
)
SELECT vec_a, vec_b, round(cosine, 6) AS cosine FROM (
  SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= 0.9
  UNION ALL SELECT vec_a, vec_b, cosine FROM star
) u ORDER BY vec_a, vec_b
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode as a driver-gated query: deterministic
    PPM/WAVE/concatenated-frame payloads synthesized from doc_ids
    (fixtures/media.py) flow through the REAL byte-level decoders in
    operators/multimodal.extract_features (mapInPandas; payload bytes
    never shuffle), and the feature vector is exploded to
    (media_id, kind, n_bytes, dim, value) rows.  The oracle recomputes
    every feature in closed form from doc_id — the fixture parameters
    are chosen so all values are float32-exact or 6-decimal-exact (see
    fixtures/media.py docstring), making the hash comparison sound."""
    from .fixtures.media import media_from_documents
    from .operators.multimodal import extract_features

    media = media_from_documents(_docs(spark, sf_dir))
    feats = extract_features(media)
    return sorted_output(
        feats.select(
            "media_id",
            "kind",
            "n_bytes",
            F.posexplode("feature").alias("dim", "value"),
        ).select(
            "media_id",
            "kind",
            "n_bytes",
            F.col("dim").cast("long").alias("dim"),
            F.round(F.col("value").cast("double"), 6).alias("value"),
        ),
        "media_id",
        "dim",
    )


def _sql_multimodal(w: str, h: str) -> str:
    """Shared oracle body for the multimodal decode queries — closed
    forms of fixtures/media.py params + operators/multimodal.py decoder
    semantics (constant-pixel PPM / constant-amplitude WAVE).  ``w``/
    ``h`` are the visual dims as SQL expressions: the source dims for
    the plain decode, the resize targets for the resize query (channel
    stats are resize-invariant on constant pixels; only dims and byte
    counts change, audio passes through)."""
    r, g, b = "(doc_id % 128)", "((2*doc_id + 1) % 128)", "((5*doc_id + 2) % 128)"
    sr, n, amp = "(8000 * (1 + doc_id % 4))", "(256 + 2*(doc_id % 8))", "(doc_id % 1001 - 500)"
    img = [
        f"{w} / 4096.0",
        f"{h} / 4096.0",
        f"{r} / 128.0",
        f"{g} / 128.0",
        f"{b} / 128.0",
        "0.0",
        f"least({r}, {g}, {b}) / 128.0",
        f"greatest({r}, {g}, {b}) / 128.0",
    ]
    aud = [
        f"{sr} / 48000.0",
        f"{n} / 1000000.0",
        f"abs({amp}) / 32768.0",
        f"abs({amp}) / 32768.0",
        f"abs({amp}) / 32768.0",
        "0.0",
        "0.5",
        "0.125",
    ]
    img_case = " ".join(f"WHEN {i} THEN {e}" for i, e in enumerate(img))
    aud_case = " ".join(f"WHEN {i} THEN {e}" for i, e in enumerate(aud))
    return f"""
WITH media AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                         ELSE 'video' END AS kind,
         CASE doc_id % 3
           WHEN 0 THEN 11 + {w} * {h} * 3
           WHEN 1 THEN 44 + 2 * {n}
           ELSE 3 * (11 + {w} * {h} * 3) END AS n_bytes,
         doc_id
  FROM documents
)
SELECT media_id, kind, n_bytes::BIGINT AS n_bytes, dim,
       round(CASE WHEN kind = 'audio' THEN (CASE dim {aud_case} END)
                  ELSE (CASE dim {img_case} END) END, 6) AS value
FROM media CROSS JOIN (SELECT unnest(range(8)) AS dim) d
ORDER BY media_id, dim
"""


def sql_multimodal_features() -> str:
    return _sql_multimodal("(4 + doc_id % 3)", "(3 + doc_id % 2)")


# ---------------------------------------------------------------------------
# similarity queries
# ---------------------------------------------------------------------------


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10)
    return sorted_output(
        similarity.cosine_topk(emb, q, k=5)
        .withColumn("cosine", F.round("cosine", 6))
        .withColumn("rank", F.col("rank").cast("long")),
        "query_id",
        "rank",
    )


def sql_similarity_topk() -> str:
    return """
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.embedding, c.embedding) /
         (sqrt(list_dot_product(q.embedding, q.embedding)) *
          sqrt(list_dot_product(c.embedding, c.embedding))) AS cosine
  FROM emb q JOIN emb c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 10
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


_LSH_BANDS = 8
_LSH_BITS = 8


def _lsh_bucket_case(dim: int, n_bands: int, bits: int, seed: int = 42) -> str:
    """DuckDB CASE expression reproducing similarity.lsh_band_keys'
    per-band bucket for a row with columns (embedding, band) — shared
    by the similarity_lsh and dedup_embedding oracles."""
    planes = similarity.make_planes(dim, n_bands * bits, seed)
    band_exprs = []
    for b in range(n_bands):
        terms = []
        for r in range(bits):
            plane = planes[b * bits + r]
            lit = "[" + ", ".join(f"{x!r}" for x in plane) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(embedding, {lit}) > 0 "
                f"THEN {1 << r} ELSE 0 END)"
            )
        band_exprs.append(f"WHEN {b} THEN ({' + '.join(terms)})::BIGINT")
    return "CASE band " + " ".join(band_exprs) + " END"


def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10)
    return sorted_output(
        similarity.lsh_topk(
            emb, q, k=5, n_bands=_LSH_BANDS, bits_per_band=_LSH_BITS, dim=64
        )
        .withColumn("cosine", F.round("cosine", 6))
        .withColumn("rank", F.col("rank").cast("long")),
        "query_id",
        "rank",
    )


def sql_similarity_lsh() -> str:
    bucket_case = _lsh_bucket_case(64, _LSH_BANDS, _LSH_BITS)
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
keys AS (
  SELECT vec_id, band, {bucket_case} AS bucket
  FROM emb CROSS JOIN (SELECT unnest(range({_LSH_BANDS})) AS band) b
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM keys q JOIN keys c ON q.band = c.band AND q.bucket = c.bucket
                         AND q.vec_id != c.vec_id
  WHERE q.vec_id < 10
),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(q.embedding, c.embedding) /
         (sqrt(list_dot_product(q.embedding, q.embedding)) *
          sqrt(list_dot_product(c.embedding, c.embedding))) AS cosine
  FROM cand JOIN emb q ON q.vec_id = query_id
            JOIN emb c ON c.vec_id = neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


_RESIZE_W, _RESIZE_H = 8, 6


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage in front of the decode: image/video payloads are
    nearest-neighbor resampled to a fixed target (the thumbnail /
    model-input-normalization step of a real media pipeline), audio
    passes through, then the SAME feature extraction runs on the
    resized bytes.  Constant-pixel fixtures make the oracle closed
    form: channel stats are resize-invariant, only dims and byte
    counts change; the non-constant-pixel resize semantics are pinned
    in tests/test_operators_misc.py against direct numpy indexing."""
    from .fixtures.media import media_from_documents
    from .operators.multimodal import extract_features, resize_media

    media = resize_media(
        media_from_documents(_docs(spark, sf_dir)), _RESIZE_W, _RESIZE_H
    )
    feats = extract_features(media)
    return sorted_output(
        feats.select(
            "media_id", "kind", "n_bytes", F.posexplode("feature").alias("dim", "value")
        ).select(
            "media_id",
            "kind",
            "n_bytes",
            F.col("dim").cast("long").alias("dim"),
            F.round(F.col("value").cast("double"), 6).alias("value"),
        ),
        "media_id",
        "dim",
    )


def sql_multimodal_resize() -> str:
    return _sql_multimodal(str(_RESIZE_W), str(_RESIZE_H))


_IVF_K = 16
_IVF_NPROBE = 4


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (the inverted-file counterpart of similarity_lsh):
    corpus vectors land in one posting list each, queries probe their
    nprobe nearest lists, exact cosine ranks candidates.  Uses the
    deterministic data-independent centroids so the DuckDB oracle can
    inline them; production swaps in train_ivf_centroids (k-means on a
    sample — pytest covers recall with trained centroids)."""
    emb = _embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10)
    return sorted_output(
        similarity.ivf_topk(
            emb, q, k=5, n_centroids=_IVF_K, nprobe=_IVF_NPROBE, dim=64
        )
        .withColumn("cosine", F.round("cosine", 6))
        .withColumn("rank", F.col("rank").cast("long")),
        "query_id",
        "rank",
    )


def sql_similarity_ivf() -> str:
    cents = similarity.make_ivf_centroids(64, _IVF_K)
    dot_list = ", ".join(
        "list_dot_product(embedding, ["
        + ", ".join(f"{x!r}" for x in c)
        + "])"
        for c in cents
    )
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
dots AS (SELECT vec_id, embedding, [{dot_list}] AS d FROM emb),
corpus AS (
  SELECT vec_id AS neighbor_id, list_position(d, list_max(d)) - 1 AS centroid
  FROM dots
),
probes AS (
  SELECT vec_id AS query_id, cid AS centroid FROM (
    SELECT vec_id, generate_subscripts(d, 1) - 1 AS cid, unnest(d) AS dot
    FROM dots WHERE vec_id < 10
  ) t QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid ASC)
      <= {_IVF_NPROBE}
),
cand AS (
  SELECT query_id, neighbor_id
  FROM probes JOIN corpus USING (centroid)
  WHERE query_id != neighbor_id
),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(q.embedding, c.embedding) /
         (sqrt(list_dot_product(q.embedding, q.embedding)) *
          sqrt(list_dot_product(c.embedding, c.embedding))) AS cosine
  FROM cand JOIN emb q ON q.vec_id = query_id
            JOIN emb c ON c.vec_id = neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# text analysis queries
# ---------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sorted_output(textstats.text_stats(_docs(spark, sf_dir)), "doc_id")


def _text_stats_sql(src: str) -> str:
    """text_stats oracle arithmetic over ``src`` (no ORDER BY) — shared
    by sql_text_stats (documents) and sql_corpus_clean (docs∪replicas)
    so the quality formula cannot diverge between the two oracles."""
    stop = ", ".join(f"'{w}'" for w in textstats.STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id, text,
         string_split(trim(text), ' ') AS words,
         length(text) AS n_chars
  FROM {src}
),
m AS (
  SELECT doc_id,
         len(words)::BIGINT AS n_words,
         n_chars::BIGINT AS n_chars,
         length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len(words) AS awl,
         len(list_filter(words, w -> w IN ({stop}))) * 1.0 / len(words) AS sr,
         (n_chars - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
           / greatest(n_chars, 1) AS pr
  FROM base
)
SELECT doc_id, n_words, n_chars,
       round(awl, 4) AS avg_word_len,
       round(sr, 4) AS stop_ratio,
       round(pr, 4) AS punct_ratio,
       CASE WHEN n_words < 5 THEN 0.0
            WHEN awl > 12 THEN 0.2
            ELSE round(1.0 - least(pr * 2.0, 0.5)
                           - least(abs(sr - 0.12) * 1.5, 0.5), 4)
       END AS quality
FROM m"""


def sql_text_stats() -> str:
    return _text_stats_sql("documents") + " ORDER BY doc_id\n"


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals (operators/textstats.py:
    repetition_stats): duplicate-line fractions plus top-{2,3,4}-gram
    and duplicate-{5..10}-gram character fractions per doc — the
    repetitious-text filter of Gopher A1 / The Pile / Dolma.  One
    narrow Arrow-batched pass, zero shuffle; the oracle recomputes
    every signal with per-n unnest + groupBy CTEs."""
    return sorted_output(textstats.repetition_stats(_docs(spark, sf_dir)), "doc_id")


def sql_repetition_stats() -> str:
    gram_ctes, cols = [], []
    for n in textstats.TOP_NGRAMS + textstats.DUP_NGRAMS:
        gram_ctes.append(f"""
g{n} AS (
  SELECT doc_id, unnest([array_to_string(words[i:i+{n}-1], ' ')
                         for i in range(1, len(words) - {n} + 2)]) AS g
  FROM w WHERE len(words) >= {n}
),
c{n} AS (SELECT doc_id, g, count(*) AS c FROM g{n} GROUP BY doc_id, g)""")
    for n in textstats.TOP_NGRAMS:
        gram_ctes.append(f"""
top{n} AS (
  SELECT doc_id, c * length(g) AS chars
  FROM (SELECT doc_id, g, c,
               row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
        FROM c{n}) r
  WHERE rn = 1
)""")
        cols.append(
            f"round(coalesce(top{n}.chars * 1.0 / w.tc, 0), 6)"
            f" AS top_{n}gram_frac"
        )
    for n in textstats.DUP_NGRAMS:
        gram_ctes.append(f"""
dup{n} AS (
  SELECT doc_id, sum(c * length(g)) AS chars FROM c{n}
  WHERE c >= 2 GROUP BY doc_id
)""")
        cols.append(
            f"round(coalesce(dup{n}.chars * 1.0 / w.tc, 0), 6)"
            f" AS dup_{n}gram_frac"
        )
    joins = "\n".join(
        f"LEFT JOIN top{n} ON top{n}.doc_id = b.doc_id"
        for n in textstats.TOP_NGRAMS
    ) + "\n" + "\n".join(
        f"LEFT JOIN dup{n} ON dup{n}.doc_id = b.doc_id"
        for n in textstats.DUP_NGRAMS
    )
    gram_cte_sql = ",".join(gram_ctes)
    col_sql = ",\n       ".join(cols)
    return f"""
WITH base AS (
  SELECT doc_id, text,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
),
w AS (
  SELECT doc_id, string_split(norm, ' ') AS words, length(norm) AS tc
  FROM base WHERE norm <> ''
),
l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM base),
lc AS (
  SELECT doc_id, line, count(*) AS c FROM l WHERE line <> ''
  GROUP BY doc_id, line
),
lstat AS (
  SELECT doc_id,
         sum(c) AS n_lines,
         sum(c * length(line)) AS n_lchars,
         sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_n,
         sum(CASE WHEN c >= 2 THEN c * length(line) ELSE 0 END) AS dup_ch
  FROM lc GROUP BY doc_id
),{gram_cte_sql}
SELECT b.doc_id,
       round(coalesce(lstat.dup_n * 1.0 / nullif(lstat.n_lines, 0), 0), 6)
         AS dup_line_frac,
       round(coalesce(lstat.dup_ch * 1.0 / nullif(lstat.n_lchars, 0), 0), 6)
         AS dup_line_char_frac,
       {col_sql}
FROM base b
LEFT JOIN w ON w.doc_id = b.doc_id
LEFT JOIN lstat ON lstat.doc_id = b.doc_id
{joins}
ORDER BY b.doc_id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sorted_output(textstats.lang_id(_extracted_pages(spark, sf_dir)), "url")


def sql_lang_id() -> str:
    return f"""
WITH t AS ({_extract_sql()}),
m AS (
  SELECT url,
         length(text) AS n,
         length(text) - length(regexp_replace(text, '\\p{{Han}}', '', 'g')) AS han
  FROM t
)
SELECT url, round(han * 1.0 / greatest(n, 1), 4) AS han_ratio,
       CASE WHEN han * 1.0 / greatest(n, 1) > 0.5 THEN 'zh' ELSE 'other' END AS pred_lang
FROM m ORDER BY url
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sorted_output(textstats.token_counts(_docs(spark, sf_dir)), "doc_id")


def sql_token_counts() -> str:
    return f"""
SELECT doc_id,
       len(string_split(trim(text), ' '))::BIGINT AS ws_tokens,
       len(regexp_extract_all(text, '{textstats.TOKEN_RE}'))::BIGINT AS re_tokens
FROM documents ORDER BY doc_id
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (MOSS) — the near-dup
    fingerprint with the k+w−1 match guarantee; one Arrow-batched
    numpy kernel (see the operator for why Catalyst is quadratic
    here)."""
    return sorted_output(
        textstats.winnow_fingerprints(_docs(spark, sf_dir)),
        "doc_id",
        "fingerprint",
    )


def _winnow_ctes(src: str) -> str:
    """the base → hashed → winnowed CTE chain (SQL mirror of
    textstats.winnow_fingerprints) over ``src`` — shared by
    sql_winnow_fingerprints and sql_winnow_pairs."""
    k, w = textstats.WINNOW_K, textstats.WINNOW_W
    mod = 1_000_003
    powers = [(31 ** (k - 1 - j)) for j in range(k)]
    hash_terms = " + ".join(
        f"ascii(t[p + {j}]) * {powers[j]}" for j in range(k)
    )
    return f"""base AS (SELECT doc_id, lower(trim(text)) AS t FROM {src} d),
hashed AS (
  SELECT doc_id,
         [({hash_terms}) % {mod}
          for p in range(1, greatest(length(t) - {k} + 1, 0) + 1)] AS hashes
  FROM base WHERE length(t) >= {k}
),
winnowed AS (
  SELECT doc_id,
         list_sort(list_distinct(
           [list_min(hashes[i:i + {w} - 1])
            for i in range(1, greatest(len(hashes) - {w} + 1, 0) + 1)]
         )) AS fps
  FROM hashed WHERE len(hashes) >= {w}
)"""


def sql_winnow_fingerprints() -> str:
    return f"""
WITH {_winnow_ctes("documents")}
SELECT doc_id, unnest(fps)::INT AS fingerprint
FROM winnowed WHERE len(fps) > 0
ORDER BY doc_id, fingerprint
"""


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS overlap-pair report (textstats.winnow_overlap_pairs) over
    documents ∪ replicas: pairs sharing >= WINNOW_MIN_SHARED winnowed
    fingerprints with the shared count — the fingerprint self-join in
    the capped LSH-candidate shape (fingerprints above the strict
    WINNOW_PAIR_CAP are common-vocabulary noise: dropped, never
    pair-enumerated)."""
    return sorted_output(
        textstats.winnow_overlap_pairs(_docs_with_replicas(spark, sf_dir)),
        "doc_a",
        "doc_b",
    )


def sql_winnow_pairs() -> str:
    return f"""
WITH {_winnow_ctes(_DOCS_REPL_SQL)},
fp AS (SELECT doc_id, unnest(fps)::INT AS fingerprint
       FROM winnowed WHERE len(fps) > 0),
fsize AS (SELECT fingerprint, count(*) AS n FROM fp GROUP BY fingerprint),
fpc AS (SELECT fp.* FROM fp JOIN fsize USING (fingerprint)
        WHERE fsize.n <= {textstats.WINNOW_PAIR_CAP})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS shared_fps
FROM fpc a JOIN fpc b
  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {textstats.WINNOW_MIN_SHARED}
ORDER BY doc_a, doc_b
"""


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc tf·idf keyword extraction (textstats.tfidf_keywords):
    top-3 words by tf·ln(N/df), idf 9-dp-quantized before the product
    (the dsir convention), ties broken (score desc, word asc).  The
    ranking window partitions by doc — bounded, skewless."""
    return sorted_output(
        textstats.tfidf_keywords(_docs(spark, sf_dir)), "doc_id", "rk"
    )


def sql_tfidf_keywords() -> str:
    k = textstats.TFIDF_TOP_K
    return f"""
WITH wf AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split({_NORM_TEXT_SQL}, ' ')) AS word
    FROM documents d
  ) t WHERE length(word) > 0
),
tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
       FROM wf GROUP BY doc_id, word),
df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
scored AS (
  SELECT doc_id, word, tf,
         round(tf * round(ln(n.n / df), 9), 6) AS score
  FROM tf JOIN df USING (word) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, word ASC) AS rk
  FROM scored
)
SELECT doc_id, word, tf, score, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {k} ORDER BY doc_id, rk
"""


def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (textstats.pmi_bigrams): top-50 adjacent
    word pairs by ln(c_pair·T/(c1·c2)) among pairs seen >= 5 times —
    two uniform-key count groupBys, a scalar-total broadcast, and a
    bounded TakeOrdered cut (no full sort)."""
    return sorted_output(
        textstats.pmi_bigrams(_docs(spark, sf_dir)), F.desc("pmi"), "w1", "w2"
    )


def sql_pmi_bigrams() -> str:
    m = textstats.PMI_MIN_COUNT
    k = textstats.PMI_TOP_K
    return f"""
WITH bg AS (
  SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
    SELECT doc_id,
           unnest([{{'w1': words[i], 'w2': words[i + 1]}}
                   for i in range(1, len(words))]) AS u
    FROM (SELECT doc_id, string_split({_NORM_TEXT_SQL}, ' ') AS words
          FROM documents d) t
  ) x WHERE length(w1) > 0 AND length(w2) > 0
),
bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_pair
       FROM bg GROUP BY w1, w2),
uni AS (
  SELECT word, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT unnest(string_split({_NORM_TEXT_SQL}, ' ')) AS word
    FROM documents d
  ) t WHERE length(word) > 0 GROUP BY word
),
tot AS (SELECT CAST(sum(c_pair) AS DOUBLE) AS t FROM bc)
SELECT w1, w2, c_pair,
       round(ln(c_pair * tot.t / (u1.c * u2.c)), 6) AS pmi
FROM bc JOIN uni u1 ON bc.w1 = u1.word
        JOIN uni u2 ON bc.w2 = u2.word
        CROSS JOIN tot
WHERE c_pair >= {m}
ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT {k}
"""


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sorted_output(textstats.fingerprints(_docs(spark, sf_dir)), "doc_id")


def sql_fingerprints() -> str:
    return """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(
           string_split(lower(trim(text)), ' '))), ' ')) AS fingerprint
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# relational / window operator coverage (SURVEY.md §2.4-2.6 analogs)
# ---------------------------------------------------------------------------


def q_label_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: Counter(labels) → groupBy().count()."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type")
    )


def sql_label_freq() -> str:
    return "SELECT event_type, count(*) AS n FROM events GROUP BY event_type ORDER BY event_type"


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: length histogram, sorted by key (crf_gen_taggers.py:151-154)."""
    return (
        _docs(spark, sf_dir)
        .groupBy((F.floor(F.col("n_chars") / 50) * 50).cast("long").alias("len_bucket"))
        .agg(F.count("*").alias("n"))
        .orderBy("len_bucket")
    )


def sql_length_histogram() -> str:
    return (
        "SELECT (floor(n_chars / 50) * 50)::BIGINT AS len_bucket, count(*) AS n "
        "FROM documents GROUP BY 1 ORDER BY 1"
    )


def q_distinct_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/U1: distinct label set ∪ {'O'}, sorted (gatherLabels)."""
    ev = _events(spark, sf_dir).select(F.col("event_type").alias("label")).distinct()
    o = local_frame(spark, [("O",)], "label string")
    return ev.unionByName(o).distinct().orderBy("label")


def sql_distinct_labels() -> str:
    return (
        "SELECT DISTINCT label FROM "
        "(SELECT event_type AS label FROM events UNION SELECT 'O') t ORDER BY label"
    )


def q_vocab_min_occur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: vocab build with min-occur filter + stable ids
    (chinese_CONLL.py:44-86)."""
    words = _docs(spark, sf_dir).select(
        F.explode(F.split(F.trim("text"), " ")).alias("word")
    )
    counts = (
        words.filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 100)
    )
    # Scale-safe global ranking — no single-partition Window.orderBy:
    # range-partition on the sort key, rank locally per partition, then
    # add per-partition offsets (a tiny #partitions-sized table computed
    # with a window over partition ids and broadcast back).  Global ids
    # are exact for any range-boundary placement because (n desc, word)
    # is a strict total order and range partitions are key-ordered.
    from pyspark import StorageLevel

    ranged = counts.repartitionByRange(F.desc("n"), F.asc("word")).withColumn(
        "pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("pid").orderBy(F.desc("n"), F.asc("word"))
    # persisted: feeds both the offsets branch and the final join —
    # without it the full word-count scan+groupBy runs twice
    local = ranged.withColumn("local_rn", F.row_number().over(w_local)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("pid")
        .agg(F.count("*").alias("cnt"))
        .withColumn("offset", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)))
        .select("pid", "offset")
    )
    return (
        local.join(F.broadcast(offsets), "pid")
        .withColumn("word_id", (F.col("local_rn") + F.col("offset")).cast("long"))
        .select("word", "n", "word_id")
        .orderBy("word_id")
    )


def sql_vocab_min_occur() -> str:
    return """
SELECT word, n, row_number() OVER (ORDER BY n DESC, word ASC) AS word_id
FROM (
  SELECT word, count(*) AS n
  FROM (SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents) t
  WHERE length(word) > 0 GROUP BY word HAVING count(*) > 100
) c ORDER BY word_id
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: top-k by score per group (n-best cut, mrc_utils.py:392-401)."""
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        _events(spark, sf_dir)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("user_id", "event_id", "value", "rank")
        .orderBy("user_id", "rank")
    )


def sql_topk_per_group() -> str:
    return """
SELECT user_id, event_id, value, rank FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id ASC) AS rank
  FROM events
) t WHERE rank <= 3 ORDER BY user_id, rank
"""


def q_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: keep-first dedup within a partition (mrc_utils.py:397-415)."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        _events(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id")
        .orderBy("user_id", "event_type")
    )


def sql_window_dedup() -> str:
    return """
SELECT user_id, event_type, event_id FROM (
  SELECT user_id, event_type, event_id,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
) t WHERE rn = 1 ORDER BY user_id, event_type
"""


def q_softmax_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: max-shifted exp-normalize within group (mrc_utils.py:19-39)."""
    w = Window.partitionBy("user_id")
    ev = _events(spark, sf_dir)
    shifted = F.exp(F.col("value") - F.max("value").over(w))
    return ev.select(
        "user_id",
        "event_id",
        F.round(shifted / F.sum(shifted).over(w), 6).alias("softmax"),
    ).orderBy("user_id", "event_id")


def sql_softmax_scores() -> str:
    return """
SELECT user_id, event_id,
       round(shifted / sum(shifted) OVER (PARTITION BY user_id), 6) AS softmax
FROM (
  SELECT user_id, event_id,
         exp(value - max(value) OVER (PARTITION BY user_id)) AS shifted
  FROM events
) t ORDER BY user_id, event_id
"""


def q_masked_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: mean of an agreement flag over masked rows (crf_albert.py:79-87)."""
    ev = _events(spark, sf_dir)
    return ev.agg(
        F.round(
            F.avg(F.when(F.col("event_type") == "click", (F.col("value") > 10).cast("int"))),
            6,
        ).alias("masked_acc")
    )


def sql_masked_accuracy() -> str:
    return (
        "SELECT round(avg(CASE WHEN event_type = 'click' "
        "THEN CASE WHEN value > 10 THEN 1 ELSE 0 END END), 6) AS masked_acc FROM events"
    )


def q_label_map_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: label remap via broadcast dimension join (taggerMapping)."""
    mapping = local_frame(
        spark,
        [
            ("click", "interaction"),
            ("view", "impression"),
            ("purchase", "conversion"),
            ("error", "fault"),
        ],
        "event_type string, canon string",
    )
    ev = _events(spark, sf_dir)
    return (
        ev.join(F.broadcast(mapping), "event_type", "left")
        .groupBy(F.coalesce("canon", F.lit("other")).alias("canon"))
        .agg(F.count("*").alias("n"))
        .orderBy("canon")
    )


def sql_label_map_join() -> str:
    return """
WITH mapping(event_type, canon) AS (
  VALUES ('click', 'interaction'), ('view', 'impression'),
         ('purchase', 'conversion'), ('error', 'fault')
)
SELECT coalesce(m.canon, 'other') AS canon, count(*) AS n
FROM events e LEFT JOIN mapping m ON e.event_type = m.event_type
GROUP BY 1 ORDER BY 1
"""


def q_three_way_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: deterministic train/dev/test split (split_files.py:13-27 —
    md5-bucketed instead of shuffled so the oracle can reproduce it)."""
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast(
        "int"
    )
    split = (
        F.when(bucket < 230, "train").when(bucket < 238, "dev").otherwise("test")
    )
    return (
        _docs(spark, sf_dir)
        .select(split.alias("split"))
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .orderBy("split")
    )


def sql_three_way_split() -> str:
    return """
SELECT split, count(*) AS n FROM (
  SELECT CASE WHEN b < 230 THEN 'train' WHEN b < 238 THEN 'dev' ELSE 'test' END AS split
  FROM (SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 2))::INT AS b FROM documents) t
) s GROUP BY split ORDER BY split
"""


def q_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: sliding doc-span windows (stride 16, span 32 words —
    mrc_utils.py:253-264 shape at word level)."""
    stride, span = 16, 32
    d = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim("text"), " ").alias("words")
    )
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("words") - 1, F.lit(0)),
        F.lit(stride),
    )
    return (
        d.select("doc_id", F.size("words").alias("n_words"), F.explode(starts).alias("start"))
        .select(
            "doc_id",
            F.col("start").cast("long").alias("start"),
            F.least(F.lit(span), F.col("n_words") - F.col("start")).cast("long").alias("span_len"),
        )
        .filter(F.col("span_len") > 0)
        .orderBy("doc_id", "start")
    )


def sql_doc_spans() -> str:
    return """
SELECT doc_id, start, least(32, n_words - start) AS span_len FROM (
  SELECT doc_id, len(string_split(trim(text), ' ')) AS n_words,
         unnest(range(0, greatest(len(string_split(trim(text), ' ')) - 1, 0) + 1, 16)) AS start
  FROM documents
) t WHERE least(32, n_words - start) > 0 ORDER BY doc_id, start
"""


def q_conlleval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: conlleval chunk P/R/F1 as DataFrame aggregation, on synthetic
    BIO tags derived deterministically from the events table."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id")
    gold = (
        F.when(F.col("event_type") == "click", "B-ACT")
        .when(F.col("event_type") == "view", "I-ACT")
        .when(F.col("event_type") == "purchase", "B-BUY")
        .otherwise("O")
    )
    tokens = ev.select(
        F.col("user_id").alias("sent_id"),
        F.row_number().over(w).alias("pos"),
        gold.alias("gold"),
    ).withColumn(
        "pred",
        F.when((F.col("pos") % 7) == 0, "O").otherwise(F.col("gold")),
    )
    return conll_eval(tokens)


def q_seqeval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: seqeval-style per-type entity P/R/F1
    (test/albertNER/test_albert_ner.py:210-216) over the same synthetic
    BIO tags as conlleval_metrics — the per-type grouping of A9's chunk
    machinery."""
    from .operators.conlleval import conll_eval_by_type

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id")
    gold = (
        F.when(F.col("event_type") == "click", "B-ACT")
        .when(F.col("event_type") == "view", "I-ACT")
        .when(F.col("event_type") == "purchase", "B-BUY")
        .otherwise("O")
    )
    tokens = ev.select(
        F.col("user_id").alias("sent_id"),
        F.row_number().over(w).alias("pos"),
        gold.alias("gold"),
    ).withColumn(
        "pred",
        F.when((F.col("pos") % 7) == 0, "O").otherwise(F.col("gold")),
    )
    return conll_eval_by_type(tokens)


# chunk-extraction CTEs shared by the conlleval (global) and seqeval
# (per-type) oracles: tokens → gold chunks (gc) / pred chunks (pc)
_CONLL_CHUNK_CTES = """
WITH tokens AS (
  SELECT user_id AS sent_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS pos,
         CASE event_type WHEN 'click' THEN 'B-ACT' WHEN 'view' THEN 'I-ACT'
                         WHEN 'purchase' THEN 'B-BUY' ELSE 'O' END AS gold
  FROM events
),
tp AS (SELECT sent_id, pos, gold,
              CASE WHEN pos % 7 = 0 THEN 'O' ELSE gold END AS pred
       FROM tokens),
gc AS (
  SELECT sent_id, ctype, chunk_id, min(pos) AS start, max(pos) AS "end" FROM (
    SELECT sent_id, pos, ctype,
           sum(CASE WHEN is_start THEN 1 ELSE 0 END)
             OVER (PARTITION BY sent_id ORDER BY pos) AS chunk_id
    FROM (
      SELECT sent_id, pos,
             CASE WHEN gold = 'O' THEN NULL ELSE substr(gold, 3) END AS ctype,
             CASE WHEN gold = 'O' THEN FALSE
                  WHEN substr(gold, 1, 1) = 'B' THEN TRUE
                  WHEN lag(CASE WHEN gold = 'O' THEN NULL ELSE substr(gold, 3) END)
                       OVER (PARTITION BY sent_id ORDER BY pos)
                       IS DISTINCT FROM
                       CASE WHEN gold = 'O' THEN NULL ELSE substr(gold, 3) END
                       THEN TRUE ELSE FALSE END AS is_start
      FROM tp
    ) x
  ) y WHERE ctype IS NOT NULL GROUP BY sent_id, ctype, chunk_id
),
pc AS (
  SELECT sent_id, ctype, chunk_id, min(pos) AS start, max(pos) AS "end" FROM (
    SELECT sent_id, pos, ctype,
           sum(CASE WHEN is_start THEN 1 ELSE 0 END)
             OVER (PARTITION BY sent_id ORDER BY pos) AS chunk_id
    FROM (
      SELECT sent_id, pos,
             CASE WHEN pred = 'O' THEN NULL ELSE substr(pred, 3) END AS ctype,
             CASE WHEN pred = 'O' THEN FALSE
                  WHEN substr(pred, 1, 1) = 'B' THEN TRUE
                  WHEN lag(CASE WHEN pred = 'O' THEN NULL ELSE substr(pred, 3) END)
                       OVER (PARTITION BY sent_id ORDER BY pos)
                       IS DISTINCT FROM
                       CASE WHEN pred = 'O' THEN NULL ELSE substr(pred, 3) END
                       THEN TRUE ELSE FALSE END AS is_start
      FROM tp
    ) x
  ) y WHERE ctype IS NOT NULL GROUP BY sent_id, ctype, chunk_id
)"""


def sql_conlleval() -> str:
    return _CONLL_CHUNK_CTES + """,
correct AS (
  SELECT count(*) AS correct_chunks
  FROM gc JOIN pc ON gc.sent_id = pc.sent_id AND gc.start = pc.start
                 AND gc."end" = pc."end" AND gc.ctype = pc.ctype
),
tok AS (SELECT count(*) AS n_tokens,
               sum(CASE WHEN gold = pred THEN 1 ELSE 0 END) AS n_correct_tok
        FROM tp),
g AS (SELECT count(*) AS gold_chunks FROM gc),
p AS (SELECT count(*) AS pred_chunks FROM pc)
SELECT n_tokens,
       round(n_correct_tok * 1.0 / n_tokens, 6) AS token_accuracy,
       gold_chunks, pred_chunks, correct_chunks,
       round(correct_chunks * 1.0 / greatest(pred_chunks, 1), 6) AS precision,
       round(correct_chunks * 1.0 / greatest(gold_chunks, 1), 6) AS recall,
       round(2.0 * correct_chunks / greatest(pred_chunks + gold_chunks, 1), 6) AS f1
FROM tok, g, p, correct
"""


def sql_seqeval() -> str:
    return _CONLL_CHUNK_CTES + """,
g AS (SELECT ctype, count(*) AS gold_chunks FROM gc GROUP BY ctype),
p AS (SELECT ctype, count(*) AS pred_chunks FROM pc GROUP BY ctype),
c AS (
  SELECT gc.ctype, count(*) AS correct_chunks
  FROM gc JOIN pc ON gc.sent_id = pc.sent_id AND gc.start = pc.start
                 AND gc."end" = pc."end" AND gc.ctype = pc.ctype
  GROUP BY gc.ctype
)
SELECT coalesce(g.ctype, p.ctype) AS ctype,
       coalesce(gold_chunks, 0) AS gold_chunks,
       coalesce(pred_chunks, 0) AS pred_chunks,
       coalesce(correct_chunks, 0) AS correct_chunks,
       round(coalesce(correct_chunks, 0) * 1.0
             / greatest(coalesce(pred_chunks, 0), 1), 6) AS precision,
       round(coalesce(correct_chunks, 0) * 1.0
             / greatest(coalesce(gold_chunks, 0), 1), 6) AS recall,
       round(2.0 * coalesce(correct_chunks, 0)
             / greatest(coalesce(pred_chunks, 0) + coalesce(gold_chunks, 0), 1), 6)
         AS f1
FROM g
FULL OUTER JOIN p ON g.ctype = p.ctype
FULL OUTER JOIN c ON coalesce(g.ctype, p.ctype) = c.ctype
ORDER BY ctype
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

from .queries_relational import ORACLES2, QUERIES2  # noqa: E402

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # KG pipeline (SQL-checked stages)
    "kg_extract_text": q_kg_extract_text,
    "kg_lang_gate": q_kg_lang_gate,
    "kg_sentences": q_kg_sentences,
    "kg_records": q_kg_records,
    "kg_components": q_kg_components,
    # KG pipeline (model-based; golden-parquet numpy oracle + pytest parity)
    "kg_mentions": q_kg_mentions,
    "kg_linked": q_kg_linked,
    "kg_triples": q_kg_triples,
    "mrc_answers": q_mrc_answers,
    "kg_relations_scored": q_kg_relations_scored,
    "kg_relations_bag": q_kg_relations_bag,
    # streaming ingest + bucketed graph sink (golden-gated round trips)
    "streaming_triples": q_streaming_triples,
    "streaming_sessions": q_streaming_sessions,
    "streaming_dedup": q_streaming_dedup,
    "streaming_neardup": q_streaming_neardup,
    "graph_bucketed_degree": q_graph_bucketed_degree,
    # beyond-reference graph analytics over the built entity graph
    "graph_pagerank": q_graph_pagerank,
    "graph_triangles": q_graph_triangles,
    "graph_kcore": q_graph_kcore,
    "graph_khop": q_graph_khop,
    # A11 lineage + resumable stage snapshots, gated end to end
    "pipeline_lineage": q_pipeline_lineage,
    # distributed training analog (F17/W8) — golden-parquet oracle from
    # the independent single-pass numpy fit (oracle/fit.py), plus
    # tests/test_fit_distributed.py single-node parity
    "crf_fit_distributed": q_crf_fit_distributed,
    "dirty_json": q_dirty_json,
    # dedup family
    "dedup_exact": q_dedup_exact,
    "dedup_minhash": q_dedup_minhash,
    "dedup_lsh_pairs": q_dedup_lsh_pairs,
    "lsh_bucket_stats": q_lsh_bucket_stats,
    "dedup_jaccard": q_dedup_jaccard,
    "decontaminate": q_decontaminate,
    "repetition_stats": q_repetition_stats,
    "dsir_weights": q_dsir_weights,
    "dedup_spans": q_dedup_spans,
    "c4_clean": q_c4_clean,
    "pii_scrub": q_pii_scrub,
    "domain_sample": q_domain_sample,
    "pack_chunks": q_pack_chunks,
    "host_boilerplate": q_host_boilerplate,
    "lm_perplexity": q_lm_perplexity,
    "quality_classifier": q_quality_classifier,
    "dedup_span_clean": q_dedup_span_clean,
    "url_canonicalize": q_url_canonicalize,
    "crawl_diff": q_crawl_diff,
    "corpus_report": q_corpus_report,
    "bpe_merges": q_bpe_merges,
    "bpe_token_counts": q_bpe_token_counts,
    "winnow_pairs": q_winnow_pairs,
    "tfidf_keywords": q_tfidf_keywords,
    "pmi_bigrams": q_pmi_bigrams,
    "corpus_shuffle": q_corpus_shuffle,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_embedding": q_dedup_embedding,
    "dedup_keep": q_dedup_keep,
    "corpus_clean": q_corpus_clean,
    # multimodal decode + resize
    "multimodal_features": q_multimodal_features,
    "multimodal_resize": q_multimodal_resize,
    # similarity search
    "similarity_topk": q_similarity_topk,
    "similarity_lsh": q_similarity_lsh,
    "similarity_ivf": q_similarity_ivf,
    # text analysis
    "text_stats": q_text_stats,
    "lang_id": q_lang_id,
    "token_counts": q_token_counts,
    "fingerprints": q_fingerprints,
    "winnow_fingerprints": q_winnow_fingerprints,
    # relational/window operator coverage
    "label_freq": q_label_freq,
    "length_histogram": q_length_histogram,
    "distinct_labels": q_distinct_labels,
    "vocab_min_occur": q_vocab_min_occur,
    "topk_per_group": q_topk_per_group,
    "window_dedup": q_window_dedup,
    "softmax_scores": q_softmax_scores,
    "masked_accuracy": q_masked_accuracy,
    "label_map_join": q_label_map_join,
    "three_way_split": q_three_way_split,
    "doc_spans": q_doc_spans,
    "conlleval_metrics": q_conlleval,
    "seqeval_metrics": q_seqeval,
    # nested-JSON source
    "squad_read": q_squad_read,
    # batch 2: MRC-path + relational coverage (queries_relational.py)
    **QUERIES2,
}

_GOLDEN_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "golden")


def sql_golden(name: str) -> str:
    """Oracle for the model-based flagship queries: committed golden
    parquet produced by the INDEPENDENT single-node numpy oracle
    (oracle/docworld.py — no Spark in that path).  Regenerate with
    ``python -m knowledgeextraction_spark.oracle.docworld``; freshness
    vs a live numpy run is asserted in tests/test_docworld_golden.py.
    The driver compares at sf0.01 (the default); local pytest points
    SPARKKG_GOLDEN_SF at its own scale factor (tests/conftest.py)."""
    sf = os.environ.get("SPARKKG_GOLDEN_SF", "sf0.01")
    return f"SELECT * FROM read_parquet('{_GOLDEN_DIR}/{sf}/{name}.parquet')"


ORACLES: dict[str, str] = {
    "kg_extract_text": sql_kg_extract_text(),
    "kg_mentions": sql_golden("kg_mentions"),
    "kg_linked": sql_golden("kg_linked"),
    "kg_triples": sql_golden("kg_triples"),
    "mrc_answers": sql_golden("mrc_answers"),
    "kg_relations_scored": sql_golden("kg_relations_scored"),
    "kg_relations_bag": sql_kg_relations_bag(),
    "crf_fit_distributed": sql_golden("crf_fit"),
    "streaming_triples": sql_golden("kg_triples"),
    "streaming_sessions": sql_streaming_sessions(),
    "streaming_dedup": sql_streaming_dedup(),
    "streaming_neardup": sql_streaming_neardup(),
    "graph_bucketed_degree": sql_graph_bucketed_degree(),
    "graph_pagerank": sql_graph_pagerank(),
    "graph_triangles": sql_graph_triangles(),
    "graph_kcore": sql_graph_kcore(),
    "graph_khop": sql_graph_khop(),
    "pipeline_lineage": sql_pipeline_lineage(),
    "dirty_json": sql_dirty_json(),
    "kg_lang_gate": sql_kg_lang_gate(),
    "kg_sentences": sql_kg_sentences(),
    "kg_records": sql_kg_records(),
    "kg_components": sql_kg_components(),
    "dedup_exact": sql_dedup_exact(),
    "dedup_minhash": sql_dedup_minhash(),
    "dedup_lsh_pairs": sql_dedup_lsh_pairs(),
    "lsh_bucket_stats": sql_lsh_bucket_stats(),
    "dedup_jaccard": sql_dedup_jaccard(),
    "decontaminate": sql_decontaminate(),
    "repetition_stats": sql_repetition_stats(),
    "dsir_weights": sql_dsir_weights(),
    "dedup_spans": sql_dedup_spans(),
    "c4_clean": sql_c4_clean(),
    "pii_scrub": sql_pii_scrub(),
    "domain_sample": sql_domain_sample(),
    "pack_chunks": sql_pack_chunks(),
    "host_boilerplate": sql_host_boilerplate(),
    "lm_perplexity": sql_lm_perplexity(),
    "quality_classifier": sql_quality_classifier(),
    "dedup_span_clean": sql_dedup_span_clean(),
    "url_canonicalize": sql_url_canonicalize(),
    "crawl_diff": sql_crawl_diff(),
    "corpus_report": sql_corpus_report(),
    "bpe_merges": sql_golden("bpe_merges"),
    "bpe_token_counts": sql_golden("bpe_token_counts"),
    "winnow_pairs": sql_winnow_pairs(),
    "tfidf_keywords": sql_tfidf_keywords(),
    "pmi_bigrams": sql_pmi_bigrams(),
    "corpus_shuffle": sql_corpus_shuffle(),
    "dedup_simhash": sql_dedup_simhash(),
    "dedup_simhash_pairs": sql_dedup_simhash_pairs(),
    "dedup_embedding": sql_dedup_embedding(),
    "dedup_keep": sql_dedup_keep(),
    "corpus_clean": sql_corpus_clean(),
    "multimodal_features": sql_multimodal_features(),
    "multimodal_resize": sql_multimodal_resize(),
    "similarity_topk": sql_similarity_topk(),
    "similarity_lsh": sql_similarity_lsh(),
    "similarity_ivf": sql_similarity_ivf(),
    "text_stats": sql_text_stats(),
    "lang_id": sql_lang_id(),
    "token_counts": sql_token_counts(),
    "fingerprints": sql_fingerprints(),
    "winnow_fingerprints": sql_winnow_fingerprints(),
    "label_freq": sql_label_freq(),
    "length_histogram": sql_length_histogram(),
    "distinct_labels": sql_distinct_labels(),
    "vocab_min_occur": sql_vocab_min_occur(),
    "topk_per_group": sql_topk_per_group(),
    "window_dedup": sql_window_dedup(),
    "softmax_scores": sql_softmax_scores(),
    "masked_accuracy": sql_masked_accuracy(),
    "label_map_join": sql_label_map_join(),
    "three_way_split": sql_three_way_split(),
    "doc_spans": sql_doc_spans(),
    "conlleval_metrics": sql_conlleval(),
    "seqeval_metrics": sql_seqeval(),
    "squad_read": sql_squad_read(),
    **ORACLES2,
}
