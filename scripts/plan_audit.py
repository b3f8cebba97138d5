#!/usr/bin/env python
"""Regenerate PLANS.md — the physical-plan audit of registered queries.

    python scripts/plan_audit.py [sf_dir]     # default /root/testdata/sf0.01

The table is computed from live ``executedPlan().toString()`` so it can
never go stale against the code (round-2 verdict item 8); the
commentary below is maintained here, next to the generator.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# fact-path-bearing queries worth auditing (pure dimension/window toys
# like label_freq add noise, not signal)
AUDIT = [
    "kg_triples",
    "kg_mentions",
    "mrc_answers",
    "kg_relations_scored",
    "kg_relations_bag",
    "streaming_triples",
    "streaming_sessions",
    "streaming_dedup",
    "streaming_neardup",
    "graph_bucketed_degree",
    "squad_read",
    "dedup_exact",
    "dedup_minhash",
    "dedup_lsh_pairs",
    "dedup_jaccard",
    "decontaminate",
    "dsir_weights",
    "dedup_spans",
    "c4_clean",
    "pii_scrub",
    "url_canonicalize",
    "crawl_diff",
    "bpe_merges",
    "bpe_token_counts",
    "domain_sample",
    "pack_chunks",
    "host_boilerplate",
    "lm_perplexity",
    "quality_classifier",
    "dedup_span_clean",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_embedding",
    "dedup_keep",
    "corpus_clean",
    "graph_pagerank",
    "graph_triangles",
    "graph_khop",
    "graph_kcore",
    "similarity_topk",
    "similarity_lsh",
    "similarity_ivf",
    "multimodal_features",
    "multimodal_resize",
    "text_stats",
    "repetition_stats",
    "winnow_fingerprints",
    "winnow_pairs",
    "tfidf_keywords",
    "pmi_bigrams",
    "vocab_min_occur",
    "sessionize",
    "retention_cohorts",
    "event_funnel",
    "corpus_shuffle",
    "conlleval_metrics",
    "seqeval_metrics",
]

HEADER = """# PLANS — physical-plan audit of the registered queries

Counts from `executedPlan().toString()` at {sf} (regenerate with
`python scripts/plan_audit.py`).  `exch` counts every `Exchange`
occurrence INCLUDING broadcast exchanges and dimension-table prep — the
fact-path shuffle story per query is in the commentary.

NOTE (r06): queries whose declared sort goes through `sorted_output`
(materialize.py) now register as `Sort ← Exchange ← Scan ExistingRDD` — the
pre-sort DAG is materialized by a localCheckpoint so the range
exchange's sampling pass cannot re-execute it, and is therefore
invisible to this audit.  The full upstream plans are committed under
`plans/r06/*_before.txt` (and `*_after_child.txt` for the heaviest
three); their shuffle story is unchanged from those captures.

| query | exch | single-partition | cartesian | broadcast | pushed-filter scans |
|---|---|---|---|---|---|
"""

COMMENTARY = """
Commentary (what the counts mean for the 100 TB plan):

- **kg_triples**: the FACT path (pages → detect → in-array pairing →
  broadcast joins) carries exactly one wide shuffle — the final
  `distinct` — plus the intentional `repartition` after the scan.  The
  other exchanges live in dimension prep (entity dictionary,
  connected-components map), which is corpus-size-independent.
- **kg_mentions / kg_relations_scored**: 1-2 exchanges = the scan
  repartition (+ the final orderBy); the model stages are narrow
  mapInPandas.
- **mrc_answers**: the 4 "cartesian" nodes are the broadcast fan-out of
  the 8-row entity-type table against pages (BroadcastNestedLoopJoin on
  an 8-row side — intentional example fan-out, not a join bug); the
  n-best assembly windows share one hash exchange on the example key.
- **kg_relations_bag**: the bag pooling itself is ONE hash exchange on
  the (subj, obj, predicate) bag key with map-side partial aggregation
  of the three running sums; the rest of the count is the upstream
  kg_relations_scored + kg_linked model stages it is built on (the
  entity joins broadcast the linked-mention side per record key).
- **streaming_triples**: the audited plan is the read-back scan of the
  streamed sink (ordered) — the per-epoch pages→triples plan inside
  `foreachBatch` is the kg_triples narrow plan.
- **graph_bucketed_degree**: the degree aggregation and the
  nodes⋈degree join both run on the bucket key of the saved tables, so
  the fact path is exchange-free after the scan (the counted exchanges
  are the upstream kg_triples write and the final orderBy);
  tests/test_bucketed_join.py asserts the Exchange-free join plan.
- **squad_read**: nested-JSON scan + explode is narrow; the single
  exchange is the output orderBy.
- **dedup family**: groupBys on hash keys (uniform, skewless); simhash
  is a single-aggregation plan and minhash a narrow projection over
  one shingle set per doc (no explode, no aggregation).  Candidate generation is cluster-linear: exact
  duplicates collapse to one representative before shingling (rep map
  = map-side-combinable groupBy + AQE-splittable join), and the
  per-bucket `MAX_BUCKET` cap is the same shape (`_cap_buckets`);
  multiply-referenced signature tables are checkpointed once so the
  self-joins read materialized blocks instead of re-running the
  scan→tokenize→signature upstream.  `dedup_jaccard`'s count includes BOTH the
  LSH-candidate branch and the verify branch over the shared persisted
  shingle-set table; the verify joins each candidate pair to the two
  sets and intersects them whole.  `decontaminate` is the no-pair-enumeration shape:
  the benchmark side collapses to a distinct shingle set once (small —
  eval suites, not corpora), the corpus shingle stream left-joins it on
  the uniform shingle key and folds into one map-side-combinable
  groupBy(doc_id) — linear in shingle volume at any corpus size.  `dedup_embedding` is the LSH-bucketed path (round-2
  verdict item 5): zero cartesian nodes — candidates come from the
  (band, bucket) self-join, and only verified pairs pay a cosine.
  `dedup_simhash_pairs` is the same shape on the simhash side: the
  pigeonhole (band, value) equality self-join replaces the all-pairs
  hamming scan.
- **dsir_weights**: the raw gram stream (the big frame) is consumed
  exactly once — it folds into checkpointed per-doc bucket counts from
  which the raw distribution and total re-aggregate (B-bounded /
  scalar, map-side combinable); the B-row log-ratio table enters the
  per-doc fold as a broadcast join, and the top-k flag is a k-bounded
  TakeOrdered broadcast back onto the checkpointed weight frame.  The
  only data-scale shuffles are groupBy(doc_id, bucket) and
  groupBy(doc_id) — linear in gram volume, skewless keys.  The low
  audited count is the lineage-cut artifact (same as pagerank): the
  final plan is the broadcast top-k flag join + output orderBy; the
  upstream (run once behind the checkpoints) additionally holds the
  two data-scale shuffles above plus the intentional single-row
  scalar-total crossjoins (broadcast, bounded).
- **dedup_spans**: positional-gram table checkpointed once (both the
  document-frequency agg and the join-back read it); duplicated-gram
  marking is one distinct + one uniform groupBy(gram) + a 1:1
  enrichment join (no row explosion — the dup-gram side is unique per
  gram); span merging is a per-doc window (shuffle on doc_id,
  skewless, sort bounded by doc length).  Linear in gram volume —
  the suffix-array-free ExactSubstr shape.  **dedup_span_clean** (the
  REMOVE half) adds a positional-word explode anti-joined against the
  span table — a hash join on doc_id with a residual range predicate
  (spans-per-doc bounded) — plus one reassembly groupBy; still linear.
- **c4_clean / pii_scrub / url_canonicalize**: pure narrow Catalyst
  (array lambdas / regexps) — the only exchange is the output orderBy
  (plus, for url_canonicalize, the bounded blocklist broadcast).
  **crawl_diff** is two narrow hash projections + ONE full-outer
  sort-merge join on the unique page key — linear, skewless, the
  incremental-recrawl primitive.
  **domain_sample**: one sources-bounded groupBy + a broadcast join
  back; the md5 keep draw is a narrow expression (no window, no
  per-source sort — skew-immune).  **pack_chunks**: one shuffle on
  the uniform md5 shard key + a per-shard running-sum window — the
  shard count bounds the longest sort, not the corpus.
- **host_boilerplate**: the exploded line stream is checkpointed once
  (count branch + reassembly branch both read it); flagging is one
  map-side-combinable count-distinct groupBy on the uniform
  (source, line) key joined against the sources-bounded doc-count
  broadcast; the enrichment join back and the reassembly groupBy both
  key on doc-scale uniform keys — a nav line on 10⁹ pages of one host
  is one group row, never a pair set.
- **lm_perplexity**: two uniform-gram-key count groupBys (bigram
  counts; prefix counts fold FROM the bigram table — the train stream
  is scanned once behind the checkpoint) + two shuffle joins of the
  scoring gram stream + one groupBy(doc_id).  The tercile machinery's
  single-partition window is over the 1e-4-GRID-bounded histogram
  (~10⁵ rows max at any corpus size), not the corpus — the
  single-partition exchanges in the count are that bounded table and
  the scalar total/boundary broadcasts.
- **bpe_merges**: the audited plan is the final createDataFrame of the
  learned merge rows (the training ran in the driver loop) — what
  matters is the per-round shape: pair counting is a narrow array
  transform + explode + ONE map-side-combinable groupBy over the
  VOCABULARY table (corpus-size-independent after the one word-count
  pass), the argmax is a one-row TakeOrdered, merge application is a
  narrow fold, and vocabulary lineage is cut every round.  The corpus
  is touched exactly once, at word_freq_table.  **bpe_token_counts**
  (the encode step) runs the 20-deep merge fold over the
  DISTINCT-word table only, joins it back onto the doc→word stream on
  the uniform word key (shuffle join — at web scale the vocabulary
  outgrows a broadcast) and folds per doc; the corpus stream never
  enters the fold expression.
- **quality_classifier**: per training round, the feature table (one
  row per doc×bucket, materialized once) joins the B-bounded
  broadcast weight table and folds to per-doc margins (uniform
  groupBy(doc_id)), residuals join back and fold to per-bucket
  gradients (B-bounded groupBy) — two linear shuffles per round, and
  the weight frame's lineage is cut per round (the pagerank pattern),
  so the audited final plan is the last round + scoring.  The
  diagonal preconditioner is one extra B-bounded agg computed once.
  Nothing driver-sized: weights and preconditioner are <=B+1-row
  broadcasts.
- **corpus_clean**: the dedup branch is dedup_keep's plan (edge set
  linear in duplicate mass, CC over it); the stats branch is pure
  narrow Catalyst; the final verdict⋈stats join is on the unique
  doc_id — both sides pre-hashed on it, no skew.
- **graph_pagerank / graph_triangles**: low counts are REAL, not an
  artifact — the iterative plans cut lineage per round
  (localCheckpoint), so the audited final plan is the last round's
  join + the output orderBy.  Per-round cost: pagerank pays one
  edges⋈rank join and one groupBy(dst) with map-side partial sums;
  triangles pays two joins on single node keys over the materialized
  oriented edge list (without that cut the three self-join references
  re-expanded the whole upstream triples pipeline — 529 exchanges in
  the first audit of this query).  pagerank runs the FULL variant: the
  per-round dangling-mass scalar aggregation reduces to ONE row and
  re-enters the update via a broadcast cross join — no extra data-
  scale shuffle.
- **graph_khop**: merged K-minimum-values sketches (ANF/HyperBall
  shape), NOT an exact pair set — per hop one edges⋈sketch join plus
  the salted two-stage truncation (two map-side-combinable groupBys,
  bounded per task even at a Zipfian hub; truncation is associative so
  the two-stage result is bit-identical to the single-pass rule the
  DuckDB oracle uses).  State is ≤ K+1 rows per node, so every hop is
  linear in E and N at any degree distribution — this replaced r4's
  hub-quadratic exact (src, dst) materialization.
- **graph_kcore**: distributed peeling — per round one degree
  groupBy (map-side combinable) over the surviving edge set and two
  left-semi joins on single node keys, each round's survivors and
  edge set checkpointed, so the audited final plan is the last
  round's nodes⟕survivors join + orderBy.  The survivor COUNT is the
  fixpoint probe (one N-bounded agg per round); no pair enumeration
  anywhere, so a Zipfian hub costs its degree and nothing more.
- **streaming_dedup**: audited plan is the read-back scan of the
  streamed sink; the in-stream plan is one hash exchange on
  content_hash into applyInPandasWithState carrying one long of state
  per distinct hash (the elected keeper, now emitted per row for
  contract auditing).
- **streaming_neardup**: audited plan is the read-back scan plus the
  per-doc verdict fold (one groupBy(doc_id) with map-side-combinable
  bool_and/min); the in-stream plan computes per-band minhash
  signatures NARROW (array_min over a transform of the row's shingle
  array — no streaming shuffle before the state operator) and pays one
  hash exchange on (band, sig) into applyInPandasWithState carrying
  one long of state per distinct bucket.
- **similarity_lsh**: per-band keying is one narrow Arrow-batched GEMM
  (the exchange count includes the scan repartitions of both sides);
  the wide work is the band-bucket join plus candidate dedup — the
  OR-amplified design pays B× index rows, never B× scans.
- **similarity_ivf**: assignment is the same narrow GEMM shape; corpus
  vectors land in ONE posting list each, so candidate pairs are unique
  by construction and the plan needs no distinct — one join on the
  centroid key plus the top-k window.
- **multimodal_features / multimodal_resize**: payload synthesis,
  (resize,) and decode are one narrow mapInPandas chain — media bytes
  never shuffle; the exchanges are the scan repartition and the output
  orderBy of the exploded features.
- **vocab_min_occur**: the single `SinglePartition` exchange is the
  ≤#partitions-row offsets table (bounded by cluster parallelism, not
  data); the word-scale path is range-partitioned.
- **conlleval_metrics / seqeval_metrics**: global (resp. per-type)
  P/R/F1 reduces to a handful of metric rows — the SinglePartition
  exchanges aggregate counters, each over #partitions rows.
- `WholeStageCodegen` markers are not rendered in Spark 4's
  pre-execution `executedPlan().toString()` under AQE; codegen
  coverage was spot-checked via `explain("formatted")` on the final
  adaptive plans.
"""


def audit(sf_dir: str) -> str:
    os.environ.setdefault(
        "SPARKKG_GOLDEN_SF", os.path.basename(sf_dir.rstrip("/"))
    )
    from knowledgeextraction_spark.materialize import release_all
    from knowledgeextraction_spark.queries import QUERIES
    from knowledgeextraction_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name in AUDIT:
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        rows.append(
            (
                name,
                len(re.findall(r"Exchange", plan)),
                len(re.findall(r"Exchange SinglePartition", plan)),
                len(re.findall(r"CartesianProduct|BroadcastNestedLoopJoin", plan)),
                len(re.findall(r"BroadcastExchange", plan)),
                len(re.findall(r"PushedFilters: \[(?!\])", plan)),
            )
        )
        release_all(spark)
    spark.stop()

    sf = os.path.basename(sf_dir.rstrip("/"))
    out = HEADER.format(sf=sf)
    for r in rows:
        out += f"| {r[0]} | {r[1]} | {r[2]} | {r[3]} | {r[4]} | {r[5]} |\n"
    return out + COMMENTARY


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    md = audit(sf_dir)
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    with open(out_path, "w") as f:
        f.write(md)
    print(f"PLANS.md regenerated from {sf_dir}")


if __name__ == "__main__":
    main()
