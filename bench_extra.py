#!/usr/bin/env python
"""Round-6 optimization profiling harness (guide §1: measure first).

NOT the driver bench (bench.py is frozen) — this isolates sub-stages
of the expensive headline queries with the noop sink so the timed
number is the computation, not the sink, and labels jobs so the work
is attributable.  Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench_extra.py [section ...]

Sections: triples, quality, bpe, graph, corpus, misc (default: all).
Prints one line per probe: min/median over trials.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyspark.sql.functions as F


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, name, build, trials=3):
    from knowledgeextraction_spark.materialize import release_all

    best, times = None, []
    for _ in range(trials):
        spark.sparkContext.setJobDescription(name)
        t0 = time.monotonic()
        out = build()
        if out is not None:
            noop(out)
        dt = time.monotonic() - t0
        times.append(dt)
        release_all(spark)
        spark.sparkContext.setJobDescription(None)
    times.sort()
    print(f"{name:45s} min={times[0]:7.3f}  med={times[len(times)//2]:7.3f}", flush=True)
    return times[0]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sections = set(sys.argv[1:]) or {"triples", "quality", "bpe", "graph", "corpus", "misc"}

    from bench import spill_to_shm
    from knowledgeextraction_spark.core.artifacts import get_weights
    from knowledgeextraction_spark.session import get_spark

    get_weights()
    spill_to_shm()
    spark = get_spark("sparkkg-bench-extra", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")

    # same warmups as bench.py
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(x):
        import numpy as _np  # noqa: F401
        return x

    spark.range(cpus * 4).repartition(cpus * 4).select(_warm("id")).count()

    from knowledgeextraction_spark.broadcast import weights_broadcast
    from knowledgeextraction_spark.core.textops import render_html
    from knowledgeextraction_spark.operators.detect import detect_records_from_pages

    bc = weights_broadcast(spark)
    dummy = spark.createDataFrame(
        [(f"u{i}", render_html("丞业。", "zh")) for i in range(cpus * 4)],
        "url string, html binary",
    ).repartition(cpus * 4)
    detect_records_from_pages(dummy, bc).count()

    from knowledgeextraction_spark import queries as Q
    from knowledgeextraction_spark.sources import pages as pages_src

    par = spark.sparkContext.defaultParallelism

    if "triples" in sections:
        # sub-stages of the kg_triples pipeline
        timed(spark, "triples/a_pages_render", lambda: Q._pages(spark, sf_dir)
              .filter(F.col("lang") == "zh").select("url", "html"))
        timed(spark, "triples/b_detect", lambda: detect_records_from_pages(
            Q._pages(spark, sf_dir).filter(F.col("lang") == "zh")
            .select("url", "html").repartition(par), bc))

        def full():
            return Q.QUERIES["kg_triples"](spark, sf_dir)
        timed(spark, "triples/c_full", full)

        def cmap_only():
            from knowledgeextraction_spark.operators.canonicalize import entity_component_map
            from knowledgeextraction_spark.operators.link import surface_dictionary
            return entity_component_map(
                pages_src.equivalences_df(spark, pages_src.doc_equivalences()),
                surface_dictionary(pages_src.entities_df(spark)),
            )
        timed(spark, "triples/d_cmap_only", cmap_only)

    if "quality" in sections:
        timed(spark, "quality/full", lambda: Q.QUERIES["quality_classifier"](spark, sf_dir))

        from knowledgeextraction_spark.operators import selection

        def feat_only():
            d = Q._docs(spark, sf_dir)
            return selection.quality_features(d).repartition("doc_id")
        timed(spark, "quality/feat_only", feat_only)

    if "bpe" in sections:
        timed(spark, "bpe/merges", lambda: Q.QUERIES["bpe_merges"](spark, sf_dir))
        timed(spark, "bpe/token_counts", lambda: Q.QUERIES["bpe_token_counts"](spark, sf_dir))

    if "graph" in sections:
        def edges_only():
            return Q._triple_edges(spark, sf_dir)
        timed(spark, "graph/edges_only", edges_only)
        timed(spark, "graph/pagerank_full", lambda: Q.QUERIES["graph_pagerank"](spark, sf_dir))
        timed(spark, "graph/kcore_full", lambda: Q.QUERIES["graph_kcore"](spark, sf_dir))
        timed(spark, "graph/khop_full", lambda: Q.QUERIES["graph_khop"](spark, sf_dir))
        timed(spark, "graph/triangles_full", lambda: Q.QUERIES["graph_triangles"](spark, sf_dir))

    if "corpus" in sections:
        from knowledgeextraction_spark.operators import dedup

        def dedup_edges():
            from pyspark import StorageLevel
            d = Q._docs_with_replicas(spark, sf_dir)
            reps, members = dedup.collapse_exact(d)
            sh = dedup.shingle_table(reps).persist(StorageLevel.MEMORY_AND_DISK)
            cands = dedup.lsh_candidate_pairs(reps, shingles=sh)
            near = dedup.ngram_jaccard_pairs(reps, cands, threshold=0.5, shingles=sh).select("doc_a", "doc_b")
            exact = members.filter(F.col("doc_id") != F.col("rep_id")).select(
                F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("doc_b"))
            return near.unionByName(exact).distinct().select(
                F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        timed(spark, "corpus/a_dedup_edges", dedup_edges)
        timed(spark, "corpus/b_dedup_keep", lambda: Q.QUERIES["dedup_keep"](spark, sf_dir))
        timed(spark, "corpus/c_corpus_clean", lambda: Q.QUERIES["corpus_clean"](spark, sf_dir))
        timed(spark, "corpus/d_dedup_jaccard", lambda: Q.QUERIES["dedup_jaccard"](spark, sf_dir))

    if "misc" in sections:
        for q in ["mrc_answers", "kg_relations_scored", "kg_relations_bag",
                  "dedup_embedding", "winnow_pairs", "lm_perplexity",
                  "dedup_spans", "dedup_span_clean", "dsir_weights",
                  "tfidf_keywords", "pmi_bigrams", "conlleval_metrics",
                  "multimodal_features"]:
            timed(spark, f"misc/{q}", lambda q=q: Q.QUERIES[q](spark, sf_dir))

    spark.stop()


if __name__ == "__main__":
    main()
