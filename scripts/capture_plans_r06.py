#!/usr/bin/env python
"""Capture .explain('formatted') for headline queries into plans/r06/.

Usage: python scripts/capture_plans_r06.py <suffix> [query ...]
  suffix: 'before' or 'after'
Defaults to the queries being touched this round.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT = [
    "kg_triples",
    "quality_classifier",
    "bpe_merges",
    "bpe_token_counts",
    "graph_pagerank",
    "graph_kcore",
    "graph_khop",
    "graph_triangles",
    "corpus_clean",
    "dedup_keep",
    "dedup_jaccard",
    "mrc_answers",
    "kg_relations_scored",
    "kg_relations_bag",
    "dedup_embedding",
    "winnow_pairs",
    "lm_perplexity",
    "dsir_weights",
]


def main():
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from bench import spill_to_shm
    from knowledgeextraction_spark.queries import QUERIES
    from knowledgeextraction_spark.session import get_spark

    spill_to_shm()
    spark = get_spark("sparkkg-plans", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path} ({len(buf.getvalue())} bytes)", flush=True)
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
