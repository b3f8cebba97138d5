#!/usr/bin/env python
"""spark-submit entrypoint: pages → canonicalized triples + graph tables.

The north-star deployment shape:

    zip -r sparkkg.zip knowledgeextraction_spark
    spark-submit --master <cluster> --py-files sparkkg.zip \
        scripts/run_pipeline.py \
        --sf-dir /data/sf0.1 --out /data/kg_out

The session comes from ``session.get_spark``, the engine's one
factory.  Under spark-submit the submitter's conf (master, executors,
memory, JVM options) stands and only the engine's SQL-level settings
(shuffle width, AQE, join strategy, Arrow batching) are added; run
directly with python, it is a local session on a host-sized driver.
Input is the documents-derived pages table (sources.pages); swap
`pages_from_documents` for `spark.read.table("pages")` against a real
Iceberg catalog.  Every stage snapshot lands under --out with one
_lineage row per written part file (row counts from the parquet
footers, written by the driver); a rerun with the same --out skips
completed stages.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True, help="input table directory")
    ap.add_argument("--out", required=True, help="output/checkpoint directory")
    ap.add_argument("--buckets", type=int, default=16)
    args = ap.parse_args()

    from knowledgeextraction_spark.pipeline import KGPipeline
    from knowledgeextraction_spark.session import get_spark
    from knowledgeextraction_spark.sources import pages as ps

    spark = get_spark("sparkkg-pipeline")

    pages = ps.pages_from_documents(spark, args.sf_dir)
    pipe = KGPipeline(
        spark,
        entities=ps.entities_df(spark),
        rules=ps.rules_df(spark),
        equivalences=ps.equivalences_df(spark, ps.doc_equivalences()),
        out_dir=args.out,  # stage snapshots + _lineage; reruns resume
    )
    result = pipe.run(pages)
    pipe.write_graph_tables(result, args.out, n_buckets=args.buckets)
    n = spark.read.parquet(f"{args.out}/graph/triples").count()
    print(f"sparkkg-pipeline: wrote {n} triples to {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
