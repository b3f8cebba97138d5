"""Incremental ingest == batch pipeline on the same pages."""

import os


def test_incremental_matches_batch(spark, corpus, tmp_path):
    from knowledgeextraction_spark.pipeline import KGPipeline
    from knowledgeextraction_spark.sources.pages import (
        entities_df,
        equivalences_df,
        fixture_pages,
        rules_df,
    )
    from knowledgeextraction_spark.streaming.ingest import incremental_triples

    pages = fixture_pages(spark, corpus)
    pages_dir = str(tmp_path / "pages_in")
    # land the pages in two separate file drops
    half = pages.count() // 2
    pages.limit(half).coalesce(1).write.mode("append").parquet(pages_dir)
    pages.subtract(pages.limit(half)).coalesce(1).write.mode("append").parquet(
        pages_dir
    )

    out_dir = str(tmp_path / "stream_out")
    q = incremental_triples(
        spark,
        pages_dir,
        out_dir,
        entities=entities_df(spark, corpus.entities),
        rules=rules_df(spark, corpus.rules),
        equivalences=equivalences_df(spark, corpus.equivalences),
        max_files_per_trigger=1,  # force multiple micro-batches
    )
    q.awaitTermination(timeout=300)
    assert os.path.exists(os.path.join(out_dir, "triples"))

    got = {
        (r["subj_id"], r["predicate"], r["obj_id"], r["url"], r["rec_id"])
        for r in spark.read.parquet(os.path.join(out_dir, "triples")).collect()
    }

    # batch reference on the same pages
    pipe = KGPipeline(
        spark,
        entities=entities_df(spark, corpus.entities),
        rules=rules_df(spark, corpus.rules),
        equivalences=equivalences_df(spark, corpus.equivalences),
    )
    want = {
        (r["subj_id"], r["predicate"], r["obj_id"], r["url"], r["rec_id"])
        for r in pipe.run(pages).triples.collect()
    }
    assert got == want and len(got) > 0
