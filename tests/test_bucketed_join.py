"""S16 at scale: bucketed graph tables give exchange-free co-located
joins (the parquet stand-in for Iceberg bucket(N, id) partitioning)."""


def test_bucketed_join_is_exchange_free(spark, corpus):
    from knowledgeextraction_spark import pipeline
    from knowledgeextraction_spark.sources.pages import (
        entities_df,
        equivalences_df,
        fixture_pages,
        rules_df,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pipe = pipeline.KGPipeline(
            spark,
            entities=entities_df(spark, corpus.entities),
            rules=rules_df(spark, corpus.rules),
            equivalences=equivalences_df(spark, corpus.equivalences),
        )
        result = pipe.run(fixture_pages(spark, corpus))
        pipeline.write_bucketed_graph_tables(result.triples, 4, "t_kg")

        t = spark.table("t_kg_triples")
        n = spark.table("t_kg_nodes").withColumnRenamed("entity_id", "subj_id")
        joined = t.join(n, "subj_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # join is also correct: every triple's subject exists in nodes
        assert joined.count() == t.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        for tbl in ("t_kg_triples", "t_kg_nodes"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
