"""Incremental pages→triples ingest via Structured Streaming.

The reference has no streaming surface (its "serving" is stateless
request/response HTTP, tornado_http_sevrer.py:20-27 — SURVEY.md §2.9);
the batch pipeline is the core engine. This module adds the incremental
path SURVEY.md §2.9 earmarked: new page files landing in a directory
(the parquet stand-in for Iceberg incremental snapshot reads) stream
through the SAME ``KGPipeline`` records and triples stages inside
``foreachBatch`` and land in the triples table. Exactly-once comes from
the streaming checkpoint (source offsets) + an epoch-keyed idempotent
write: each micro-batch overwrites its own ``epoch_id=N`` partition,
so a replay after a crash between sink write and commit-log write is a
no-op rewrite, never a duplicate append.

No event-time logic is needed (warc_ts is a partitioning column, not a
watermark driver), so foreachBatch over micro-batches is the idiomatic
shape — the stateful-operator machinery (applyInPandasWithState) would
add state with nothing to put in it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import KGPipeline
from ..sources.pages import PAGES_SCHEMA


def write_epoch(triples: DataFrame, triples_path: str, epoch_id: int) -> None:
    """Idempotent per-epoch sink write for ``foreachBatch``.

    foreachBatch delivers each epoch at-least-once: a crash between the
    sink write and the streaming commit-log write replays the epoch.
    Writing each epoch into its own ``epoch_id=N`` partition directory
    with dynamic partition OVERWRITE makes the replay a no-op rewrite of
    that one directory — never a duplicate append — upgrading the
    end-to-end guarantee to exactly-once.
    """
    import pyspark.sql.functions as F

    (
        triples.withColumn("epoch_id", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id")
        .parquet(triples_path)
    )


def incremental_triples(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    entities: DataFrame,
    rules: DataFrame,
    equivalences: DataFrame,
    lang: str = "zh",
    max_files_per_trigger: int = 8,
):
    """Start (and return) a streaming query appending triples for every
    new pages parquet file under ``pages_dir``.

    Dimension tables are resolved once at start, on the driver (they
    are slowly changing; restart the query to pick up a new dictionary
    snapshot).
    """
    pipe = KGPipeline(spark, entities, rules, equivalences, lang=lang)
    pipe.component_map()  # memoized: every batch reuses the resolved tables

    triples_path = os.path.join(out_dir, "triples")
    checkpoint = os.path.join(out_dir, "_checkpoint")

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch(pipe.triples(pipe.records(batch_df)), triples_path, epoch_id)

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
