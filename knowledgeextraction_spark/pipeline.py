"""End-to-end KG-construction pipeline with lineage + resume.

Stage DAG (SURVEY.md §7, the reference serving path re-expressed as
one declarative dataflow — §3.1; the same fused plan as the kg_triples
query, ARCHITECTURE.md §1):

    pages ─ filter(lang='zh')
          ─ records: detect_records_from_pages (extract F16 → pack
            F1+W3 → encode+Viterbi M1+M2 in ONE mapInPandas,
            broadcast weights) → (url, rec_id, text, mentions[])
          ├ mentions: explode_mentions ─ linked: link (J8 broadcast join)
          └ triples: in-array pairing + rules (M8/M9) + canonicalize
            (M10 components) ─ triples/nodes/edges tables

``linked`` is an output table; the triples stage links inside its own
broadcast joins and reads only the ``records`` snapshot.

Dimension tables: the surface dictionary and the entity component map
are resolved once per pipeline, on the driver (the ``link`` and
``canonicalize`` driver twins), and joined as local relations; an
entity or equivalence table over ``materialize.DRIVER_MAX_EDGES`` rows
takes the distributed operators instead.

Resumability [NORTH]: each materialized stage writes parquet (stands in
for an Iceberg snapshot) and is skipped when its output already exists
— mirroring the reference's compute-if-absent TFRecord cache
(run_crf_albert.py:153-157). Each computed stage appends lineage rows
to a ``_lineage`` table (A11): one row per written part file (its
index in sorted file order, its row count from the parquet footer)
with the stage name, wall ms and a timestamp, written by the driver.

Partitioning [NORTH]: the triples sink is written partitioned by
``predicate`` (low cardinality — one dir per relation) and bucketed by
``subj_id`` hash into ``n_buckets`` files per partition, the parquet
stand-in for Iceberg's ``partitionedBy(pred, bucket(N, subj_id))``.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# DRIVER_MAX_EDGES is read as mz.DRIVER_MAX_EDGES at call time, so a
# test can patch it to force the distributed dimension operators
from . import materialize as mz
from .materialize import driver_rows, local_frame
from .operators.canonicalize import entity_component_map, entity_component_map_rows
from .operators.detect import detect_records_from_pages, explode_mentions
from .operators.link import link_mentions, surface_dictionary, surface_dictionary_rows
from .operators.triples import emit_triples_narrow


@dataclass
class PipelineResult:
    records: DataFrame
    mentions: DataFrame
    linked: DataFrame
    triples: DataFrame
    stage_times: dict[str, float] = field(default_factory=dict)


def _append_lineage(out_dir: str, stage: str, files: list[str], wall_ms: float) -> None:
    """Append one ``_lineage`` row per written snapshot file — (partition_id
    int, count long, stage string, wall_ms double, ts timestamp) — with
    no Spark job: row counts come from the parquet footers, and the
    rows land as one parquet file written from the driver.

    ``files`` are the snapshot's file URIs (``inputFiles()``), all
    directly under ``out_dir/stage``; ``partition_id`` is a file's
    index in sorted order.  The lineage file is written under a
    dot-prefixed name (which Spark's reader skips) and then moved into
    place, so a crash never leaves a half-written file in the table.
    ``out_dir`` must be a path or URI pyarrow can open; anything else
    raises — lineage is never skipped silently."""
    from urllib.parse import unquote

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    if "://" not in out_dir:
        out_dir = os.path.abspath(out_dir)
    fs, base = pafs.FileSystem.from_uri(out_dir)
    counts = [
        pq.read_metadata(
            f"{base}/{stage}/{unquote(f.rsplit('/', 1)[1])}", filesystem=fs
        ).num_rows
        for f in sorted(files)
    ]
    n = len(counts)
    table = pa.table(
        {
            "partition_id": pa.array(range(n), pa.int32()),
            "count": pa.array(counts, pa.int64()),
            "stage": pa.array([stage] * n, pa.string()),
            "wall_ms": pa.array([wall_ms] * n, pa.float64()),
            "ts": pa.array(
                [datetime.now(timezone.utc)] * n, pa.timestamp("us", tz="UTC")
            ),
        }
    )
    lineage = f"{base}/_lineage"
    name = f"part-{stage}-{uuid.uuid4().hex}.parquet"
    fs.create_dir(lineage, recursive=True)
    pq.write_table(table, f"{lineage}/.{name}", filesystem=fs)
    fs.move(f"{lineage}/.{name}", f"{lineage}/{name}")


class KGPipeline:
    """Composable pipeline; stages are lazily-declared DataFrames.

    ``out_dir=None`` keeps everything in one unmaterialized DAG (used
    by the KG queries, tests and bench); with ``out_dir`` each stage
    materializes + resumes.
    """

    def __init__(
        self,
        spark: SparkSession,
        entities: DataFrame,
        rules: DataFrame,
        equivalences: DataFrame,
        max_seq_length: int = 382,
        lang: str = "zh",
        out_dir: str | None = None,
    ):
        self.spark = spark
        self.entities = entities
        self.rules = rules
        self.equivalences = equivalences
        self.max_seq_length = max_seq_length
        self.lang = lang
        self.out_dir = out_dir
        self._weights_bc = None
        self._dims = None

    @property
    def weights_bc(self):
        if self._weights_bc is None:
            from .broadcast import weights_broadcast

            self._weights_bc = weights_broadcast(self.spark)
        return self._weights_bc

    # --- stage declarations (lazy) -------------------------------------

    def records(self, pages: DataFrame) -> DataFrame:
        """pages → (url, rec_id, text, mentions): the one python stage."""
        # P8 language gate; the fused stage extracts text from the html
        gated = pages.filter(F.col("lang") == self.lang).select("url", "html")
        # the encoder is the FLOP-dominant work: rebalance pages across
        # all cores first (the shuffle is far cheaper than idle
        # executors during the matmul)
        par = self.spark.sparkContext.defaultParallelism
        return detect_records_from_pages(
            gated.repartition(par * 2), self.weights_bc, self.max_seq_length
        )

    def mentions(self, records: DataFrame) -> DataFrame:
        return explode_mentions(records)

    def _dimensions(self) -> tuple[DataFrame, DataFrame]:
        """(surface dictionary, entity component map), resolved once.

        Entity and equivalence tables of at most ``DRIVER_MAX_EDGES``
        rows are pulled to the driver and resolved by the operators'
        driver twins into local relations; the dictionary's surfaces
        are the equivalence graph's nodes, so the one limit bounds
        both.  Larger tables take the distributed operators."""
        if self._dims is None:
            limit = mz.DRIVER_MAX_EDGES
            entities = driver_rows(
                self.entities.select("entity_id", "canonical_name", "aliases", "label_type"),
                limit,
            )
            equivalences = driver_rows(
                self.equivalences.select("surface_a", "surface_b"), limit
            )
            if entities is None or equivalences is None:
                dictionary = surface_dictionary(self.entities)
                cmap = entity_component_map(self.equivalences, dictionary)
            else:
                dictionary = local_frame(
                    self.spark,
                    surface_dictionary_rows(entities),
                    "surface string, label_type string, entity_id long",
                )
                cmap = local_frame(
                    self.spark,
                    entity_component_map_rows(equivalences, entities),
                    "entity_id long, canonical_id long",
                )
            self._dims = (dictionary, cmap)
        return self._dims

    def linked(self, mentions: DataFrame) -> DataFrame:
        return link_mentions(mentions, self._dimensions()[0])

    def component_map(self) -> DataFrame:
        return self._dimensions()[1]

    def triples(self, records: DataFrame) -> DataFrame:
        return emit_triples_narrow(
            records, self.rules, self._dimensions()[0], self.component_map()
        )

    # --- orchestration --------------------------------------------------

    def _stage(self, name: str, build, times: dict[str, float]) -> DataFrame:
        """Materialize-or-resume one stage (compute-if-absent)."""
        if self.out_dir is None:
            return build()
        path = os.path.join(self.out_dir, name)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            t0 = time.monotonic()
            df = build()
            df.write.mode("overwrite").parquet(path)
            wall_ms = (time.monotonic() - t0) * 1000
            times[name] = wall_ms
            # the schema just written: no schema-inference job
            snapshot = self.spark.read.schema(df.schema).parquet(path)
            _append_lineage(self.out_dir, name, snapshot.inputFiles(), wall_ms)
            return snapshot
        return self.spark.read.parquet(path)

    def run(self, pages: DataFrame) -> PipelineResult:
        times: dict[str, float] = {}
        records = self._stage("records", lambda: self.records(pages), times)
        mentions = self._stage("mentions", lambda: self.mentions(records), times)
        linked = self._stage("linked", lambda: self.linked(mentions), times)
        triples_df = self._stage("triples", lambda: self.triples(records), times)
        return PipelineResult(
            records.select("url", "rec_id", "text"), mentions, linked, triples_df, times
        )

    def write_graph_tables(self, result: PipelineResult, base: str, n_buckets: int = 16) -> None:
        """Materialize triples/nodes/edges partitioned for query access.

        Parquet stand-in for Iceberg ``partitionedBy(pred,
        bucket(n_buckets, subj_id))``: directory partition on predicate,
        in-partition files bucketed by repartitioning on a subj_id hash.

        Outputs land under ``base``/graph/ — NOT directly under ``base``
        — so that ``base`` may be the pipeline's own ``out_dir``: the
        resumed ``result.triples`` is backed by the ``out_dir/triples``
        stage snapshot, and writing the partitioned table to the same
        path would overwrite the files mid-read (found by the
        spark-submit smoke run).
        """
        base = os.path.join(base, "graph")
        t = result.triples.withColumn(
            "subj_bucket", F.pmod(F.hash("subj_id"), F.lit(n_buckets))
        )
        (
            t.repartition("predicate", "subj_bucket")
            .write.mode("overwrite")
            .partitionBy("predicate")
            .parquet(os.path.join(base, "triples"))
        )
        nodes = (
            result.triples.select(F.col("subj_id").alias("entity_id"))
            .unionByName(result.triples.select(F.col("obj_id").alias("entity_id")))
            .distinct()
        )
        nodes.write.mode("overwrite").parquet(os.path.join(base, "nodes"))
        edges = result.triples.groupBy("subj_id", "predicate", "obj_id").agg(
            F.count("*").alias("weight")
        )
        edges.write.mode("overwrite").parquet(os.path.join(base, "edges"))


def _drop_managed_table(spark: SparkSession, name: str) -> None:
    """DROP TABLE IF EXISTS + remove any ORPHANED location.

    A managed-table directory left by a PREVIOUS session is not in the
    current in-memory catalog, so ``mode("overwrite")`` cannot drop it
    and ``saveAsTable`` fails with LOCATION_ALREADY_EXISTS; with a
    persistent metastore the DROP alone removes the location and the
    rmtree is a no-op."""
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    if warehouse.scheme in ("", "file"):
        shutil.rmtree(os.path.join(warehouse.path, name.lower()), ignore_errors=True)


def write_bucketed_graph_tables(
    triples: DataFrame, n_buckets: int = 16, prefix: str = "kg"
) -> None:
    """Catalog-registered BUCKETED graph tables (Spark bucketing ≈
    Iceberg ``bucket(N, entity_id)`` partition transform).

    ``{prefix}_triples`` is bucketed AND sort-ordered by ``subj_id``;
    ``{prefix}_nodes`` by ``entity_id`` with the same bucket count.
    A subsequent triples⋈nodes equi-join on the bucket key needs NO
    exchange on either side (verified in
    tests/test_bucketed_join.py by asserting the join plan is
    Exchange-free) — at 10^12 rows this is the difference between a
    co-located merge join and re-shuffling the whole fact table per
    query."""
    spark = triples.sparkSession
    _drop_managed_table(spark, f"{prefix}_triples")
    _drop_managed_table(spark, f"{prefix}_nodes")
    (
        triples.write.mode("overwrite")
        .bucketBy(n_buckets, "subj_id")
        .sortBy("subj_id")
        .format("parquet")
        .saveAsTable(f"{prefix}_triples")
    )
    nodes = (
        triples.select(F.col("subj_id").alias("entity_id"))
        .unionByName(triples.select(F.col("obj_id").alias("entity_id")))
        .distinct()
    )
    (
        nodes.write.mode("overwrite")
        .bucketBy(n_buckets, "entity_id")
        .sortBy("entity_id")
        .format("parquet")
        .saveAsTable(f"{prefix}_nodes")
    )
