"""Every per-layer metric a traced run prints: (name, unit, better).

BENCHMARK.json's ``per_layer`` list is this table; README.md says what
each layer call is and which end-to-end metric it should move.
"""

from __future__ import annotations

from .workloads import KERNELS

_CALL_FIELDS = (
    ("busy_s", "s", "lower"),
    ("rows_out", "rows", "higher"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("failed_tasks", "count", "lower"),
)

# layer calls timed as spans (each under its own job group)
LAYER_CALLS = (
    "sources.scan",
    "segment",
    "detect",
    "link",
    "triples",
    "canonicalize",
    "graph.pagerank",
    "pipeline.write_graph_tables",
    "dedup.collapse_exact",
    "dedup.shingle_table",
    "dedup.lsh_candidate_pairs",
    "dedup.ngram_jaccard_pairs",
    "dedup.lsh_bucket_stats",
    "selection.hashed_grams",
    "selection.importance_weights",
)

PER_LAYER = (
    ("session.get_spark.busy_s", "s", "lower"),
    ("artifacts.get_weights.busy_s", "s", "lower"),
    ("broadcast.weights_broadcast.busy_s", "s", "lower"),
    *(
        (f"{layer}.{field}", unit, better)
        for layer in LAYER_CALLS
        for field, unit, better in _CALL_FIELDS
    ),
    ("detect.records", "rows", "higher"),
    ("detect.mentions", "rows", "higher"),
    ("detect.arrow_overhead_share", "ratio", "lower"),
    *((f"{k}.s_per_record", "s", "lower") for k in KERNELS),
    ("pipeline.busy_s", "s", "lower"),
    ("pipeline.rows_out", "rows", "higher"),
    ("pipeline.lineage_s", "s", "lower"),
    ("pipeline.bytes_written", "bytes", "lower"),
    ("pipeline.write_graph_tables.bytes_written", "bytes", "lower"),
    ("dedup.candidates", "rows", "lower"),
    ("dedup.verify_yield", "ratio", "higher"),
    ("dedup.bucket_dropped_rows", "rows", "lower"),
    ("trace.total_s", "s", "lower"),
    ("trace.job_s", "s", "lower"),
    ("trace.overhead_share", "ratio", "lower"),
)

LAYER_METRICS = tuple((name, unit) for name, unit, _better in PER_LAYER)
