"""SparkSession factory with scale-oriented defaults.

Tuned for the target deployment (multi-executor cluster over ~100 TB of
Common-Crawl-style pages) while testable on local[N]:

- AQE on (runtime coalescing + skew-join splitting — SURVEY.md §4.2),
- Arrow enabled with a bounded batch size (the model stage's analog of
  the reference's predict micro-batching, crf_utils.py:271),
- shuffle partitions sized by parallelism (overridable),
- broadcast threshold left to Catalyst; explicit broadcast() is used on
  dimension tables (entity dictionary, rules) regardless.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

ARROW_BATCH = 512  # rows per Arrow batch into pandas UDFs (384-char records)


def get_spark(
    app_name: str = "sparkkg",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # one BLAS thread per python worker: Spark supplies the
    # parallelism; multi-threaded BLAS inside 32 workers just thrashes
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # keep the model stage's large numpy buffers on the malloc heap:
    # with the default mmap threshold every ~100 MB sub-batch is a fresh
    # mmap/munmap + page-fault storm, and 32 concurrent workers contend
    # on kernel memory locks (observed as erratic 2-4× slowdowns)
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")

    master = master or os.environ.get("SPARKKG_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cpus:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]), 8)
        else:
            shuffle_partitions = 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # floor for AQE's coalesced-partition size (default 1m): AQE
        # sizes post-shuffle partitions by the SHUFFLED bytes, so a
        # small-but-expanding stage (the dedup chain's exchange of
        # collapsed reps, whose downstream shingle explode + per-
        # shingle×band md5 multiplies the work ~50×) collapses to ONE
        # task and serializes its map work (measured: the (64+1)/65
        # straggler; dedup_keep 5.1→3.5 s at sf0.1 with 64k).  64k only
        # changes shuffles totalling < parallelism × 1 MB — at
        # production scale every real shuffle clears that bar and the
        # setting is inert, so it is a small-data fidelity knob, not a
        # local[32] tuning.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # prefer shuffled-hash join when the per-partition build side
        # fits (guide-recommended baseline: SMJ pays a sort both sides;
        # the planner's size conditions still guard the build), and let
        # AQE rewrite SMJ->SHJ at runtime when every post-shuffle
        # partition is under the threshold — measured 5-8% on the
        # join-heavy dedup/selection queries, and scale-sane (the
        # rewrite only fires when the runtime sizes allow it)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # shuffle spill location: system temp by default; RAM-backed
        # /dev/shm only when the caller opts in (the bench harness does
        # — it knows its shuffle volume fits), because tmpfs spill is a
        # memory-exhaustion footgun for shuffle-heavy jobs in general
        .config("spark.local.dir", os.environ.get("SPARKKG_LOCAL_DIR", tempfile.gettempdir()))
        .config("spark.driver.memory", os.environ.get("SPARKKG_DRIVER_MEM", "8g"))
        # commit + pre-touch the whole heap at startup and never shrink:
        # G1's periodic region uncommit/recommit causes continuous page
        # faults whose TLB-shootdown IPIs stall every core in the VM
        # (measured: 100% system time across all python workers)
        .config(
            "spark.driver.extraJavaOptions",
            "-Xms" + os.environ.get("SPARKKG_DRIVER_MEM", "8g")
            + " -XX:+AlwaysPreTouch -XX:+UseParallelGC",
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
