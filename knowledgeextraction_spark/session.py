"""SparkSession factory with scale-oriented defaults.

Every entry point (tests, ``bench.py``, perfbench, the spark-submit
script ``scripts/run_pipeline.py``) builds its session here, so they
all plan with the same SQL settings:

- AQE on (runtime coalescing + skew-join splitting — SURVEY.md §4.2),
- Arrow enabled with a bounded batch size (the model stage's analog of
  the reference's predict micro-batching, crf_utils.py:271),
- shuffle partitions sized by parallelism (overridable),
- broadcast threshold left to Catalyst; explicit broadcast() is used on
  dimension tables (entity dictionary, rules) regardless.

The driver heap is sized from the host — an eighth of its memory
(physical memory, or the cgroup limit when that is lower), clamped to
1–8 GiB; ``SPARKKG_DRIVER_MEM`` overrides it — and is FIXED: ``-Xms``
equals ``spark.driver.memory``, pre-touched.  A growable heap regresses
every warm job (measured on kg_build, 4 cores: task-summed GC per warm
job 0.2 s fixed against 1.3–1.65 s with no ``-Xms``), while a fixed
8 GiB heap on a 16 GiB host was most of a run's peak RSS.

Under spark-submit (the JVM already exists, ``PYSPARK_GATEWAY_PORT``
is set) the submitter owns master, memory and JVM options; only the
SQL, AQE and Arrow settings are applied.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

ARROW_BATCH = 512  # rows per Arrow batch into pandas UDFs (384-char records)

# cgroup v2, then v1: the memory limit of the container this runs in
_CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def host_mib(cgroup_limits: tuple[str, ...] = _CGROUP_LIMITS) -> int:
    """Memory this process may use, in MiB: physical memory, or the
    cgroup's limit when one is set and lower."""
    mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    for path in cgroup_limits:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():  # "max" (v2) means no limit
            mib = min(mib, int(raw) >> 20)
    return mib


def session_conf(
    master: str | None,
    host: int,
    submitted: bool,
    shuffle_partitions: int | None = None,
) -> dict[str, str]:
    """Every setting ``get_spark`` applies, for a session on ``master``
    over a host of ``host`` MiB.  ``submitted``: the JVM was launched by
    spark-submit, whose master, memory and JVM options stand."""
    if shuffle_partitions is None:
        if master and master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]), 8)
        else:
            shuffle_partitions = 32
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
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
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # prefer shuffled-hash join when the per-partition build side
        # fits (guide-recommended baseline: SMJ pays a sort both sides;
        # the planner's size conditions still guard the build), and let
        # AQE rewrite SMJ->SHJ at runtime when every post-shuffle
        # partition is under the threshold — measured 5-8% on the
        # join-heavy dedup/selection queries, and scale-sane (the
        # rewrite only fires when the runtime sizes allow it)
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH),
        "spark.sql.session.timeZone": "UTC",
    }
    if submitted:
        return conf
    # an eighth of the host, clamped to 1–8 GiB
    heap = os.environ.get("SPARKKG_DRIVER_MEM") or f"{min(max(host // 8, 1024), 8192)}m"
    conf.update({
        "spark.master": master or "local[*]",
        "spark.ui.enabled": "false",
        # shuffle spill location: system temp by default; RAM-backed
        # /dev/shm only when the caller opts in (the bench harness does
        # when the host's tmpfs has room for its shuffle volume),
        # because tmpfs spill is a memory-exhaustion footgun for
        # shuffle-heavy jobs in general
        "spark.local.dir": os.environ.get("SPARKKG_LOCAL_DIR", tempfile.gettempdir()),
        "spark.driver.memory": heap,
        # a fixed heap (-Xms = -Xmx), committed and pre-touched at
        # startup and never shrunk: G1's periodic region
        # uncommit/recommit caused continuous page faults whose
        # TLB-shootdown IPIs stalled every core of a 32-core VM
        # (measured: 100% system time across all python workers), and
        # on 4 cores a growable heap still costs 1.1–1.5 s of
        # task-summed GC per warm kg_build job
        "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch -XX:+UseParallelGC",
    })
    return conf


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

    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if submitted:
        from pyspark import SparkConf, SparkContext

        # size the shuffle width from the submitter's master
        SparkContext._ensure_initialized()
        master = SparkConf().get("spark.master", None)
    else:
        master = master or os.environ.get("SPARKKG_MASTER", "local[*]")
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if master == "local[*]" and cpus:
            master = f"local[{cpus}]"
    conf = session_conf(master, host_mib(), submitted, shuffle_partitions)
    b = SparkSession.builder.appName(app_name)
    for k, v in {**conf, **(extra_conf or {})}.items():
        b = b.config(k, v)
    return b.getOrCreate()
