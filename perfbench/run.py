"""sparkkg benchmark: seeded batch workloads, end-to-end and per-layer.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout.  Inputs and expected outputs
are built from ``--seed`` on first use and cached under
``.perfbench_cache/`` (see inputs.py).  One run:

1. set-up: process start → ready (``get_spark`` + ``get_weights`` +
   ``weights_broadcast``), timed once; repeated runs give its spread;
2. the cold job, the first after set-up;
3. warm jobs, one at a time, for ``--seconds`` (at least one);
   ``job_s`` is their median.

Every job's output is checked against the oracles' rows.  With
``--trace 1`` each warm job is followed by a traced pass (see
workloads.py); the per-layer medians are printed instead.
The last line of stdout is one JSON object; the exit code is 0 only if
every job's output was correct.  The metric names are explained in
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
MIN_WARM = 1


def _isolate_env() -> None:
    """Run the program on its own defaults, with every file inside the
    checkout, and let python workers import the package from anywhere."""
    for k in list(os.environ):
        if k.startswith("SPARKKG_") or k in ("SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS"):
            del os.environ[k]
    sys.path.insert(0, ROOT)
    paths = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = os.path.join(CACHE, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp


def _setup():
    """Process start → ready; returns (spark, weights broadcast, timings)."""
    t0 = time.perf_counter()
    from knowledgeextraction_spark.session import get_spark

    spark = get_spark()
    t1 = time.perf_counter()
    from knowledgeextraction_spark.core.artifacts import get_weights

    get_weights()
    t2 = time.perf_counter()
    from knowledgeextraction_spark.broadcast import weights_broadcast

    bc = weights_broadcast(spark)
    t3 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    parts = {
        "session.get_spark.busy_s": t1 - t0,
        "artifacts.get_weights.busy_s": t2 - t1,
        "broadcast.weights_broadcast.busy_s": t3 - t2,
    }
    return spark, bc, parts


def _teardown(spark) -> None:
    """Stop Spark and wait for the JVM (and the python workers it forked)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _run_job(wl, stats: dict):
    """One closed-loop job: time it, then check it outside the timing."""
    stats["attempted"] += 1
    t0 = time.perf_counter()
    try:
        result = wl.job()
    except Exception:
        traceback.print_exc()
        stats["failed"] += 1
        return None
    dt = time.perf_counter() - t0
    outputs, ok = wl.check(result)
    if not ok:
        print(f"{wl.name}: output differs from the oracle", file=sys.stderr)
        stats["failed"] += 1
    return dt, outputs


def _measure(args, wl, spark, parts, rss) -> tuple[dict, dict]:
    from perfbench.spans import Tracer, unpersist_all

    stats = {"attempted": 0, "failed": 0}
    cold = _run_job(wl, stats)
    unpersist_all(spark)
    warm, outputs = [], []
    tracer = Tracer(spark) if args.trace else None
    deadline = time.perf_counter() + args.seconds
    while len(warm) < MIN_WARM or time.perf_counter() < deadline:
        r = _run_job(wl, stats)
        unpersist_all(spark)
        if r is None:
            if len(warm) == 0 and time.perf_counter() > deadline:
                break
            continue
        warm.append(r[0])
        outputs.append(r[1])
        if tracer is not None:
            stats["attempted"] += 1
            try:
                ok = wl.trace(tracer)
            except Exception:
                traceback.print_exc()
                ok = False
            unpersist_all(spark)
            if not ok:
                stats["failed"] += 1
    if not warm or cold is None:
        return stats, {}
    print(
        f"{wl.name}: {wl.input_rows} input rows, {statistics.median_low(outputs)} output rows; "
        f"cold job {cold[0]:.3f} s, warm jobs " + " ".join(f"{t:.3f}" for t in warm)
    )
    job_s = statistics.median(warm)
    if tracer is None:
        metrics = {
            "setup_s": (sum(parts.values()), "s"),
            "cold_job_s": (cold[0], "s"),
            "job_s": (job_s, "s"),
            "rows_per_s": (wl.input_rows / job_s, "rows/s"),
            "peak_rss_mb": (rss.peak_mb, "MB"),
        }
    else:
        metrics = _layer_metrics(tracer, parts, job_s, wl)
    return stats, metrics


def _layer_metrics(tracer, parts, job_s, wl) -> dict:
    from perfbench.per_layer import LAYER_METRICS

    got = tracer.medians()
    got.update(parts)
    got["trace.job_s"] = job_s
    if "trace.total_s" in got:
        got["trace.overhead_share"] = got["trace.total_s"] / job_s - 1
    if wl.DETECT_KERNELS and got.get("detect.busy_s"):
        # the share of detect's core-seconds not spent in the kernels
        # themselves: Arrow transfer, worker hops, scheduling
        cores = wl.spark.sparkContext.defaultParallelism
        per_record = sum(got[f"{k}.s_per_record"] for k in wl.DETECT_KERNELS)
        cpu = per_record * got["detect.records"]
        got["detect.arrow_overhead_share"] = 1 - cpu / (got["detect.busy_s"] * cores)
    # layers this workload does not load report zero work
    return {name: (got.get(name, 0.0), unit) for name, unit in LAYER_METRICS}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "knowledgeextraction_spark")):
        print(f"no knowledgeextraction_spark package under {ROOT}", file=sys.stderr)
        return 2
    _isolate_env()
    try:
        return _main(args)
    finally:
        shutil.rmtree(os.environ["TMPDIR"], ignore_errors=True)


def _main(args) -> int:
    from perfbench.spans import RssSampler, wait_children
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    if args.prepare:
        cls.prepare(CACHE, args.seed)
        return 0

    # wall time of each phase of the run, for sizing run lengths
    phases = [("start", time.monotonic())]
    entry = cls.entry_dir(CACHE, args.seed)
    if not os.path.exists(os.path.join(entry, "meta.json")):
        # in its own process, so nothing it loads or leaves behind
        # lands in the measuring process; its output goes to stderr
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--prepare",
             "--workload", args.workload, "--seed", str(args.seed)],
            check=True,
            stdout=sys.stderr,
        )
    phases.append(("prepare", time.monotonic()))
    scratch = os.path.join(os.environ["TMPDIR"], "out")
    with RssSampler() as rss:
        spark, bc, parts = _setup()
        phases.append(("setup", time.monotonic()))
        try:
            wl = cls(entry, spark, bc, scratch)
            stats, metrics = _measure(args, wl, spark, parts, rss)
            phases.append(("measure", time.monotonic()))
        finally:
            _teardown(spark)
    wait_children()
    phases.append(("teardown", time.monotonic()))
    print(
        "phases (s): "
        + ", ".join(f"{n} {t - phases[i][1]:.1f}" for i, (n, t) in enumerate(phases[1:])),
        file=sys.stderr,
    )

    correct = stats["failed"] == 0 and bool(metrics)
    print(
        f"{args.workload} seed={args.seed}: error_rate="
        f"{stats['failed'] / max(stats['attempted'], 1):.3f} "
        f"({stats['failed']}/{stats['attempted']} jobs) "
        + " ".join(f"{k}={v:.4g}{u}" for k, (v, u) in metrics.items() if not args.trace)
    )
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": stats["attempted"],
                "failed": stats["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
