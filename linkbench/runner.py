"""The measurement loop: cold pipeline runs, then checked warm repetitions.

The measured repetition is the first run of the pipeline in a fresh
JVM, after set-up: what a batch job submitted as its own Spark
application pays, class loading and compilation included. On 4 cores
the JVM keeps speeding up over the first ~100 s of work, and where a
warm repetition falls on that curve varies from run to run far more
than the cold run's time does, so warm times are not reported. Warm
repetitions still run while less than ``--seconds`` has passed since
the cold one started, and their outputs are checked, which catches
state one run leaves for the next.

With ``--trace 1`` the cold run is untraced and a second cold run, in
another fresh JVM, is traced: it gives the per-layer figures, and the
difference of the two runs' ``job_s`` is the tracing overhead.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext

import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F

from linkbench.trace import (CachedBytesPoller, StageCalls, Tracer, group_counters)
from linkbench.workloads import (check_rep, check_text, partition_stats,
                                 run_pipeline)
from powergraph_spark.algorithms import pagerank
from powergraph_spark.webtext import link_pairs, pages_to_graph

SCALING_STEPS = 8  # supersteps timed for the 1-core scaling diagnostic


def _release(spark, rep) -> None:
    """Drop everything the repetition left cached so the next starts cold."""
    if "graph" in rep.out:
        rep.out["graph"].unpersist()
    spark.catalog.clearCache()


def _layer_extras(spark, wl, rep, exp, pages_path: str) -> dict:
    """Per-layer figures measured outside the traced job."""
    out = partition_stats(rep.out["graph"], wl.salt_cap)
    pages = spark.read.parquet(pages_path)
    out["webtext.html_mb"] = float(
        pages.select(F.sum(F.length("html"))).first()[0]) / 1e6
    obs = Observation("link_pairs")
    t0 = time.perf_counter()
    (link_pairs(pages).observe(obs, F.count(F.lit(1)).alias("n"))
     .write.format("noop").mode("overwrite").save())
    out["webtext.link_pairs_s"] = time.perf_counter() - t0
    out["webtext.link_pairs"] = int(obs.get["n"])
    if "tri" in rep.out:
        out["triangles.oriented_max_out_deg"] = _oriented_max_out_deg(exp)
    return out


def _oriented_max_out_deg(exp) -> int:
    """Largest out-set after (degree, id) orientation: the longest list
    the triangle intersection touches."""
    a, b = np.minimum(exp.src, exp.dst), np.maximum(exp.src, exp.dst)
    und = np.unique(np.stack([a, b], axis=1), axis=0)
    deg = np.bincount(und.ravel(), minlength=len(exp.ids))
    ka = np.stack([deg[und[:, 0]], exp.ids[und[:, 0]]], axis=1)
    kb = np.stack([deg[und[:, 1]], exp.ids[und[:, 1]]], axis=1)
    a_first = (ka[:, 0] < kb[:, 0]) | ((ka[:, 0] == kb[:, 0]) & (ka[:, 1] < kb[:, 1]))
    lo = np.where(a_first, und[:, 0], und[:, 1])
    return int(np.bincount(lo).max()) if len(lo) else 0


def _scaling_windows(spark, pages_path: str, partitions: int) -> list[float]:
    """Per-superstep wall times of the first PageRank supersteps on the
    session's cores."""
    g = pages_to_graph(spark.read.parquet(pages_path), num_partitions=partitions)
    res = pagerank(g, tol=0.0, max_iterations=SCALING_STEPS)
    g.unpersist()
    spark.catalog.clearCache()
    return [m.wall_sec for m in res.metrics]


def measure(wl, spark, d, exp, texts, partitions, cpus, args, new_session,
            fresh_jvm, cache) -> dict:
    """Run the repetitions; ``new_session(cores)`` replaces the
    SparkContext in the running JVM, ``fresh_jvm(spark)`` the JVM."""
    pages_path = os.path.join(d, "pages")
    run_id = f"{wl.name}-s{args.seed}-p{os.getpid()}"
    work_dir = os.path.join(cache, "work", run_id)
    calls = StageCalls(spark, None, False)
    reps, tracers = [], []
    correct = True

    def repetition(traced: bool) -> None:
        nonlocal correct
        i = len(reps)
        tracer = Tracer(f"{run_id}.r{i}")
        tracers.append(tracer)
        calls.spark, calls.tracer, calls.traced, calls.groups = spark, tracer, traced, {}
        with CachedBytesPoller(spark) if traced else nullcontext() as poll:
            rep = run_pipeline(wl, spark, spark.read.parquet(pages_path),
                               work_dir, partitions, calls, tracer)
        failed_before = calls.failed
        check_rep(wl, spark, rep, exp, calls, rep.derived)
        if i == 0:
            check_text(spark, pages_path, texts, calls)
        correct = correct and calls.failed == failed_before
        if traced:
            rep.peak_cached = poll.peak
            rep.counters = group_counters(spark, calls.groups)
            rep.groups = dict(calls.groups)
            rep.derived.update(_layer_extras(spark, wl, rep, exp, pages_path))
            rep.ckpt_bytes = rep.store.committed_bytes() if rep.store else 0
        _release(spark, rep)
        reps.append(rep)

    scaling = None
    window_start = time.perf_counter()
    try:
        repetition(traced=False)
        if args.trace == 1:
            spark = fresh_jvm(spark)
            repetition(traced=True)
            if wl.name == "crawl_rank":
                fast = _scaling_windows(spark, pages_path, partitions)
                spark.stop()
                spark = new_session(1)
                slow = _scaling_windows(spark, pages_path, partitions)
                scaling = (float(np.median(slow)) / float(np.median(fast))) / cpus
        else:
            while time.perf_counter() - window_start < args.seconds:
                repetition(traced=False)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        correct = False

    for t in tracers:
        if args.trace == 1:
            t.write(os.path.join(cache, "traces", f"{t.run_id}.jsonl"))
    shutil.rmtree(work_dir, ignore_errors=True)
    return {"spark": spark, "reps": reps, "correct": correct and bool(reps),
            "attempted": calls.attempted, "failed": calls.failed,
            "scaling": scaling}
