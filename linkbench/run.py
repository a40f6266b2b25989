#!/usr/bin/env python3
"""Link-graph benchmark for powergraph_spark.

    python3 linkbench/run.py --workload crawl_rank --seed 1 --seconds 15 --trace 0

Runs one workload (see ``linkbench/workloads.py``) on pages built from
``--seed``, checks every output against the oracles in
``linkbench/oracles.py``, and prints one JSON object as the last line
of stdout: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see ``BENCHMARK.json``). Works from any directory:
inputs, Spark scratch space and traces go under ``.linkbench/`` in
the checkout that holds this file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".linkbench")
SETUP_TRIALS = 5


def _prepare_env(cpus: int) -> None:
    """Point Spark, its Python workers and temp files into the checkout.
    Must run before the first SparkSession is built."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def _session(cpus: int, partitions: int):
    from powergraph_spark.session import get_spark

    tmp = os.path.join(CACHE, "tmp")
    spark = get_spark(
        app_name="linkbench", master=f"local[{cpus}]", shuffle_partitions=partitions,
        extra_conf={
            "spark.local.dir": os.path.join(CACHE, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _fresh_jvm(spark, cpus: int, partitions: int):
    """Stop Spark and its JVM, and start both anew."""
    _stop_jvm(spark)
    return _session(cpus, partitions)


def _load_inputs(wl, seed: int) -> str:
    """Pages table and oracle answers for (workload, seed, size), built
    without Spark on the first run with that key."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from linkbench import inputs, oracles

    d = inputs.ensure_pages(CACHE, wl, seed)
    if not os.path.exists(os.path.join(d, "_READY")):
        exp, texts = oracles.build(os.path.join(d, "pages"), wl.oracle)
        exp.save(os.path.join(d, "expected.npz"))
        pq.write_table(pa.table({"url": [u for u, _ in texts],
                                 "text": [t for _, t in texts]}),
                       os.path.join(d, "text.parquet"))
        open(os.path.join(d, "_READY"), "w").close()
    return d


def _setup_trial(cpus, partitions, d, spark):
    """One set-up: fresh SparkContext on the running JVM, the pages
    table's listing and schema, and the oracle answers."""
    import pyarrow.parquet as pq

    from linkbench import oracles

    t0 = time.perf_counter()
    spark.stop()
    spark = _session(cpus, partitions)
    spark.read.parquet(os.path.join(d, "pages")).schema
    exp = oracles.Expected.load(os.path.join(d, "expected.npz"))
    t = pq.read_table(os.path.join(d, "text.parquet")).to_pydict()
    texts = dict(zip(t["url"], t["text"]))
    return spark, exp, texts, time.perf_counter() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import powergraph_spark  # noqa: F401
    except ImportError as e:
        print(f"linkbench: powergraph_spark is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from linkbench.inputs import page_count
    from linkbench.metrics import report
    from linkbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"linkbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    partitions = cpus
    _prepare_env(cpus)

    from linkbench.runner import measure

    t0 = time.perf_counter()
    d = _load_inputs(wl, args.seed)
    inputs_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = _session(cpus, partitions)
    get_spark_s = time.perf_counter() - t0

    setup_times = []
    for _ in range(SETUP_TRIALS):
        spark, exp, texts, dt = _setup_trial(cpus, partitions, d, spark)
        setup_times.append(dt)

    result = measure(wl, spark, d, exp, texts, partitions, cpus, args,
                     lambda c: _session(c, partitions),
                     lambda s: _fresh_jvm(s, cpus, partitions), CACHE)
    spark = result.pop("spark")
    _stop_jvm(spark)
    print(f"linkbench: {wl.name} seed {args.seed}: get_spark {get_spark_s:.1f}s, "
          f"inputs {inputs_s:.1f}s, setup {[round(t, 2) for t in setup_times]}, "
          f"jobs {[round(r.times['job'], 2) for r in result['reps']]}, "
          f"stages {[{k: round(v, 2) for k, v in r.times.items()} for r in result['reps']]}, "
          f"pagerank supersteps {[[round(m.wall_sec, 3) for m in r.out['pr'].metrics] for r in result['reps']]}",
          file=sys.stderr)
    out = report(args.trace, result, setup_s=statistics.median(setup_times),
                 get_spark_s=get_spark_s, n_pages=page_count(wl, args.seed))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
