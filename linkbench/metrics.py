"""Metric definitions and their derivation from the measured repetitions.

``END_TO_END`` and ``PER_LAYER`` name every metric with its unit; the
lists in ``BENCHMARK.json`` are the same (``selftest.py`` checks it).
Every workload prints every metric of the list it was asked for. A
per-layer metric of a layer the workload does not exercise (a CC
figure on ``crawl_rank``, a checkpoint figure on ``hub_skew``) reads 0.
"""

from __future__ import annotations

import resource
import statistics

from linkbench.trace import tail

END_TO_END = {
    "job_s": "s",
    "ingest_s": "s",
    "pagerank_s": "s",
    "pagerank_edges_per_s": "edges/s",
    "setup_s": "s",
}

GAS_ALGS = {"pagerank": "pr", "cc": "cc", "lp": "lp"}  # -> Rep.out key, stage name

PER_LAYER = {
    "session.get_spark_s": "s",
    "bench.trace_overhead_s": "s",
    "bench.fail_rate": "ratio",
    "stage.write_s": "s",
    "stage.checkpoint_s": "s",
    "stage.resume_s": "s",
    "stage.cc_s": "s",
    "stage.lp_s": "s",
    "stage.triangles_s": "s",
    "webtext.pages_to_graph_s": "s",
    "webtext.audit_collisions_s": "s",
    "webtext.link_pairs_s": "s",
    "webtext.pages_per_s": "1/s",
    "webtext.html_mb": "MB",
    "webtext.link_pairs": "count",
    "webtext.edges": "count",
    "webtext.edge_yield": "ratio",
    "webtext.shuffle_write_mb": "MB",
    "graph.vertices": "count",
    "graph.edges": "count",
    "partition.replication_factor": "ratio",
    "partition.pid_max_over_mean": "ratio",
    "partition.hub_max_in_deg": "count",
    "partition.salted_vertices": "count",
    **{f"gas.{a}.{m}": u for a in GAS_ALGS for m, u in (
        ("supersteps", "count"), ("max_iter_hit", "count"),
        ("window_s.p50", "s"), ("window_s.tail", "s"), ("window_n", "count"),
        ("jobs_per_superstep", "count"), ("tasks", "count"),
        ("shuffle_mb_per_superstep", "MB"))},
    "pagerank.max_abs_err": "abs",
    "pagerank.scaling_eff_1to4": "ratio",
    "cc.components": "count",
    "lp.labels": "count",
    "lp.default_cap_steps": "count",
    "triangles.total": "count",
    "triangles.oriented_max_out_deg": "count",
    "triangles.shuffle_write_mb": "MB",
    "checkpoint.commits": "count",
    "checkpoint.commit_s.p50": "s",
    "checkpoint.commit_s.tail": "s",
    "checkpoint.commit_share": "ratio",
    "checkpoint.mb_per_commit": "MB",
    "checkpoint.latest_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "spark.jvm_peak_rss_mb": "MB",
    "spark.peak_cached_mb": "MB",
}


def _end_to_end(rep) -> dict:
    g = rep.out["graph"]
    pr_s = rep.times["pagerank"]
    return {
        "job_s": rep.times["job"],
        "ingest_s": rep.times["ingest"],
        "pagerank_s": pr_s,
        "pagerank_edges_per_s": g.num_edges() * rep.out["pr"].supersteps / pr_s,
    }


def _gas(rep, alg: str, key: str) -> dict:
    res = rep.out.get(key)
    p = f"gas.{alg}."
    if res is None:
        return {}
    windows = [m.wall_sec for m in res.metrics]
    steps = res.supersteps
    groups = [g for g, info in rep.groups.items() if info["name"] == alg]
    jobs = sum(rep.counters[g]["jobs"] for g in groups)
    t, _ = tail(windows)
    return {
        p + "supersteps": steps,
        p + "max_iter_hit": int(res.termination == "MAX_ITERATIONS"),
        p + "window_s.p50": statistics.median(windows),
        p + "window_s.tail": t,
        p + "window_n": len(windows),
        p + "jobs_per_superstep": jobs / max(1, steps),
        p + "tasks": sum(rep.counters[g]["tasks"] for g in groups),
        p + "shuffle_mb_per_superstep": sum(
            rep.groups[g]["shuffle_bytes"] for g in groups) / 1e6 / max(1, steps),
    }


def _per_layer(result: dict, get_spark_s: float, n_pages: int) -> dict:
    plain, rep = result["reps"][:2]  # cold runs: untraced, traced
    m = {k: 0 for k in PER_LAYER}
    m["session.get_spark_s"] = get_spark_s
    m["bench.trace_overhead_s"] = rep.times["job"] - plain.times["job"]
    m["bench.fail_rate"] = result["failed"] / max(1, result["attempted"])
    for stage in ("write", "checkpoint", "resume", "cc", "lp", "triangles"):
        m[f"stage.{stage}_s"] = rep.times.get(stage, 0.0)

    tr = rep.tracer
    p2g = tr.total("webtext.pages_to_graph")
    m["webtext.pages_to_graph_s"] = p2g
    m["webtext.audit_collisions_s"] = tr.total("webtext.audit_collisions")
    m.update(rep.derived)
    m["webtext.pages_per_s"] = n_pages / p2g
    m["webtext.edges"] = rep.out["graph"].num_edges()
    m["webtext.edge_yield"] = m["webtext.edges"] / max(1, m["webtext.link_pairs"])
    by_name = {}
    for g, info in rep.groups.items():
        by_name.setdefault(info["name"], []).append(g)
    m["webtext.shuffle_write_mb"] = sum(
        rep.groups[g]["shuffle_bytes"] for g in by_name.get("ingest", [])) / 1e6
    m["triangles.shuffle_write_mb"] = sum(
        rep.groups[g]["shuffle_bytes"] for g in by_name.get("triangles", [])) / 1e6
    for alg, key in GAS_ALGS.items():
        m.update(_gas(rep, alg, key))
    if result["scaling"] is not None:
        m["pagerank.scaling_eff_1to4"] = result["scaling"]

    commits = tr.durations("checkpoint.commit")
    if commits:
        m["checkpoint.commits"] = len(commits)
        m["checkpoint.commit_s.p50"] = statistics.median(commits)
        m["checkpoint.commit_s.tail"] = tail(commits)[0]
        m["checkpoint.commit_share"] = sum(commits) / (
            rep.times["checkpoint"] + rep.times["resume"])
        m["checkpoint.mb_per_commit"] = rep.ckpt_bytes / 1e6 / len(commits)
        m["checkpoint.latest_s"] = tr.total("checkpoint.latest")

    c = rep.counters.values()
    m["spark.jobs"] = sum(x["jobs"] for x in c)
    m["spark.stages"] = sum(x["stages"] for x in c)
    m["spark.tasks"] = sum(x["tasks"] for x in c)
    m["spark.failed_tasks"] = sum(x["failed_tasks"] for x in c)
    m["spark.gc_s"] = sum(x["gc_ms"] for x in c) / 1e3
    m["spark.spill_mb"] = sum(x["spill_bytes"] for x in c) / 1e6
    m["spark.peak_cached_mb"] = rep.peak_cached / 1e6
    # the JVM has exited and been waited for: it is the largest child
    m["spark.jvm_peak_rss_mb"] = (
        resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024)
    return {k: m[k] for k in PER_LAYER}


def report(trace: int, result: dict, setup_s: float, get_spark_s: float,
           n_pages: int) -> dict:
    """The benchmark's result object (the last line of stdout): the
    end-to-end figures of the cold repetition, or the per-layer ones."""
    reps = result["reps"]
    metrics: dict = {}
    if reps and (not trace or len(reps) == 2):
        if trace:
            values = _per_layer(result, get_spark_s, n_pages)
            units = PER_LAYER
        else:
            values = {**_end_to_end(reps[0]), "setup_s": setup_s}
            units = END_TO_END
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    return {"correct": bool(result["correct"]), "attempted": max(1, result["attempted"]),
            "failed": result["failed"], "metrics": metrics}
