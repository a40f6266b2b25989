"""The benchmark's workloads: the measured pipelines and their checks.

Two workloads, each exercising the mechanisms the other bypasses:

- ``crawl_rank``: the ``jobs/pagerank_job.py`` pipeline on the engine's
  uniform-in-degree synthetic crawl (ingest, PageRank, rank write),
  then a PageRank that commits to a CheckpointStore every superstep,
  stops and resumes. Per-edge work in extraction and in the PageRank
  gather, and durable commits; no hubs and no salting, so partitioner
  and skew changes should not move it.
- ``hub_skew``: a crawl where every page links to its site's home page
  and to Zipf-chosen global hubs (top hub in-degree ~60% of pages),
  ingested with a salt cap below the hub degree, then PageRank, CC, LP
  and triangle counting. Skew shows in the partitioner, the gather and
  the degree-ordered intersection; no checkpoints.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from powergraph_spark.algorithms import (connected_components, label_propagation,
                                         pagerank, triangle_count)
from powergraph_spark.webtext import audit_collisions, extract_pages, pages_to_graph

from linkbench.trace import StageCalls, TimedCheckpointStore, Tracer

LP_DEFAULT_CAP = 100  # label_propagation's default max_iterations


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str               # inputs generator: "crawl" or "hub"
    n_pages: int            # pages; for "crawl", the pages whose mean link
    #                         count the table has (inputs.page_count)
    pr_steps: int           # PageRank runs exactly this many supersteps
    stages: tuple = ()      # algorithms after PageRank: "cc", "lp", "triangles"
    lp_cap: int = 0         # label_propagation max_iterations
    salt_cap: int | None = None
    resume: tuple | None = None  # (k, n): checkpointed PageRank stops after
    #                              superstep k, resumes to superstep n
    write_ranks: bool = False

    @property
    def oracle(self) -> dict:
        """oracles.build argument: the answers this workload is checked against."""
        out: dict = {"pagerank": {"tol": 0.0, "max_iter": self.pr_steps}}
        if self.resume:
            out["resumed"] = {"tol": 0.0, "max_iter": self.resume[1]}
        if "cc" in self.stages:
            out["cc"] = {}
        if "lp" in self.stages:
            out["lp"] = {"max_iter": self.lp_cap}
            out["lp_default_cap"] = {"max_iter": LP_DEFAULT_CAP}
        if "triangles" in self.stages:
            out["triangles"] = {}
        return out


# Sizes keep the cold pipeline run near 20 s on 4 cores, so that a run
# (JVM start, inputs, set-up, cold run) stays under a minute and the
# 4 + 22 runs per workload that comparing two commits takes stay under
# an hour for two workloads; checkpoints are therefore a stage of
# crawl_rank rather than a third workload. A run's time is mostly
# supersteps, so their count must not depend on the seed: to a
# tolerance it does (on the engine's crawl generator 4000-, 8000- or
# 16000-page corpora converge to 1e-6 in ~45 or ~85 supersteps depending
# on the seed), so PageRank runs a fixed number of supersteps (tol 0), as
# LDBC Graphalytics does. LP does not converge on these corpora within
# its default 100 supersteps for most seeds, which alone would take
# ~45 s, so it runs a 3-superstep cap and reports the oracle's superstep
# count at the default cap (lp.default_cap_steps).
WORKLOADS = {
    w.name: w for w in (
        Workload("crawl_rank", "crawl", 6_000, pr_steps=16, resume=(2, 4),
                 write_ranks=True),
        Workload("hub_skew", "hub", 2_000, pr_steps=12,
                 stages=("cc", "lp", "triangles"), lp_cap=3, salt_cap=300),
    )
}


@dataclass
class Rep:
    """One measured repetition: stage times, the engine's outputs and,
    filled in by the runner, what was observed around them."""

    times: dict = field(default_factory=dict)
    out: dict = field(default_factory=dict)
    store: TimedCheckpointStore | None = None
    tracer: Tracer | None = None
    peak_cached: int = 0          # bytes
    derived: dict = field(default_factory=dict)   # algorithm/layer figures
    counters: dict = field(default_factory=dict)  # job group -> Spark counters
    groups: dict = field(default_factory=dict)    # job group -> stage call info
    ckpt_bytes: int = 0


def run_pipeline(wl: Workload, spark, pages, work_dir: str, partitions: int,
                 calls: StageCalls, tracer: Tracer) -> Rep:
    """The measured job over the pages DataFrame. Every stage is one
    call into the engine."""
    rep = Rep(tracer=tracer)
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    with tracer.span("bench.job") as job:
        _stages(wl, spark, pages, work_dir, partitions, calls, tracer, rep)
    rep.times["job"] = job["end"] - job["start"]
    return rep


def _stages(wl, spark, pages, work_dir, partitions, calls, tracer, rep) -> None:

    def stage(name, fn):
        with calls.call(name) as info:
            out = fn()
        rep.times[name] = info["seconds"]
        return out

    def ingest():
        with tracer.span("webtext.pages_to_graph"):
            g = pages_to_graph(pages, num_partitions=partitions, salt_cap=wl.salt_cap)
        with tracer.span("webtext.audit_collisions"):
            collisions = audit_collisions(g.vertices)
        return g, collisions

    g, rep.out["collisions"] = stage("ingest", ingest)
    rep.out["graph"] = g
    rep.out["pr"] = stage("pagerank", lambda: pagerank(
        g, tol=0.0, max_iterations=wl.pr_steps))
    if wl.write_ranks:
        ranks = os.path.join(work_dir, "ranks")
        stage("write", lambda: rep.out["pr"].state.select("id", "rank")
              .write.mode("overwrite").parquet(ranks))
        rep.out["ranks_path"] = ranks
    if wl.resume:
        stop, end = wl.resume
        store = TimedCheckpointStore(spark, os.path.join(work_dir, "ckpt"), tracer)
        rep.store = store
        rep.out["interrupted"] = stage("checkpoint", lambda: pagerank(
            g, tol=0.0, checkpoint=store, max_iterations=stop))
        rep.out["resumed"] = stage("resume", lambda: pagerank(
            g, tol=0.0, checkpoint=store, resume=True, max_iterations=end))
    if "cc" in wl.stages:
        rep.out["cc"] = stage("cc", lambda: connected_components(g))
    if "lp" in wl.stages:
        rep.out["lp"] = stage("lp", lambda: label_propagation(g, max_iterations=wl.lp_cap))
    if "triangles" in wl.stages:
        rep.out["tri"] = stage("triangles", lambda: triangle_count(g))


# --------------------------------------------------------------- checks
def _by_index(exp, pdf, id_col: str, val_col: str) -> np.ndarray:
    """Engine values re-ordered into the oracle's url index space."""
    order = np.argsort(exp.ids)
    ids = pdf[id_col].to_numpy(np.int64)
    pos = np.searchsorted(exp.ids[order], ids)
    pos = np.clip(pos, 0, len(order) - 1)
    if len(ids) != len(exp.ids) or not np.array_equal(exp.ids[order][pos], ids):
        raise ValueError(f"{val_col}: engine vertex ids differ from the oracle's")
    out = np.empty(len(ids), dtype=pdf[val_col].dtype)
    out[order[pos]] = pdf[val_col].to_numpy()
    return out


def check_rep(wl: Workload, spark, rep: Rep, exp, calls: StageCalls,
              derived: dict) -> None:
    """Compare every engine output of the repetition with the oracle.

    A mismatch counts the stage call failed; ``derived`` receives the
    algorithm-level figures the traced run reports.
    """
    g = rep.out["graph"]
    verts = g.vertices.select("id", "url").toPandas().sort_values("url")
    if rep.out["collisions"] != 0:
        calls.fail("ingest", f"{rep.out['collisions']} url hash collisions")
    elif not (np.array_equal(verts["url"].to_numpy(dtype=exp.urls.dtype), exp.urls)
              and np.array_equal(verts["id"].to_numpy(np.int64), exp.ids)):
        calls.fail("ingest", "vertex (id, url) set differs from the oracle")
    elif g.num_edges() != len(exp.src):
        calls.fail("ingest", f"{g.num_edges()} edges, oracle {len(exp.src)}")

    state = (spark.read.parquet(rep.out["ranks_path"]) if "ranks_path" in rep.out
             else rep.out["pr"].state.select("id", "rank"))
    ranks = _by_index(exp, state.toPandas(), "id", "rank")
    err = float(np.max(np.abs(ranks - exp.results["pr_rank"])))
    derived["pagerank.max_abs_err"] = err
    if not np.allclose(ranks, exp.results["pr_rank"], rtol=1e-6, atol=1e-6):
        calls.fail("pagerank", f"ranks differ from the oracle by {err:.3g}")
    if "resumed" in rep.out:
        res = rep.out["resumed"]
        ranks = _by_index(exp, res.state.select("id", "rank").toPandas(), "id", "rank")
        if res.supersteps != wl.resume[1] or not np.allclose(
                ranks, exp.results["resumed_rank"], rtol=1e-6, atol=1e-6):
            calls.fail("resume", "resumed ranks differ from an uninterrupted run")

    if "cc" in rep.out:
        comp = _by_index(exp, rep.out["cc"].state.select("id", "component").toPandas(),
                         "id", "component")
        derived["cc.components"] = int(len(np.unique(comp)))
        if not np.array_equal(comp, exp.results["cc"]):
            calls.fail("cc", "component labels differ from the oracle")
    if "lp" in rep.out:
        lp = rep.out["lp"]
        lab = _by_index(exp, lp.state.select("id", "label").toPandas(), "id", "label")
        derived["lp.labels"] = int(len(np.unique(lab)))
        derived["lp.default_cap_steps"] = int(exp.results["lp_default_cap_steps"])
        if lp.supersteps != exp.results["lp_steps"]:
            calls.fail("lp", f"{lp.supersteps} supersteps, oracle {exp.results['lp_steps']}")
        elif not np.array_equal(lab, exp.results["lp"]):
            calls.fail("lp", "labels differ from the oracle")
    if "tri" in rep.out:
        per_vertex, total = rep.out["tri"]
        tri = _by_index(exp, per_vertex.toPandas(), "id", "n_triangles")
        derived["triangles.total"] = int(total)
        if total != exp.results["tri_total"] or not np.array_equal(
                tri, exp.results["tri"]):
            calls.fail("triangles", f"total {total}, oracle {exp.results['tri_total']}")


def check_text(spark, pages_path: str, texts: dict, calls: StageCalls) -> None:
    """Engine text extraction byte-for-byte against the reference parser."""
    with calls.call("extract_text"):
        got = extract_pages(spark.read.parquet(pages_path)).select(
            "url", "text").toPandas()
    bad = sum(1 for u, t in zip(got["url"], got["text"]) if texts.get(u) != t)
    if bad or len(got) != len(texts):
        calls.fail("extract_text", f"{bad} of {len(texts)} pages differ")


def partition_stats(g, salt_cap: int | None) -> dict:
    """Vertex-cut quality of the ingested graph (traced run only)."""
    from powergraph_spark.partition import replication_factor

    pid = g.edges.groupBy("pid").count().toPandas()["count"].to_numpy()
    deg = g.degrees().agg(F.max("in_deg"), F.max("out_deg")).first()
    salted = 0
    if salt_cap is not None:
        salted = g.degrees().filter(
            (F.col("in_deg") > salt_cap) | (F.col("out_deg") > salt_cap)).count()
    return {
        "graph.vertices": g.num_vertices(),
        "graph.edges": g.num_edges(),
        "partition.replication_factor": replication_factor(g.edges),
        "partition.pid_max_over_mean": float(pid.max() / pid.mean()),
        "partition.hub_max_in_deg": int(deg[0]),
        "partition.salted_vertices": int(salted),
    }
