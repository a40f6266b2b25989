#!/usr/bin/env python3
"""Checks of the benchmark's own parts; run before trusting its results.

    python3 linkbench/selftest.py

1. The numpy oracles agree with the pure-Python reference oracles in
   ``tests/oracles.py`` on small random graphs.
2. :func:`linkbench.oracles.xxh64` equals Spark's ``xxhash64`` on urls,
   and :func:`linkbench.inputs.crawl_rows` equals the engine's
   ``webtext.generate_pages`` row for row (starts a local Spark session).
3. ``BENCHMARK.json`` lists exactly the workloads and metrics the code
   defines, with the same units.
"""

from __future__ import annotations

import json
import os
import random
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

from linkbench import oracles  # noqa: E402


def expect(ok: bool, what) -> None:
    if not ok:
        raise AssertionError(what)


def _graph(seed: int, n: int = 40, m: int = 120):
    rng = random.Random(seed)
    edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(m)})
    edges = [(s, d) for s, d in edges if s != d]
    src = np.array([s for s, _ in edges], dtype=np.int64)
    dst = np.array([d for _, d in edges], dtype=np.int64)
    return edges, set(range(n)), src, dst, n


def check_oracles() -> None:
    import oracles as ref  # tests/oracles.py

    for seed in range(25):
        edges, verts, src, dst, n = _graph(seed)
        ids = np.arange(n, dtype=np.int64)
        rank, _ = oracles.pagerank(src, dst, n, tol=1e-6)
        want = ref.pagerank_oracle(edges, verts, tol=1e-6)
        expect(np.allclose(rank, [want[v] for v in range(n)], rtol=0, atol=1e-9), seed)
        cc = oracles.components(src, dst, ids)
        want = ref.cc_oracle(edges, verts)
        expect(cc.tolist() == [want[v] for v in range(n)], seed)
        # shuffled ids: labels and tie-breaks follow ids, not indices
        perm = np.random.default_rng(seed).permutation(n).astype(np.int64)
        lab, _ = oracles.label_propagation(src, dst, perm, max_iter=100)
        want = ref.lp_oracle(edges, verts, labels={v: int(perm[v]) for v in verts})
        expect(lab.tolist() == [want[v] for v in range(n)], seed)
        per, total = oracles.triangles(src, dst, n)
        want_per, want_total = ref.triangles_oracle(edges, verts)
        expect(total == want_total and per.tolist() == [want_per[v] for v in range(n)], seed)
    print("oracles: agree with tests/oracles.py on 25 random graphs")


def check_spark() -> None:
    """Checks that need a Spark session (one JVM for both)."""
    from pyspark.sql import functions as F

    from linkbench import inputs, run
    from powergraph_spark.webtext import generate_pages

    cpus = len(os.sched_getaffinity(0))
    run._prepare_env(cpus)
    spark = run._session(cpus, cpus)
    try:
        urls = ["", "a", "https://site1.example/p/1", "x" * 31, "y" * 32, "z" * 77,
                "https://site0.example/page/123456?q=é"]
        rows = spark.createDataFrame([(u,) for u in urls], "u string").select(
            "u", F.xxhash64("u").alias("h")).collect()
        n_pages, seed = 700, 11
        pages = generate_pages(spark, n_pages, n_sites=inputs.CRAWL_SITES, seed=seed,
                               alpha=inputs.CRAWL_ALPHA, max_out=inputs.CRAWL_MAX_OUT)
        want = pages.select("url", "html", "text", "lang",
                            F.unix_timestamp("warc_ts").alias("ts")).collect()
    finally:
        run._stop_jvm(spark)
    for r in rows:
        expect(oracles.xxh64(r["u"].encode("utf-8")) == r["h"], r["u"])
    print(f"xxh64: equals Spark's xxhash64 on {len(rows)} urls")
    got = list(zip(*inputs.crawl_rows(n_pages, seed)))
    want = sorted(want, key=lambda r: int(r["url"].rsplit("/", 1)[1]))
    expect(len(want) == n_pages, "generate_pages row count")
    for i, (r, g) in enumerate(zip(want, got)):
        expect((r["url"], bytes(r["html"]), r["text"], r["lang"]) == g, r["url"])
        expect(r["ts"] == 1704067200 + i, r["url"])  # 2024-01-01T00:00:00Z + i s
    print(f"inputs.crawl_rows: equals webtext.generate_pages on {n_pages} pages")


def check_manifest() -> None:
    from linkbench.metrics import END_TO_END, PER_LAYER
    from linkbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expect([w["name"] for w in bench["workloads"]] == list(WORKLOADS), "workloads")
    expect({m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END,
           "end_to_end metrics")
    expect({m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER,
           "per_layer metrics")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    expect(max(bounds.values()) == bounds["setup_s"] <= 0.25, "setup_s has the largest bound")
    print("BENCHMARK.json: workloads and metrics match the code")


if __name__ == "__main__":
    check_oracles()
    check_manifest()
    check_spark()
