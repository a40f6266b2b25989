"""Seeded pages tables for the link-graph benchmark, cached on disk.

Every workload hands the engine one Parquet ``pages(url, warc_ts,
html, text, lang)`` table (the stand-in for the Iceberg table a crawl
job reads). The table and its oracle answers are built once per
(workload, seed, size) under the cache root and reused by later runs
with the same key; the engine never sees anything but the table.

- ``crawl`` tables are the engine's own synthetic crawl,
  ``webtext.generate_pages``, rendered row for row without Spark (see
  :func:`crawl_rows`): a fixed-stride walk gives every page
  about the same in-degree, so no vertex is a hub. The page count is
  chosen per seed so that every seed gives the same number of links
  (see :func:`page_count`).
- ``hub`` tables come from this module's :func:`hub_links`: every page
  links to its site's home page and to global hub pages chosen with
  Zipf weights, so the top hub is linked from ~60% of all pages.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HUBS = 64            # global hub pages
HUB_TOP_SHARE = 0.6  # share of pages linking to the top hub
HUB_ZIPF = 0.8       # hub j (1-based) is linked with p = TOP_SHARE / j**ZIPF
PAGES_PER_SITE = 200
_WORDS = (
    "crawl rank hub site home link page graph vertex edge gather apply "
    "scatter shard replica mirror master frontier superstep snapshot"
).split()


CRAWL_ALPHA, CRAWL_MAX_OUT, CRAWL_SITES = 1.6, 256, 256  # mean out-degree ~9.4


def page_count(workload, seed: int) -> int:
    """Pages in the workload's table for this seed.

    A hub table has ``n_pages`` pages. A crawl page's out-degree is
    drawn from a power law by page index and seed alone, so the links of
    ``n_pages`` pages vary by ~6% between seeds (IQR of the sum), and at
    this size a PageRank superstep costs about the same whatever the
    edge count, so edges per second would carry that spread. A crawl
    table therefore has the fewest pages whose out-degrees sum to at
    least the link count ``n_pages`` pages have on average.
    """
    if workload.kind != "crawl":
        return workload.n_pages
    from powergraph_spark.webtext.pages import _degree_cdf, _uniform

    cdf = _degree_cdf(CRAWL_ALPHA, CRAWL_MAX_OUT)
    mean_deg = float(np.sum(np.diff(cdf, prepend=0.0) * np.arange(1, len(cdf) + 1)))
    target = int(workload.n_pages * mean_deg)
    ids = np.arange(4 * workload.n_pages, dtype=np.uint64)
    degs = np.searchsorted(cdf, _uniform(ids, 1, seed)) + 1
    return int(np.searchsorted(np.cumsum(degs), target)) + 1


def cache_key(workload, seed: int) -> str:
    """(workload, seed, size), plus a digest of the workload's whole
    definition so that changed oracle settings never reuse old answers."""
    import hashlib

    digest = hashlib.sha1(repr(workload).encode()).hexdigest()[:8]
    return f"{workload.name}-seed{seed}-n{page_count(workload, seed)}-{digest}"


def hub_url(i: int, n_sites: int) -> str:
    return f"https://site{i % n_sites}.example/p/{i}"


def hub_links(n_pages: int, seed: int) -> list[list[int]]:
    """Out-link targets (page indices, document order) of every page.

    Page ``s < n_sites`` is the home page of site ``s``; hubs are the
    ``HUBS`` pages after the home pages. Each page links to its home
    page, to hub j with probability ``HUB_TOP_SHARE / j**HUB_ZIPF``, and
    to 1 + Poisson(3) uniform pages of its own site. Duplicate and self
    links are kept: the engine must drop them.
    """
    n_sites = max(1, n_pages // PAGES_PER_SITE)
    rng = np.random.default_rng(seed)
    hub_ids = np.arange(n_sites, n_sites + HUBS) % n_pages
    p_hub = HUB_TOP_SHARE / np.arange(1, HUBS + 1) ** HUB_ZIPF
    picks = rng.random((n_pages, HUBS)) < p_hub
    n_local = 1 + rng.poisson(3.0, n_pages)
    local = rng.integers(0, PAGES_PER_SITE, int(n_local.sum()))
    out, pos = [], 0
    for i in range(n_pages):
        site = i % n_sites
        targets = [site]
        targets.extend(hub_ids[picks[i]].tolist())
        for r in local[pos:pos + n_local[i]].tolist():
            targets.append((site + r * n_sites) % n_pages)
        pos += n_local[i]
        out.append(targets)
    return out


def _html(i: int, n_sites: int, targets: list[int], rng_words) -> str:
    words = [_WORDS[w] for w in rng_words]
    links = "".join(
        f'<a href="{hub_url(t, n_sites)}">{words[j % len(words)]} &amp; {t}</a>\n'
        for j, t in enumerate(targets)
    )
    return (
        f"<html><head><title>Page {i} &lt;{words[0]}&gt;</title>"
        f"<script>var p = {i};</script></head>\n<body>\n"
        f"<p>{' '.join(words)}\t&quot;site {i % n_sites}&#39;s page&quot;</p>\n"
        f"{links}</body></html>\n"
    )


def _write_pages(path: str, urls: list, htmls: list, texts: list, langs: list) -> None:
    """One Parquet file of ``pages(url, warc_ts, html, text, lang)`` under
    path; page i was crawled i seconds after 2024-01-01T00:00:00Z."""
    n_pages = len(urls)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.arange(n_pages).astype(
        "timedelta64[s]"
    )
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"),
                   row_group_size=max(1, n_pages // 8))


def write_linked_pages(path: str, links: list[list[int]], seed: int) -> None:
    """Write a pages table whose page i links to ``links[i]``; ``text``
    is the reference parser's output."""
    from powergraph_spark.webtext.reference_parser import extract_text

    n_pages = len(links)
    n_sites = max(1, n_pages // PAGES_PER_SITE)
    words = np.random.default_rng(seed + 1).integers(0, len(_WORDS), (n_pages, 12))
    urls, htmls, texts = [], [], []
    for i in range(n_pages):
        html = _html(i, n_sites, links[i], words[i]).encode("utf-8")
        urls.append(hub_url(i, n_sites))
        htmls.append(html)
        texts.append(extract_text(html))
    _write_pages(path, urls, htmls, texts, ["en"] * n_pages)


def crawl_rows(n_pages: int, seed: int) -> tuple[list, list, list, list]:
    """(urls, htmls, texts, langs) of ``webtext.generate_pages(n_pages,
    n_sites=CRAWL_SITES, seed, alpha=CRAWL_ALPHA, max_out=CRAWL_MAX_OUT)``
    in page order, rendered in this process with the generator's own
    helpers (``selftest.py`` checks that the rows equal the generator's).
    Starting Spark and a Python worker to render a few thousand pages
    costs more than rendering them."""
    from powergraph_spark.webtext import pages as gen
    from powergraph_spark.webtext.reference_parser import extract_text

    cdf = gen._degree_cdf(CRAWL_ALPHA, CRAWL_MAX_OUT)
    stride = 2654435761 % n_pages or 1
    ids = np.arange(n_pages, dtype=np.uint64)
    degs = np.searchsorted(cdf, gen._uniform(ids, 1, seed)) + 1
    lang_ix = gen._mix(ids, 2, seed) % np.uint64(len(gen.LANGS))
    wordsel = np.stack([(gen._mix(ids, 100 + k, seed) % np.uint64(97)).astype(np.int64)
                        for k in range(24)], axis=1)
    urls, htmls, texts, langs = [], [], [], []
    for i in range(n_pages):
        lang = gen.LANGS[int(lang_ix[i])]
        html = gen._render_html(i, n_pages, CRAWL_SITES, int(degs[i]), stride, lang,
                                wordsel[i])
        urls.append(gen.url_of(i, CRAWL_SITES))
        htmls.append(html)
        texts.append(extract_text(html))
        langs.append(lang)
    return urls, htmls, texts, langs


def ensure_pages(root: str, workload, seed: int) -> str:
    """Return the cache dir for the key, writing the pages table under
    ``pages/`` if missing.

    A directory is complete only once ``_READY`` exists (written by the
    caller after the oracle answers), so a run cut short mid-build is
    rebuilt from scratch by the next run.
    """
    d = os.path.join(root, cache_key(workload, seed))
    if os.path.exists(os.path.join(d, "_READY")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    pages = os.path.join(d, "pages")
    n_pages = page_count(workload, seed)
    if workload.kind == "crawl":
        _write_pages(pages, *crawl_rows(n_pages, seed))
    else:
        write_linked_pages(pages, hub_links(n_pages, seed), seed)
    return d
