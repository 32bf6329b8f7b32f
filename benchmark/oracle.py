"""Reference digests for the crawl workloads, from the stdlib-Python oracle
`crawl()` in tools/gen_site_fixtures.py, imported unchanged.

The oracle runs on the site the benchmark generated and exported (one line
per page: url, tab, base64 html). Its per-page link extraction is the slow
part, so it is computed first with the oracle's own `extract_clean_links`
in a process pool and handed to `crawl()` as a lookup; the crawl itself is
the oracle's code, run once, single-threaded.
"""
import base64
import json
import multiprocessing
import os
import sys

import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ORACLE_DIR = os.path.join(ROOT, "tools")


def _oracle():
    if ORACLE_DIR not in sys.path:
        sys.path.insert(0, ORACLE_DIR)
    import gen_site_fixtures
    return gen_site_fixtures


def _extract(item):
    return _oracle().extract_clean_links(*item)


def read_site(path):
    pages = {}
    with open(path, encoding="ascii") as f:
        for line in f:
            url, b64 = line.rstrip("\n").split("\t")
            pages[url] = base64.b64decode(b64)
    return pages


def visited_epochs(visited, epochs):
    """(epoch, url) pairs from the oracle's outputs. A url in epoch e's
    frontier that is absent from epoch e+1's was fetched in epoch e (deferred
    urls are always carried over); the last frontier is fetched whole. The
    result must reproduce the oracle's (epoch, url)-ordered trace exactly.
    """
    pairs = []
    for e, frontier in enumerate(epochs):
        later = set(epochs[e + 1]) if e + 1 < len(epochs) else set()
        pairs += [(e, u) for u in sorted(set(frontier) - later)]
    if [u for _, u in pairs] != list(visited):
        raise ValueError("oracle trace does not split into its frontier epochs")
    return pairs


def digests(site_path, domain, budget, depth_priority, procs):
    g = _oracle()
    pages = read_site(site_path)
    items = [(u, b) for u, b in pages.items() if b is not None]
    with multiprocessing.Pool(procs) as pool:
        links = dict(zip((u for u, _ in items),
                         pool.map(_extract, items, chunksize=256)))
    original = g.extract_clean_links
    g.extract_clean_links = lambda url, body: links[url]
    try:
        visited, all_links, epochs = g.crawl(pages, domain, budget=budget,
                                             depth_priority=depth_priority)
    finally:
        g.extract_clean_links = original
    pairs = visited_epochs(visited, epochs)
    return {
        "epochs": len(epochs),
        "digest_visited": metrics.digest(f"{e}\t{u}" for e, u in pairs),
        "digest_links": metrics.digest(all_links),
    }


def cached_digests(cache_dir, key, site_path, size, procs):
    """Digests for (workload, seed, size), computed once per checkout."""
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    d = digests(site_path, size["domain"], size["budget"] or None,
                size["depth_priority"], procs)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(d, f)
    os.replace(path + ".tmp", path)
    return d
