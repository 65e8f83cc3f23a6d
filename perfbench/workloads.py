"""Seeded input generators for the crawl-frontier benchmark workloads.

Each generator writes the parquet tables the scheduler and the oracle read
(seeds, link_graph, robots, url_filters, page_image, images,
images_golden) into a directory, and returns a :class:`Workload` that
says how to crawl them.  The same ``seed`` always gives the same tables;
the program under test only ever sees those tables.

Two workloads, chosen to load different layers:

* ``drain``: a large seed-only frontier over many hosts with skewed
  sizes, no link graph and no payloads.  Scheduling, state checkpoints
  and the final global sort do the work; the canonicaliser stays on its
  fast path, the URL-seen set is never probed and nothing is decoded.
* ``recrawl``: a link-graph universe whose outlinks include messy URL
  variants, duplicates, media, force-delete and robots-wildcard cases, so
  every round enqueues through canonicalise, filters, robots and the
  bloom URL-seen set; adaptive respider rules with fetch errors and
  retries re-enter fetched URLs every round, and every fetched page's
  image payload is decoded and checked.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gigaspark.synth import SynthParams, gen_crawl_universe, gen_images

FILTER_COLS = ("rule_idx", "expression", "priority", "spider_freq_days",
               "max_spiders_per_ip", "same_ip_wait_ms", "harvest_links",
               "force_delete")
FILTER_TYPES = (pa.int32(), pa.string(), pa.int32(), pa.float64(), pa.int32(),
                pa.int64(), pa.bool_(), pa.bool_())

# Adaptive respider rules: hotter pages (higher percentchangedperday in the
# latest reply) are refetched sooner.  Same table as tests/test_respider.py.
RESPIDER_FILTERS = [
    (0, "ismedia", -3, 30.0, 1, 0, False, False),
    (1, "isindexed && percentchangedperday>=60", 72, 3.0e-6, 1, 50, False, False),
    (2, "isindexed && percentchangedperday>=25", 64, 8.0e-6, 1, 50, False, False),
    (3, "isindexed", 58, 2.0e-5, 1, 50, False, False),
    (4, "isseed", 80, 30.0, 1, 150, True, False),
    (5, "hopcount>=3", 35, 30.0, 1, 100, False, False),
    (6, "default", 55, 30.0, 1, 100, True, False),
]

# Drain rules: eight fetch slots per host and round, no harvesting.
DRAIN_FILTERS = [
    (0, "ismedia", -3, 30.0, 8, 0, False, False),
    (1, "urlmatch~=/p/[0-9]*7$", 85, 30.0, 8, 100, False, False),
    (2, "isseed", 80, 30.0, 8, 100, False, False),
    (3, "default", 50, 30.0, 8, 100, False, False),
]

@dataclass(frozen=True)
class Workload:
    """How to crawl one generated input directory."""

    name: str
    fix_dir: str
    rounds: int
    checkpoint_every: int           # commit state after every n-th round
    config: dict                    # CrawlConfig keyword arguments
    oracle: dict                    # OracleSim keyword arguments
    shape: dict = field(default_factory=dict)


@dataclass(frozen=True)
class Size:
    hosts: int
    rounds: int
    checkpoint_every: int
    urls: int = 0       # drain: seed URLs
    images: int = 0     # recrawl: distinct image payloads


# "tiny" is the self-test size, and the tiny drain the warm-up sample:
# every code path, a fraction of the rows.  The "full" sizes keep one run (session start,
# warm-up, one crawl, its checks) near a minute on 4 cores: a round pays
# seconds of fixed per-job Spark overhead whatever its size, and a
# harvesting round several times more than a drain round.
SIZES = {
    ("drain", "full"): Size(hosts=2048, urls=40_000, rounds=4, checkpoint_every=2),
    ("drain", "tiny"): Size(hosts=48, urls=1_500, rounds=2, checkpoint_every=1),
    ("recrawl", "full"): Size(hosts=150, images=24, rounds=1, checkpoint_every=1),
    ("recrawl", "tiny"): Size(hosts=12, images=18, rounds=2, checkpoint_every=1),
}


def _write(fix_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(fix_dir, f"{name}.parquet"))


def _write_filters(fix_dir: str, rows) -> None:
    cols = list(zip(*rows))
    _write(fix_dir, "url_filters", pa.table(
        {c: pa.array(v, t) for c, v, t in zip(FILTER_COLS, cols, FILTER_TYPES)}))


def _write_seeds(fix_dir: str, name: str, urls: list[str], added: np.ndarray) -> None:
    _write(fix_dir, name, pa.table({
        "url": pa.array(urls, pa.string()),
        "added_time_ms": pa.array(added.astype(np.int64), pa.int64()),
        "is_seed": pa.array([True] * len(urls), pa.bool_()),
    }))


def gen_drain(fix_dir: str, seed: int, size: Size) -> Workload:
    """~``size.urls`` canonical seed URLs over ``size.hosts`` hosts, no link
    graph, no payloads.

    Host sizes are lognormal with four heavy hosts (the largest holds about
    an eighth of all URLs, not the quarter Zipf 1.3 gives one host, so the
    crawl does not pin on one giant host).  One host in five has a robots
    crawl-delay.  About 1% of seeds are media URLs (filtered) and 1% of a
    crawl-delayed host's seeds sit under its robots-disallowed prefix.
    """
    os.makedirs(fix_dir, exist_ok=True)
    # The multiset of host sizes and the number of crawl-delayed hosts are
    # the same for every seed; the seed decides which host gets which, so
    # every seed's crawl does about the same amount of work.
    w = np.sort(np.random.default_rng(0).lognormal(0.0, 1.0, size.hosts))
    w[-4:] *= 30.0
    rng = np.random.default_rng(seed)
    h_n = size.hosts
    sizes = np.maximum(1, (size.urls * w / w.sum()).astype(np.int64))[rng.permutation(h_n)]
    delay_hosts = np.zeros(h_n, dtype=bool)
    delay_hosts[rng.choice(h_n, h_n // 5, replace=False)] = True
    urls: list[str] = []
    for h in range(h_n):
        host = f"d{h}.example"
        for j, k in enumerate(rng.random(int(sizes[h]))):
            if k < 0.01:
                urls.append(f"http://{host}/static/i{j}.jpg")
            elif k < 0.02 and delay_hosts[h]:
                urls.append(f"http://{host}/private/{j}")
            else:
                urls.append(f"http://{host}/p/{j}")
    order = rng.permutation(len(urls))
    _write_seeds(fix_dir, "seeds", [urls[i] for i in order], np.arange(len(urls)))
    _write(fix_dir, "link_graph", pa.table({
        "src_url": pa.array([], pa.string()),
        "dst_urls": pa.array([], pa.list_(pa.string()))}))
    rb = [h for h in range(h_n) if delay_hosts[h]]
    _write(fix_dir, "robots", pa.table({
        "host": pa.array([f"d{h}.example" for h in rb], pa.string()),
        "user_agent": pa.array(["*"] * len(rb), pa.string()),
        "rule_type": pa.array(["disallow"] * len(rb), pa.string()),
        "path_prefix": pa.array(["/private"] * len(rb), pa.string()),
        "crawl_delay_ms": pa.array(rng.permutation(
            np.resize([250, 500, 1000], len(rb))), pa.int64()),
    }))
    _write_filters(fix_dir, DRAIN_FILTERS)
    shape = {"urls": len(urls), "hosts": h_n,
             "largest_host_share": float(sizes.max() / sizes.sum()),
             "messy_share": 0.0}
    return Workload("drain", fix_dir, size.rounds, size.checkpoint_every, {}, {}, shape)


def _universe_shape(fix_dir: str, meta: dict) -> dict:
    """URLs, hosts, largest host share and messy share of a synth universe."""
    from gigaspark.functions.urls import canonicalize_url, py_host

    lg = pq.read_table(os.path.join(fix_dir, "link_graph.parquet")).to_pydict()
    raw = pq.read_table(os.path.join(fix_dir, "seeds.parquet")).column("url").to_pylist()
    raw += [u for dsts in lg["dst_urls"] for u in dsts]
    per_host: dict[str, int] = {}
    for src in lg["src_url"]:
        h = py_host(src)
        per_host[h] = per_host.get(h, 0) + 1
    return {"urls": meta["total_urls"], "hosts": meta["params"]["n_hosts"],
            "largest_host_share": max(per_host.values()) / max(1, len(lg["src_url"])),
            "messy_share": sum(canonicalize_url(u) != u for u in raw) / max(1, len(raw))}


def gen_recrawl(fix_dir: str, seed: int, size: Size) -> Workload:
    """gen_all universe with image payloads on every page, respider rules,
    a fetch error on every 7th URL hash, and state commits."""
    p = SynthParams(n_hosts=size.hosts, pages_lo=2, pages_hi=5, mega_hosts=0,
                    n_seed_hosts=max(4, size.hosts * 2 // 3),
                    n_images=size.images, out_degree_hi=3, seed=seed)
    meta = gen_crawl_universe(fix_dir, p)
    gen_images(fix_dir, p)
    _write_filters(fix_dir, RESPIDER_FILTERS)
    return Workload("recrawl", fix_dir, size.rounds, size.checkpoint_every,
                    {"respider": True, "err_mod": 7, "validate_fetch": True},
                    {"respider": True, "err_mod": 7}, _universe_shape(fix_dir, meta))


GENERATORS = {"drain": gen_drain, "recrawl": gen_recrawl}


def generate(name: str, fix_dir: str, seed: int, scale: str = "full") -> Workload:
    return GENERATORS[name](fix_dir, seed, SIZES[name, scale])
