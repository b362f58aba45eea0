"""crawl-bulk: the throughput workload.

A full frontier drain of ``sources.bench_corpus.generate_bench_corpus``
(tens-of-KB pages, 30 links per page, Zipf hosts, 1024 seeds) with the
throughput configuration ``bench.py`` uses: no per-host budget, the
exact seen anti-join without the bloom pre-filter, no media, no
salting, no lineage metrics. It drains in a few large rounds, so the
fused extraction pass, the fetch join and the candidate shuffle do most
of the work. The generator keeps no link sidecar, so the simulator runs
on links that ``extract.kernels`` takes from the same pages: this check
covers the crawl loop, and the traced run's U2 assertion covers the
extraction kernel.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from notjusthtml_searchengine_spark.extract.kernels import extract_links
from notjusthtml_searchengine_spark.functions.sniff import detect_content_type
from notjusthtml_searchengine_spark.sources.bench_corpus import generate_bench_corpus
from notjusthtml_searchengine_spark.sources.corpus import Corpus

from . import common, crawl, host

N_PAGES = 2000
N_SEEDS = 1024


def make_inputs(out_dir: str, seed: int) -> None:
    generate_bench_corpus(out_dir, n_pages=N_PAGES, seed=seed, n_seeds=N_SEEDS,
                          workers=host.nproc())


def reference(inputs_dir: str, seed: int) -> Corpus:
    pages = crawl.read_pages(inputs_dir)
    golden = [
        {"url": u, "content_type": detect_content_type(p["html"]),
         "links": extract_links(u, p["html"]) if crawl.is_html(u, p["html"]) else []}
        for u, p in pages.items()
    ]
    with open(os.path.join(inputs_dir, "seeds.txt")) as f:
        seeds = [line.strip() for line in f if line.strip()]
    with open(os.path.join(inputs_dir, "flaggedWords.csv")) as f:
        flagged = [(w, int(p)) for w, p in (line.strip().split(",") for line in f if line.strip())]
    robots = pq.read_table(os.path.join(inputs_dir, "robots.parquet")).to_pylist()
    return Corpus(
        pages=[{"url": u, "html": p["html"]} for u, p in pages.items()],
        golden=golden, seeds=seeds, flagged=flagged, robots=robots,
    )


SPEC = crawl.Spec(
    make_inputs=make_inputs,
    reference=reference,
    config={
        "per_host_budget": None,
        "bloom_prefilter": False,
        "media": False,
        "salt": 0,
        "lineage_metrics": False,
        "compact_seen_every": 4,
        "cache_fat": False,
    },
    # every run drains the frontier
    min_rounds=None,
)


def run(ctx: common.Context) -> common.Outcome:
    return crawl.run(ctx, SPEC)
