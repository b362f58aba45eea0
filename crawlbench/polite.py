"""crawl-polite: the round driver's fixed cost under politeness limits.

A crawl of ``sources.corpus.build_corpus`` (images, robots rules,
fetch misses, empty and oversize bodies) with ``CrawlConfig``
defaults — bloom pre-filter, media, salting and lineage metrics on —
and a small per-host budget, so rounds stay small and each round's
plan construction, ~16-sink flush, manifest commit and bloom
build/probe dominate. Seen-set compaction and state GC run every 2nd
round instead of every 8th, so every run holds both kinds of round.
The simulator runs on the generator's own spec-derived links, not on
the extraction kernel's.
"""

from __future__ import annotations

from notjusthtml_searchengine_spark.sources.corpus import Corpus, build_corpus, write_corpus

from . import common, crawl

N_PAGES = 400
HOST_BUDGET = 8
COMPACT_EVERY = 2


def make_inputs(out_dir: str, seed: int) -> None:
    write_corpus(build_corpus(n_pages=N_PAGES, seed=seed), out_dir)


def reference(inputs_dir: str, seed: int) -> Corpus:
    return build_corpus(n_pages=N_PAGES, seed=seed)


SPEC = crawl.Spec(
    make_inputs=make_inputs,
    reference=reference,
    config={"per_host_budget": HOST_BUDGET, "compact_seen_every": COMPACT_EVERY},
    # round 1 (the cold one) and round 2 (the first compaction) always run
    min_rounds=COMPACT_EVERY,
)


def run(ctx: common.Context) -> common.Outcome:
    return crawl.run(ctx, SPEC)
