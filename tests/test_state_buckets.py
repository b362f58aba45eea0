"""The crawl state's bucket count: derived from the state's size,
pinned in the round manifest, changed only at a compaction round.

Every bucketed read and write and the bloom build/probe of a round use
the count of the manifest it starts from, so a resumed engine whose
own setting differs still reads and extends the state it was given;
a compaction round that derives another count rewrites every bucketed
table and rebuilds the bloom at it. Both stay equal to the reference
simulator in ``tests/sim.py``.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from notjusthtml_searchengine_spark import schemas
from notjusthtml_searchengine_spark.operators import bloom as bloom_ops
from notjusthtml_searchengine_spark.plans.rounds import (
    STATE_ROW_BYTES,
    CrawlConfig,
    CrawlEngine,
    volume_partitions,
)
from notjusthtml_searchengine_spark.sources.corpus import build_corpus, write_corpus
from tests.sim import Simulator
from tests.test_crawl_e2e import _mk_engine


def _fetched(spark, eng, r) -> set[str]:
    """Round r's fetched set: contents plus non-pHash error rows."""
    contents = spark.read.schema(schemas.CONTENTS).parquet(
        eng.state.table_path(r, "contents")
    )
    errors = (
        spark.read.schema(schemas.ERRORS)
        .parquet(eng.state.table_path(r, "errors"))
        .filter(F.col("error_code") != schemas.ERROR_CODES["ErrorPerceptualHash"])
    )
    return {row["url"] for row in contents.select("url").collect()} | {
        row["url"] for row in errors.select("url").collect()
    }


def _seen(eng, r) -> set[str]:
    stats = eng.state.manifest(r)["stats"]
    df = eng._read_seen(stats["seen_parts"], stats["n_buckets"])
    return {row["url_norm"] for row in df.select("url_norm").collect()}


def _buckets(eng, r) -> int:
    return eng.state.manifest(r)["stats"]["n_buckets"]


def test_bucket_count_rule(spark, tmp_path):
    """One volume rule sizes shuffles and buckets: a small state gets
    one bucket per scheduler slot, a large one a whole number of
    waves; an explicit n_buckets is used as given."""
    eng = object.__new__(CrawlEngine)
    eng.spark = spark
    eng.cfg = CrawlConfig(state_dir=str(tmp_path))
    base = spark.sparkContext.defaultParallelism
    assert eng._volume_buckets(0) == base
    assert eng._volume_buckets(1000) == base
    rows = 20 * eng.cfg.target_partition_bytes // STATE_ROW_BYTES
    assert eng._volume_buckets(rows) == volume_partitions(
        rows * STATE_ROW_BYTES, base, eng.cfg
    )
    assert eng._volume_buckets(rows) % base == 0
    assert eng._volume_buckets(rows) >= 20
    eng.cfg = CrawlConfig(state_dir=str(tmp_path), n_buckets=5)
    assert eng._bootstrap_buckets() == 5
    assert eng._compaction_buckets({"seen_parts": [], "frontier_parts": []}, 8) == 5


@pytest.fixture(scope="module")
def polite_corpus(tmp_path_factory):
    corpus = build_corpus(n_pages=400, seed=1)
    out = tmp_path_factory.mktemp("polite_corpus")
    write_corpus(corpus, str(out))
    return corpus, str(out)


def test_resume_with_different_bucket_count(spark, polite_corpus, tmp_path):
    """Three rounds at 8 buckets, then a new engine configured for 4
    resumes for three more. With no compaction among them every round
    keeps the manifest's 8 — the resumed engine's writes and bloom
    probes included — and the crawl stays equal to the simulator."""
    corpus, corpus_dir = polite_corpus
    first = _mk_engine(spark, corpus_dir, tmp_path, per_host_budget=8, n_buckets=8)
    first.run(max_rounds=3)
    resumed = _mk_engine(spark, corpus_dir, tmp_path, per_host_budget=8, n_buckets=4)
    stats = resumed.run(max_rounds=3)
    assert [s["round"] for s in stats] == [4, 5, 6]
    assert not any(s["done"] for s in stats)

    sim = Simulator(corpus, per_host_budget=8).run(max_rounds=6)
    for r in range(1, 7):
        assert _fetched(spark, resumed, r) == sim.fetched_per_round[r - 1], f"round {r}"
    assert _seen(resumed, 6) == sim.seen
    assert [_buckets(resumed, r) for r in range(7)] == [8] * 7


def test_resume_with_different_shard_bits(spark, polite_corpus, tmp_path):
    """Three rounds with 2^16-bit bloom shards, then a new engine
    configured for 2^10 resumes for three more. The stored shards keep
    their width: probes and merges read it from the shard, so every
    seen url still probes positive and the crawl stays equal to the
    simulator."""
    corpus, corpus_dir = polite_corpus
    first = _mk_engine(
        spark, corpus_dir, tmp_path, per_host_budget=8, n_buckets=8,
        shard_bits=1 << 16,
    )
    first.run(max_rounds=3)
    resumed = _mk_engine(
        spark, corpus_dir, tmp_path, per_host_budget=8, n_buckets=8,
        shard_bits=1 << 10,
    )
    stats = resumed.run(max_rounds=3)
    assert [s["round"] for s in stats] == [4, 5, 6]

    sim = Simulator(corpus, per_host_budget=8).run(max_rounds=6)
    for r in range(1, 7):
        assert _fetched(spark, resumed, r) == sim.fetched_per_round[r - 1], f"round {r}"
    assert _seen(resumed, 6) == sim.seen


def test_reshard_at_compaction(spark, corpus, corpus_dir, tmp_path):
    """A tiny target partition size makes the derived count grow with
    the state; it changes only at compaction rounds, the crawl stays
    equal to the simulator across the change, and the bloom rebuilt
    at the new count holds every seen url."""
    eng = _mk_engine(
        spark, corpus_dir, tmp_path,
        per_host_budget=5,
        shard_bits=1 << 16,
        compact_seen_every=3,
        # 8 state rows per bucket; shuffles stay at the session's 8
        target_partition_bytes=8 * STATE_ROW_BYTES,
        auto_shuffle_partitions=False,
    )
    stats = eng.run(max_rounds=12)
    rounds = [s["round"] for s in stats if not s["done"]]
    sim = Simulator(corpus, per_host_budget=5).run(max_rounds=12)
    assert len(rounds) == len(sim.fetched_per_round)
    for r in rounds:
        assert _fetched(spark, eng, r) == sim.fetched_per_round[r - 1], f"round {r}"

    counts = [_buckets(eng, r) for r in [0] + rounds]
    changed = [r for r, a, b in zip(rounds, counts, counts[1:]) if a != b]
    assert changed, counts
    assert all(r % 3 == 0 for r in changed), counts
    # a round after the change ran on the resharded state
    assert any(r > changed[0] for r in rounds), counts

    last = rounds[-1]
    assert _seen(eng, last) == sim.seen
    m = eng.state.manifest(last)["stats"]
    shards = spark.read.schema(schemas.BLOOM_SHARDS).parquet(
        os.path.join(eng.state.root, "rounds", m["bloom"])
    )
    seen = eng._read_seen(m["seen_parts"]).select("url_norm")
    probed = bloom_ops.probe_shards(seen, shards, m["n_buckets"])
    assert probed.count() == len(sim.seen)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
