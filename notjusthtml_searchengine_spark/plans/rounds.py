"""The batch-BFS round driver (SURVEY.md §3.1 — the Spark shape).

One crawl round = one DAG; ``CrawlEngine.run_round`` runs it as a
chain of stage methods (named on the right), each DataFrame-in,
DataFrame-out:

  frontier ─drain(W1/W2)→ batch                              _drain
    → robots-first hold-back + drain-time robots backstop    _hold_back
    ─⋈ pages(J6, broadcast+DPP)→ gates(P3/P4)
    → fused extract: U1 + sha1/sha512/sniff(F8/F9/U4)        _fetch_extract
    → contents / dimension / blob sinks (S7/S8, A4/J7)       _dim_sinks
    → media branch (P7 → U5/U6 → sinks S11, errors E2)       _media
    → robots.txt self-ingestion                              _ingest_robots
    → keywords sink (S10) → rating (J5+A1)
      → priority (P1/P2+override) → link_rels sink (S9)      _rate
    → candidates: collapse (A5/A6) → robots/politeness filter
      → seen check (J2: bloom pre-filter U8 + exact anti-join) _candidates
    → frontier_{r+1} / seen delta / bloom shards             _state_writes
    → concurrent sink writes                                 _flush
    → counters, round_stats, atomic manifest commit, GC      _commit

A small per-round record (``_Round``) carries what the stages hand
each other; it is the one place a round labels its Spark jobs, takes
its phase timestamps and persists frames.

The reference's continuous goroutine pipeline (/root/reference/
main.go:59-90, html.go:30-188) maps onto this loop; its Redis SPop /
SAdd become the drain / frontier-append, its Bloom TestOrAdd becomes
bloom-probe + exact anti-join (the TestOrAdd-before-priority-drop
order quirk at crawling.go:85-91 is preserved: priority-0 candidates
still enter the seen set).
"""

from __future__ import annotations

import functools
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Serialized in-memory caching: DataFrame.persist() defaults to the
# DESERIALIZED level, which for fat binary rows (60KB+ html) floods
# the old generation with live byte[] objects and multiplies GC time
# ~5x (measured). Serialized blocks cost a little CPU on re-read and
# save the round.
_CACHE = StorageLevel.MEMORY_AND_DISK

# Estimated bytes per seen/frontier row (url + host chars and the
# fixed-width columns): the bucket-count derivation sizes a state of
# n rows as n × this.
STATE_ROW_BYTES = 128

# Concurrent sink-writer threads: the dozen per-round sink jobs are
# individually tiny, so at 6 threads the flush ran two serial waves
# whose second wave was latency, not throughput (the scheduler
# overlaps all jobs fine; measured r6).
WRITE_THREADS = 12

from .. import schemas
from ..extract.udfs import extract_with_meta
from ..functions.urlnorm import host_expr, path_expr, protocol_expr
from ..media.udfs import exif_udf, phash_udf
from ..operators import bloom as bloom_ops
from ..operators import crawl_ops as ops
from .state import CrawlState


@dataclass
class CrawlConfig:
    state_dir: str
    round_budget: int | None = None
    per_host_budget: int | None = 64
    # logical round duration; with robots crawl_delay rules present,
    # a host's per-round cap becomes round_seconds*1000/crawl_delay_ms
    round_seconds: float | None = None
    use_robots: bool = True
    # Self-ingest robots.txt inside the loop (north_rule): enqueue
    # <scheme>://<host>/robots.txt at PRIORITY_ROBOTS for every host
    # seen among candidates, parse fetched robots bodies into rules
    # rows (sink "robots"), and apply them — rules fetched THIS round
    # already filter this round's own candidates. Off by default: with
    # no robots.txt pages in the corpus it only adds per-host miss
    # error rows.
    fetch_robots_txt: bool = False
    bloom_prefilter: bool = True
    # Bucket count of the seen/frontier/sites-keys state tables. None
    # derives it from the state's size with the shuffle-sizing volume
    # rule (volume_partitions below): from the seed count at bootstrap,
    # and from the footer row counts of the seen and frontier parts at
    # each compaction round. An int fixes it. Either way the count in
    # force is pinned in the round manifest, every bucketed read and
    # write and the bloom use the manifest's value, and it changes only
    # at a compaction round, which rewrites every bucketed table (and
    # rebuilds the bloom) at the new count.
    n_buckets: int | None = None
    # Bloom bits per bucket shard. Total capacity is n_buckets ×
    # shard_bits, about 10 bits per url for ~1% false positives. A
    # false positive costs one row in the exact anti-join; it never
    # drops a url.
    shard_bits: int = 1 << 20
    salt: int = 8  # hot-host salting fan-out before extraction
    media: bool = True
    # face detector plugged into media/faces.py: "none" mirrors the
    # reference run without model files (no Face rows); "fake" is the
    # deterministic stub; a real model slots in by name.
    face_detector: str = "none"
    write_blobs: bool = True
    dim_tables: bool = True  # sites/domains/content_types sinks
    # J6 fetch / blob-winner joins: broadcast the skinny side only
    # below this ESTIMATED byte size (measured url+host chars + fixed
    # per-row overhead in the same job as the batch count), else
    # shuffle-hash (pages bucketed by url hash at that scale).
    # Row-count thresholds mis-measure wide rows and a 4M-row url
    # batch is hundreds of MB on every executor heap — bytes are what
    # the broadcast actually costs.
    broadcast_max_bytes: int = 64 << 20
    # estimated per-row overhead beyond measured string chars (hash,
    # ints, arrow/unsafe-row framing)
    broadcast_row_overhead: int = 48
    # Data-proportional shuffle sizing (measured at sf1: 8 shuffle
    # partitions over a 494k-page round = ~1.5 GB partitions; since
    # execution memory is shared across CONCURRENT tasks the
    # high-thread run spills first and N→4N efficiency collapsed to
    # 0.685 — resizing to volume restored 0.962, see
    # BENCH/bench_sf1_rehearsal.json). Each round predicts its volume
    # (expected batch × measured avg page bytes × a row-expansion
    # factor for the flat link/keyword explosion) and sets
    # spark.sql.shuffle.partitions to keep partitions near
    # target_partition_bytes. AQE coalescing makes over-partitioning
    # cheap on clusters; this keeps AQE-off deployments safe too.
    auto_shuffle_partitions: bool = True
    target_partition_bytes: int = 128 << 20
    shuffle_row_expansion: int = 3
    max_shuffle_partitions: int = 4096
    # Two-sided refinement of the volume sizing (sf1 sweep,
    # BENCH/sf1_ab_r4.jsonl): once partitions are spill-safe, ADDING
    # tasks costs more than it saves — every extra task through the
    # Python extraction stage pays an Arrow round-trip, and 80 tasks
    # measurably lost ~9% sustained slope vs 64 on the same round. So
    # the count is capped at max_task_waves full waves of the
    # scheduler, letting partitions grow past target_partition_bytes
    # up to spill_guard_partition_bytes (the r3 sf1 collapse was at
    # ~1.5 GB partitions; 512 MiB keeps 3x headroom under it at this
    # heap). Beyond the guard, volume wins again and the count rises —
    # a 100 TB round still fans out.
    max_task_waves: int = 8
    spill_guard_partition_bytes: int = 512 << 20
    # round-1 fallback before any measured page sizes exist
    est_page_bytes: int = 8192
    # Cache the fat (html) fetch result between branches. True trades
    # memory bandwidth (serialize once + deserialize per consumer) for
    # fewer scans; False re-derives each fat branch from the compressed
    # parquet scan + broadcast fetch join — decompression is CPU, which
    # SCALES with cores, while cache traffic does not. Benchmarks on
    # this class of corpus run ~equal wall at high core counts with
    # strictly better scaling efficiency when False.
    cache_fat: bool = True
    compact_seen_every: int = 8
    # expire superseded frontier/seen/bloom state after each seen
    # compaction (sinks untouched; see CrawlState.gc_state)
    gc_state: bool = True
    lineage_metrics: bool = True
    extra: dict = field(default_factory=dict)


def volume_partitions(est_bytes: float, base: int, cfg: CrawlConfig) -> int:
    """Partition count for ``est_bytes`` of data on a scheduler that
    runs ``base`` tasks at once. Sizes both the per-round shuffles and
    the state's bucket count.

    Three rules compose (each measured, see CrawlConfig fields):
    1. volume / target_partition_bytes is the base count;
    2. it is capped at max_task_waves full waves of the scheduler
       (per-task Python-stage overhead beats partition-size relief
       once partitions are spill-safe), but never capped so hard
       that partitions exceed spill_guard_partition_bytes — beyond
       the guard the count rises with volume again;
    3. the result is quantized UP to a multiple of the scheduler's
       parallelism: a count like 12 on an 8-thread scheduler runs
       a second task wave half-empty (4 busy / 4 idle) while a
       2-thread scheduler is unaffected — exactly the asymmetry
       that collapsed N→4N scaling to 0.391 in BENCH_r03.
    Never shrinks below the parallelism; capped by
    max_shuffle_partitions."""
    by_target = max(1, math.ceil(est_bytes / cfg.target_partition_bytes))
    by_guard = max(1, math.ceil(est_bytes / cfg.spill_guard_partition_bytes))
    raw = max(min(by_target, cfg.max_task_waves * base), by_guard)
    return min(cfg.max_shuffle_partitions, math.ceil(raw / base) * base)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages_path: str,
        seeds_path: str,
        flagged_path: str,
        robots_path: str | None,
        cfg: CrawlConfig,
    ):
        self.spark = spark
        self.cfg = cfg
        self.seeds_path = seeds_path
        # State-backend dispatch (cfg.extra["state_backend"]): the
        # Iceberg backend fails LOUDLY at construction when the runtime
        # jars are absent (IcebergUnavailable) instead of mid-crawl; it
        # provisions the bucket-transform state tables up front and the
        # parquet CrawlState keeps serving the manifest/sink surface
        # (Iceberg replaces the bucketed-table trick + snapshot GC, not
        # the sink layout — see iceberg_state module doc).
        backend = cfg.extra.get("state_backend", "parquet")
        if backend == "iceberg":
            import warnings

            from .iceberg_state import IcebergCrawlState

            self.iceberg = IcebergCrawlState(spark, cfg.state_dir)
            self.iceberg.create_state_tables(self._bootstrap_buckets())
            # PROVISION-ONLY today (ADVICE r4): the tables, MERGE/expire
            # SQL and round-tag surface are created and unit-pinned, but
            # the round loop below still reads/writes frontier/seen/
            # drained through the parquet CrawlState — the flag does NOT
            # yet deliver atomic multi-table commits or snapshot GC.
            # Warn loudly so a cluster operator doesn't assume otherwise.
            warnings.warn(
                "state_backend='iceberg' is provision-only: state tables "
                "are created in the catalog but per-round state I/O still "
                "uses the parquet CrawlState (see iceberg_state module "
                "doc); atomic snapshot commits/GC are not yet routed",
                RuntimeWarning,
                stacklevel=2,
            )
        elif backend != "parquet":
            raise ValueError(f"unknown state_backend {backend!r}")
        else:
            self.iceberg = None
        self.state = CrawlState(cfg.state_dir)
        self.pages = spark.read.schema(schemas.PAGES).parquet(pages_path)
        self.flagged = ops.load_flagged_words(spark, flagged_path)
        # config-size list: collected ONCE at engine init so the rating
        # stage can unroll into a codegen expression (see
        # crawl_ops.link_rating_expr); falls back to the BNLJ operator
        # for unexpectedly large lists.
        self.flagged_rows = [
            (r["word"], r["priority"]) for r in self.flagged.collect()
        ]
        self.robots = (
            spark.read.schema(schemas.ROBOTS).parquet(robots_path)
            if (robots_path and cfg.use_robots)
            else None
        )
        # memoized static robots view (see _robots_view)
        self._static_rules: DataFrame | None = None

    # ------------------------------------------------------------------
    def bootstrap(self) -> None:
        """Round 0: frontier from seeds at priority 90; empty seen/bloom.

        Seeds do NOT enter the seen set (addStartSites never touches
        the bloom — crawling.go:153-175): a seed rediscovered as a
        link is re-enqueued and re-fetched once, faithfully.
        """
        r = 0
        n_buckets = self._bootstrap_buckets()
        seeds = ops.load_seeds(self.spark, self.seeds_path)
        frontier = (
            seeds.withColumn("host", host_expr("url_norm"))
            .withColumn("priority", F.lit(ops.PRIORITY_SEED))
            .withColumn("depth", F.lit(0))
            .withColumn("round_added", F.lit(0))
            .withColumn("url_hash", F.xxhash64("url_norm"))
        )
        seen0 = self.spark.createDataFrame([], schemas.SEEN)
        if self.cfg.fetch_robots_txt:
            # Pre-enqueue each seed host's robots.txt so even the SEED
            # fetch waits for rules: round 1's drain holds the seeds
            # back (_hold_back) and fetches the robots alone; the seeds
            # follow in round 2 under the just-learned rules. Without
            # this, seeds are the one url class fetched rules-blind.
            rob = _robots_txt_rows(frontier).withColumn("round_added", F.lit(0))
            frontier = frontier.unionByName(rob)
            # the bootstrap robots rows enter seen (and the bloom)
            # immediately, unlike seeds (crawling.go:153-175): the
            # candidate-stage prefetch relies on the seen check to
            # enqueue each host's robots exactly once.
            seen0 = seen0.unionByName(
                rob.select("url_norm", "url_hash", F.lit(0).alias("round_seen"))
            )
        self.state.write_bucketed(frontier, r, "frontier_full", n_buckets)
        self.state.write_bucketed(seen0, r, "seen_full", n_buckets)
        if self.cfg.bloom_prefilter:
            shards = bloom_ops.build_shards(
                seen0.select("url_norm"), n_buckets, self.cfg.shard_bits
            )
            self._write(shards, r, "bloom")
        self.state.commit_round(
            r,
            {
                "seen_parts": [f"r{r:05d}/seen_full"],
                "frontier_parts": [f"r{r:05d}/frontier_full"],
                "drained_parts": [],
                "sites_parts": [],
                "bloom": f"r{r:05d}/bloom" if self.cfg.bloom_prefilter else None,
                "pages_fetched": 0,
                "n_buckets": n_buckets,
            },
        )

    # ------------------------------------------------------------------
    def _write(self, df: DataFrame, r: int, name: str) -> str:
        path = self.state.table_path(r, name)
        df.write.mode("overwrite").parquet(path)
        return path

    def _seen_parts(self, parts: list[str], n_buckets: int) -> list[DataFrame]:
        from .state import SEEN_DDL

        return [
            self.state.read_bucketed(self.spark, p, SEEN_DDL, n_buckets)
            for p in parts
        ]

    def _read_seen(self, parts: list[str], n_buckets: int | None = None) -> DataFrame:
        """Union view of all seen parts (membership queries/tests), at
        the latest manifest's bucket count unless one is given."""
        if n_buckets is None:
            latest = self.state.manifest(self.state.latest_committed_round())
            n_buckets = latest["stats"]["n_buckets"]
        return _union(self._seen_parts(parts, n_buckets))

    def _read_shards(self, rel: str) -> DataFrame:
        return self.spark.read.schema(schemas.BLOOM_SHARDS).parquet(
            os.path.join(self.state.root, "rounds", rel)
        )

    def _size_shuffle(self, pred_batch: int, avg_page_bytes: float) -> int | None:
        """Set spark.sql.shuffle.partitions for this round from the
        predicted data volume (volume_partitions). Returns the setting
        (None = left as-is)."""
        cfg = self.cfg
        if not cfg.auto_shuffle_partitions or pred_batch <= 0:
            return None
        est = pred_batch * max(avg_page_bytes, 1.0) * cfg.shuffle_row_expansion
        parts = volume_partitions(est, self.spark.sparkContext.defaultParallelism, cfg)
        self.spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        return parts

    def _volume_buckets(self, rows: int) -> int:
        """Bucket count for a state of ``rows`` seen + frontier rows."""
        return volume_partitions(
            rows * STATE_ROW_BYTES,
            self.spark.sparkContext.defaultParallelism,
            self.cfg,
        )

    def _bootstrap_buckets(self) -> int:
        """Round 0's bucket count: cfg.n_buckets, else derived from the
        seed count."""
        if self.cfg.n_buckets is not None:
            return self.cfg.n_buckets
        seeds = ops.load_seeds(self.spark, self.seeds_path)
        return self._volume_buckets(seeds.count())

    def _compaction_buckets(self, stats: dict, current: int) -> int:
        """The bucket count a compaction round writes its full tables
        at, given the previous manifest's stats and count in force:
        cfg.n_buckets, else derived from the footer row counts of the
        seen and frontier parts."""
        if stats.get("sites_parts") and not self.cfg.dim_tables:
            # sites-key parts this round carries over without a rewrite
            # stay readable only at the count they were written at
            return current
        if self.cfg.n_buckets is not None:
            return self.cfg.n_buckets
        parts = stats["seen_parts"] + stats["frontier_parts"]
        return self._volume_buckets(sum(self.state.part_rows(p) for p in parts))

    @staticmethod
    def _merge_rules(rules: DataFrame | None, fresh: DataFrame | None) -> DataFrame:
        """One rules row per host from ``rules`` and ``fresh``: highest
        fetched_round wins; ``fresh`` beats ``rules`` on ties."""
        from pyspark.sql.window import Window

        tagged = [
            df.withColumn("_src", F.lit(src))
            for src, df in ((0, rules), (1, fresh))
            if df is not None
        ]
        w = Window.partitionBy("host").orderBy(
            F.desc_nulls_last("fetched_round"), F.desc("_src")
        )
        return (
            _union(tagged)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_src")
        )

    def _robots_view(self) -> DataFrame | None:
        """Effective robots rules at round start: the pre-supplied
        table merged with rules derived from robots.txt bodies fetched
        in PRIOR rounds (sink "robots"), latest per host."""
        has_fetched = self.cfg.fetch_robots_txt and self.state.sink_exists(
            "robots"
        )
        if self.robots is not None and not has_fetched:
            # Static rules (no in-loop ingestion yet): resolve the
            # latest-per-host view ONCE and materialize it with
            # localCheckpoint — the rules dim is per-host config scale,
            # and without this every round re-ran the scan + window
            # inside the broadcast build of BOTH consumers (batch mark
            # + candidate filter), two extra shuffle stages per round
            # for an unchanged result (guide §2.4: remove repeated
            # exchanges of static inputs).
            if self._static_rules is None:
                self._static_rules = self._merge_rules(
                    self.robots, None
                ).localCheckpoint(eager=True)
            return self._static_rules
        if not has_fetched:
            return None
        fetched = self.spark.read.schema(schemas.ROBOTS).parquet(
            self.state.sink_glob("robots")
        )
        return self._merge_rules(self.robots, fetched)

    def _batch_stats(self, batch: DataFrame) -> tuple[int, int]:
        """(row count, estimated broadcast bytes) in ONE job: measured
        url+host chars + a fixed per-row overhead. Replaces the old
        row-count broadcast threshold (rows mis-measure wide rows)."""
        row = batch.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.length("url_norm") + F.coalesce(F.length("host"), F.lit(0))
            ).alias("chars"),
        ).first()
        n = int(row["n"])
        est = int(row["chars"] or 0) + self.cfg.broadcast_row_overhead * n
        return n, est

    def _frontier_view(self, stats: dict, n_buckets: int) -> DataFrame:
        """Live frontier = union of bucketed parts minus tombstones.

        Incremental layout (mirrors seen_delta/seen_full): a round
        appends only its NEW urls (``frontier_delta``) plus a skinny
        tombstone table of the urls it drained (``drained``); the
        full table is rewritten only on the compaction cadence. A row
        is live iff no tombstone with drained_round > row.round_added
        exists — the ``>=`` keep-side comparison lets a seed drained
        in round r and rediscovered as a link in the SAME round
        re-enqueue (seeds never enter the seen set, bootstrap
        docstring), matching the old full-rewrite semantics exactly.
        Per-round state WRITE volume is ∝ the round delta; the read
        side joins co-bucketed skinny tables.
        """
        from .state import DRAINED_DDL, FRONTIER_DDL

        parts = [
            self.state.read_bucketed(self.spark, p, FRONTIER_DDL, n_buckets)
            for p in stats["frontier_parts"]
        ]
        # Per-PART tombstone filtering, BEFORE the union: a union of
        # bucketed scans loses HashPartitioning (Spark never propagates
        # it through Union), so the old union-then-join paid one full
        # O(frontier) exchange per round — at a 10^10-row frontier
        # that is a per-round full-state shuffle. Joining each bucketed
        # frontier part against each co-bucketed drained part is
        # exchange-free on BOTH sides (scan partitioning == join key),
        # and `round_added >= max_j(drained_round_j)` factors into the
        # chain `∀j: round_added >= drained_round_j`, so chained
        # per-part filters keep the max-drained-round semantics exactly
        # (same-round seed re-enqueue included). Tombstone part count
        # is bounded by the compaction cadence.
        tombs = [
            self.state.read_bucketed(self.spark, p, DRAINED_DDL, n_buckets)
            .groupBy("url_hash")
            .agg(F.max("drained_round").alias("_dr"))
            for p in stats.get("drained_parts", [])
        ]
        live = []
        for out in parts:
            for t in tombs:
                out = (
                    out.join(t, "url_hash", "left")
                    .filter(
                        F.col("_dr").isNull()
                        | (F.col("round_added") >= F.col("_dr"))
                    )
                    .drop("_dr")
                )
            live.append(out)
        return _union(live)

    def _lineage(self, dfs: dict[str, tuple], r: int) -> DataFrame:
        """Per-partition lineage rows (north_rule) in one unioned job:
        row count AND payload byte sum per partition (each stage names
        the column expression that measures its payload)."""
        return _union(
            [
                df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
                    F.count(F.lit(1)).alias("rows_out"),
                    F.coalesce(F.sum(bytes_expr), F.lit(0))
                    .cast("long")
                    .alias("bytes"),
                )
                .withColumn("round", F.lit(r))
                .withColumn("stage", F.lit(stage))
                .select("round", "stage", "partition_id", "rows_out", "bytes")
                for stage, (df, bytes_expr) in dfs.items()
            ]
        )

    def _new_keys(self, df: DataFrame, r: int, name: str, schema, key: str) -> DataFrame:
        """``df`` minus the ``key`` values earlier rounds' ``name`` sink
        holds. Guarded on files actually existing: resuming a state dir
        whose earlier rounds never wrote this sink (sink newly enabled)
        must insert all keys, not fail the read."""
        if r > 1 and self.state.sink_exists(name):
            existing = self.spark.read.schema(schema).parquet(
                self.state.sink_glob(name)
            )
            df = df.join(existing.select(key), key, "left_anti")
        return df

    def _compact_or_append(
        self, rnd: _Round, full: str, delta: str, rows: DataFrame,
        parts: list[str], part_dfs: list[DataFrame], bucket_col: str = "url_hash",
    ) -> tuple[list[str], DataFrame]:
        """Sink a bucketed state table's round rows: merged with every
        earlier part into one ``full`` table on a compaction round,
        else as a ``delta`` part appended to ``parts``. Returns the new
        part list and the frame written."""
        if rnd.compact:
            rows, parts, name = _union([rows, *part_dfs]), [], full
        else:
            name = delta
        rnd.sink(rows, name, bucket_col)
        return parts + [f"r{rnd.r:05d}/{name}"], rows

    # ------------------------------------------------------------------
    def run_round(self, r: int) -> dict:
        prev = self.state.manifest(r - 1)
        assert prev is not None, f"round {r - 1} not committed"
        # The manifest's bucket count is the one every bucketed read and
        # the bloom probe use. A compaction round rewrites every
        # bucketed table in full, so only it may write at another count.
        stats = prev["stats"]
        n_buckets = int(stats["n_buckets"])
        compact = r % self.cfg.compact_seen_every == 0
        out_buckets = (
            self._compaction_buckets(stats, n_buckets) if compact else n_buckets
        )
        rnd = _Round(self.spark, r, stats, n_buckets, out_buckets, compact)

        frontier, rules, batch = self._drain(rnd)
        if batch is None:
            return {"done": True, "round": r, "pages_fetched": 0}
        batch_use, batch_fetch, blocked = self._hold_back(rnd, batch, rules)
        gated, combined, ok = self._fetch_extract(rnd, batch_fetch)
        self._dim_sinks(rnd, gated, ok)
        self._media(rnd, gated)
        fresh_rules = self._ingest_robots(rnd, gated)
        rated = self._rate(rnd, combined)
        if fresh_rules is not None:
            # rules fetched THIS round already filter its own candidates
            rules = self._merge_rules(rules, fresh_rules)
        seen_dfs = self._seen_parts(stats["seen_parts"], n_buckets)
        new = self._candidates(rnd, rated, rules, seen_dfs)
        new_frontier = self._state_writes(rnd, new, frontier, batch_use, seen_dfs)
        rnd.sink(_union([*rnd.errors, blocked]), "errors")
        if self.cfg.lineage_metrics:
            lineage = {
                "batch": (batch, F.length("url_norm")),
                "fetched_ok": (ok, F.col("size")),
                "links": (rated, F.length("dest_url")),
                "new_seen": (new, F.length("url_norm")),
            }
            rnd.sink(self._lineage(lineage, r), "metrics")
        self._flush(rnd)
        return self._commit(rnd, new_frontier)

    def _drain(self, rnd: _Round) -> tuple[DataFrame, DataFrame | None, DataFrame | None]:
        """W1/W2: (live frontier, robots rules in force, this round's
        politeness-capped batch — None when the frontier is empty).
        The batch is checkpointed with its robots flag and sizes the
        round's shuffles."""
        cfg, prev = self.cfg, rnd.prev
        frontier = self._frontier_view(prev, rnd.n_buckets)
        # data-proportional shuffle sizing: predict this round's batch
        # from the previous round's frontier additions (exact n_batch
        # refines it right after the drain; under-prediction here only
        # affects the drain's own window shuffle)
        avg_bytes = float(prev.get("avg_page_bytes", cfg.est_page_bytes))
        pred_batch = int(prev.get("new_frontier", 0) or 0)
        if cfg.round_budget is not None:
            pred_batch = min(pred_batch, cfg.round_budget)
        shuffle_parts = self._size_shuffle(pred_batch, avg_bytes)

        rules = self._robots_view()
        host_caps = None
        if rules is not None and cfg.round_seconds:
            host_caps = ops.crawl_delay_caps(rules, cfg.round_seconds)
        batch = ops.drain_frontier(
            frontier, cfg.round_budget, cfg.per_host_budget, host_caps=host_caps
        )
        # The drain-time robots backstop flag is folded in BEFORE the
        # checkpoint: every consumer (fetch, misses, error rows,
        # tombstones) reads one materialized frame, instead of
        # re-evaluating a join above it per consumer (measured ~15%
        # round cost at local[8] when it sat above the cache).
        if rules is not None:
            batch = ops.robots_mark(batch, rules, exempt_robots_txt=True)
        # localCheckpoint, not persist (r6): the batch is consumed by a
        # dozen downstream sink actions, and EVERY one of them was
        # re-analyzing the full drain lineage (frontier-view per-part
        # tombstone joins + the two politeness windows) on the DRIVER —
        # measured 11s of serial plan-construction gap per big capped
        # round at local[8] vs 1.5s uncapped, the single-threaded cost
        # that collapsed the capped leg's core scaling (guide §7.3
        # "planning time itself can become the bottleneck", §3.3
        # "materialising an intermediate truncates the plan").
        # Fault tolerance of this intermediate is round-local (the round
        # re-runs from the manifest on failure), so cutting lineage is
        # safe — same trade as graph.py's iteration checkpoints. Its
        # blocks are released by the ContextCleaner when the round's
        # references drop.
        rnd.label("drain+stats")
        batch = batch.localCheckpoint(eager=True)
        n_batch, batch_bytes = self._batch_stats(batch)
        rnd.broadcast = batch_bytes <= cfg.broadcast_max_bytes
        resized = self._size_shuffle(n_batch, avg_bytes)
        rnd.stats["batch"] = n_batch
        rnd.stats["shuffle_partitions"] = shuffle_parts if resized is None else resized
        return frontier, rules, batch if n_batch else None

    def _hold_back(
        self, rnd: _Round, batch: DataFrame, rules: DataFrame | None
    ) -> tuple[DataFrame, DataFrame, DataFrame | None]:
        """(drained rows, rows to fetch, robots-blocked error rows).

        Robots-first hold-back: a host's FIRST drain wave is its
        robots.txt alone. A url whose host has its own /robots.txt row
        in this very batch (rules still unknown — links and the robots
        prefetch join the frontier in the same round) is HELD —
        excluded from the fetch AND from the drained tombstones, so it
        stays queued and drains next round under the just-fetched
        rules. One broadcast semi-join over the budget-bounded batch; a
        held url costs one under-filled drain slot for one round, and
        there is no starvation (the robots url is tombstoned this
        round, so next round the host is no longer held whether its
        robots fetch hit or missed).

        Drain-time backstop: the candidate-time robots_filter can only
        apply rules that existed when a url was DISCOVERED — rules that
        arrived later (or the hold-back's round-delayed first wave)
        must still be enforced. RFC practice is to check robots
        immediately before fetching: rows the drain flagged
        ``robots_blocked`` divert to the error sink. They stay among
        the drained rows, so the tombstones still remove them from the
        frontier — each late-blocked url costs one drain slot, once,
        ever. /robots.txt itself is always fetchable.
        """
        batch_use = batch
        if self.cfg.fetch_robots_txt:
            is_rob = path_expr("url_norm") == "/robots.txt"
            held_hosts = batch.filter(is_rob).select("host").distinct()
            batch_use = batch.filter(is_rob).unionByName(
                batch.filter(~is_rob).join(
                    F.broadcast(held_hosts), "host", "left_anti"
                )
            )
        if rules is None:
            return batch_use, batch_use, None
        blocked = _error_rows(
            batch_use.filter(F.col("robots_blocked")), rnd.r,
            schemas.ERROR_CODES["ErrorRobotsBlocked"], "robots",
        )
        fetch = batch_use.filter(~F.col("robots_blocked")).drop("robots_blocked")
        return batch_use, fetch, blocked

    def _fetch_extract(
        self, rnd: _Round, batch_fetch: DataFrame
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """J6 fetch + gates, then one fused extract pass: (gated fat
        rows, extracted rows, per-page meta of the ok pages). Gate and
        miss rows go to the errors sink."""
        cfg, r = self.cfg, rnd.r
        # column-prune before the join: text/lang are never used in
        # the round (text regeneration is a test-side invariant).
        # Inner-join + broadcast batch: the corpus is never shuffled;
        # misses are recovered below from the persisted hit frame.
        fetched = ops.fetch_hits(
            batch_fetch,
            self.pages.select("url", "warc_ts", "html"),
            broadcast_batch=rnd.broadcast,
        )
        gated = ops.gate_fetched(fetched)
        # Salted redistribution before the fat UDFs spreads hot hosts
        # (skew, §4.2) and restores parallelism when the corpus scan
        # has fewer partitions than cores. It is a full shuffle of the
        # html bodies — skip it (salt=0) when the corpus layout already
        # provides ≥cores partitions and no politeness clustering
        # applies (the host-randomized scan is skew-free by itself).
        if cfg.salt > 0:
            gated = gated.repartition(
                self.spark.sparkContext.defaultParallelism,
                F.xxhash64("host"),
                F.pmod(F.col("url_hash"), F.lit(cfg.salt)),
            )
        # Fat side (html) — consumed at most 3× (r6): the fused
        # extract+meta kernel pass, the blob-content join, and the
        # media magic-byte gate. Either cached (serialized) or
        # re-derived per consumer from the compressed scan + broadcast
        # join, per cfg.cache_fat.
        if cfg.cache_fat:
            gated = rnd.persist(gated)
        # ONE fat pass for extraction AND the per-page meta columns
        # (r6): sniff/sha1/sha512/size ride the same scan that feeds
        # U1 instead of a second full corpus decode per round (the
        # kernel's hashlib/sniff outputs are byte-identical to the
        # former JVM expressions — parity pinned in tests). Lazy
        # localCheckpoint at the serialized level: one materialization
        # under cache locks, short plans for every consumer.
        combined = extract_with_meta(
            gated.select(
                "url_norm",
                "host",
                "depth",
                F.unix_micros("warc_ts").alias("time_found"),
                "gate",
                "html",
            ),
            url_col="url_norm",
        ).localCheckpoint(eager=False, storageLevel=_CACHE)
        # Skinny meta cache: one row per fetched page; the dozen sink/
        # stat consumers below scan this cheap projection instead of
        # the 30x-larger combined frame.
        meta = rnd.persist(
            combined.filter(F.col("kind") == 0)
            .select(
                "url_norm", "host", "depth", "time_found", "gate",
                "content_type", "sha1", "sha512", "size",
            )
            .withColumn("site_id", F.xxhash64("url_norm"))
            .withColumn("content_id", F.xxhash64("url_norm", F.lit(r)))
        )
        missed = ops.fetch_misses(batch_fetch, meta)
        codes = schemas.ERROR_CODES
        rnd.errors += [
            _error_rows(
                meta.filter(F.col("gate") != "ok"), r,
                F.when(F.col("gate") == "too_big", codes["ErrorResponseToBig"])
                .otherwise(codes["ErrorBodyLenZero"]),
                F.col("gate"),
            ),
            _error_rows(missed, r, codes["ErrorFetchMissing"], "miss"),
        ]
        return gated, combined, meta.filter(F.col("gate") == "ok")

    def _dim_sinks(self, rnd: _Round, gated: DataFrame, ok: DataFrame) -> None:
        """S8 contents, the J1/J3/J4 dimension tables and the S7
        content-addressed blob store (A4+J7)."""
        cfg, r = self.cfg, rnd.r
        contents = ok.select(
            F.lit(r).alias("round"), F.col("url_norm").alias("url"), "site_id",
            F.xxhash64("content_type").alias("content_type_id"),
            "size", "sha512", "sha1", "time_found",
        )
        rnd.sink(contents, "contents")
        # Dimension tables (reference database.go:143-215: sites /
        # domains / content_types as first-class queryable tables).
        # Ids are deterministic xxhash64 of the natural key, so the dim
        # row is derivable — but the reference exposes them as tables
        # ("list crawled domains" must not rescan contents), so each
        # round left-anti-inserts the new keys. The glob reads resolve
        # their file list at plan-construction time (before this
        # round's dirs exist), so the concurrent sink writes cannot
        # race them.
        rnd.stats["sites_parts"] = rnd.prev.get("sites_parts", [])
        if cfg.dim_tables:
            # sites grows with the crawl (≈ fetched pages), so its
            # insert check gets the seen treatment: a bucketed
            # site_id key-state table per round, co-partitioned
            # anti-join (zero exchange on the state side), compacted
            # on the seen cadence. The sink rows themselves stay
            # per-round new-keys-only parquet (glob-queryable).
            # domains/content_types are small dims — glob read is fine.
            from .state import SITES_KEYS_DDL

            sites_parts = rnd.stats["sites_parts"]
            key_dfs = [
                self.state.read_bucketed(
                    self.spark, p, SITES_KEYS_DDL, rnd.n_buckets,
                    bucket_col="site_id",
                )
                for p in sites_parts
            ]
            sites_new = ok.select(
                "site_id", F.col("url_norm").alias("url")
            ).dropDuplicates(["site_id"])
            if key_dfs:
                sites_new = ops.anti_join_parts(sites_new, key_dfs, key="site_id")
            rnd.sink(sites_new, "sites")
            rnd.stats["sites_parts"], _ = self._compact_or_append(
                rnd, "sites_keys", "sites_keys", sites_new.select("site_id"),
                sites_parts, key_dfs, bucket_col="site_id",
            )
            domains = ok.select(
                F.xxhash64("host").alias("domain_id"), F.col("host").alias("domain")
            )
            types = ok.select(
                F.xxhash64("content_type").alias("content_type_id"), "content_type"
            )
            for name, schema, df in (
                ("domains", schemas.DOMAINS, domains),
                ("content_types", schemas.CONTENT_TYPES, types),
            ):
                key = df.columns[0]
                d = self._new_keys(df.dropDuplicates([key]), r, name, schema, key)
                rnd.sink(d, name)

        if cfg.write_blobs:
            # Content-addressed store WITHOUT shuffling the fat bodies:
            # pick one winner (sha1, url) with a SKINNY map-side-combined
            # aggregate, anti-join winners against the store, then join
            # the winner keys back against the persisted ok frame — the
            # html column never moves (dropDuplicates(sha1) would
            # shuffle every body by sha1). Winner rows (sha1 + url) are
            # the same scale as the batch, so they broadcast on the
            # batch's byte estimate.
            winners = self._new_keys(
                ok.groupBy("sha1").agg(F.min("url_norm").alias("_w")),
                r, "content_blobs", schemas.CONTENT_BLOBS, "sha1",
            )
            if rnd.broadcast:
                winners = F.broadcast(winners)
            # sha1 comes from the (skinny) winner side — the bodies are
            # neither shuffled nor re-hashed.
            new_blobs = (
                gated.select("url_norm", F.col("html").alias("content"))
                .join(winners, F.col("url_norm") == F.col("_w"))
                .select("sha1", "content")
            )
            rnd.sink(new_blobs, "content_blobs")

    def _media(self, rnd: _Round, gated: DataFrame) -> None:
        """P7 media branch → U5/U6: perceptual hashes, EXIF and faces
        of the fetched PNG/JPEG bodies; undecodable ones go to the
        errors sink."""
        cfg, r = self.cfg, rnd.r
        if not cfg.media:
            return
        # pure-JVM magic-byte gate (equivalent to the WHATWG sniff
        # for these two types) — avoids chaining a python sniff
        # stage in front of the python media kernels
        png_sig = F.expr("substring(html, 1, 8)") == F.lit(b"\x89PNG\r\n\x1a\n")
        jpg_sig = F.expr("substring(html, 1, 3)") == F.lit(b"\xff\xd8\xff")
        imgs = (
            gated.filter(F.col("gate") == "ok")
            .filter(png_sig | jpg_sig)
            .select(
                "url_norm",
                F.xxhash64("url_norm", F.lit(r)).alias("content_id"),
                "html",
                F.when(png_sig, "image/png").otherwise("image/jpeg").alias(
                    "content_type"
                ),
            )
        )
        hashed = rnd.persist(
            imgs.withColumn("ph", phash_udf("html", "content_type"))
            .withColumn("ex", exif_udf("html"))
            .select("url_norm", "content_id", "ph", "ex")
        )
        phashes = hashed.filter(F.col("ph.error").isNull()).select(
            "content_id",
            F.col("ph.ahash").alias("ahash"),
            F.col("ph.dhash").alias("dhash"),
            F.col("ph.phash").alias("phash"),
        )
        rnd.sink(phashes, "perceptual_hashes")
        exifs = hashed.filter(F.col("ex.present")).select(
            "content_id",
            F.col("ex.camera").alias("camera"),
            F.col("ex.ts").alias("ts"),
            F.col("ex.lat").alias("lat"),
            F.col("ex.long").alias("long"),
        )
        rnd.sink(exifs, "exif_info")
        rnd.errors.append(
            _error_rows(
                hashed.filter(F.col("ph.error").isNotNull()), r,
                schemas.ERROR_CODES["ErrorPerceptualHash"], F.col("ph.error"),
            )
        )
        # S11 faces sink: one row per detected face per image
        # (reference html.go:146-159 → faceRecognition.go:13-19,
        # Face table DDL database.go:134). Detector is pluggable
        # (no model ships with the package — see media/faces.py).
        if cfg.face_detector != "none":
            from ..media.faces import detect_faces

            faces = detect_faces(
                imgs, body_col="html", id_col="content_id",
                detector=cfg.face_detector,
            )
            rnd.sink(faces, "faces")

    def _ingest_robots(self, rnd: _Round, gated: DataFrame) -> DataFrame | None:
        """Robots self-ingestion (north_rule): rules parsed out of the
        robots.txt bodies fetched THIS round, sunk for the next rounds
        and returned for this round's own candidates (a newly
        discovered host's robots is prefetched at PRIORITY_ROBOTS, so
        its rules usually land with or before the host's first content
        pages)."""
        rnd.stats["robots"] = None
        if not self.cfg.fetch_robots_txt:
            return None
        from ..functions.robots import robots_rules as parse_robots

        robots_bodies = gated.filter(
            (F.col("gate") == "ok")
            & (path_expr("url_norm") == "/robots.txt")
        ).select("host", "html")
        rules = rnd.persist(
            parse_robots(robots_bodies, host_col="host", body_col="html", round_col=rnd.r)
        )
        rnd.sink(rules, "robots")
        # rules-table snapshot pointer (the cross-round view is the
        # union of these sinks)
        rnd.stats["robots"] = f"r{rnd.r:05d}/robots"
        return rules

    def _rate(self, rnd: _Round, combined: DataFrame) -> DataFrame:
        """P5/P6 + U1 → J5+A1 rating → P1/P2 priority: one row per
        extracted link, with its rating and priority; sinks the link
        keywords and link relations."""
        r = rnd.r
        # The flat link/keyword rows are the kind=1 slice of the fused
        # pass (one row per keyword, all-scalar Arrow transfer;
        # links/keywords are shuffle-free filters of the same
        # checkpointed frame). The P5 html-sniff gate and P6's
        # image-suffix skip both run INSIDE the kernel — still exactly
        # one Python stage per round.
        # NOTE: case-SENSITIVE suffix skip — html.go:169 uses
        # strings.HasSuffix on the raw URL (only the priority rule at
        # crawling.go:20 lowercases first).
        flat = (
            combined.filter(F.col("kind") == 1)
            .select(
                F.col("url_norm").alias("origin_url"),
                "depth", "time_found", "pos", "dest_url",
                "kw_idx", "visibility", "text",
            )
            .withColumn(
                "link_id",
                F.xxhash64("origin_url", "dest_url", "pos", F.lit(r)),
            )
        )
        keywords = flat.filter(F.col("kw_idx").isNotNull()).select(
            "link_id", "visibility", "text"
        )
        rnd.sink(keywords, "link_keywords")

        if len(self.flagged_rows) <= 512:
            # FUSED rating (r6): one hash aggregate over the flat frame
            # replaces the former keywords-groupBy exchange PLUS the
            # links⋈ratings join (its own exchange + sort). Map-side
            # partial aggregation collapses the per-keyword rows into
            # one row per link before the exchange, so exactly one
            # link-sized shuffle remains where three link-sized stages
            # ran before (guide §2.4/§2.3). Equivalence: the per-row
            # term is 0.0 for NULL-text (zero-keyword) rows — exactly
            # the coalesce(rating, 0.0) of the join form — and the
            # summed terms are small exact integers in double, so the
            # sum is order-independent (pinned by the e2e simulator
            # equality tests).
            term = ops.rating_term_expr(self.flagged_rows)
            rated = flat.groupBy(
                "link_id", "origin_url", "depth", "time_found", "dest_url"
            ).agg(F.sum(term).alias("rating"))
        else:
            links = flat.filter(
                F.col("kw_idx").isNull() | (F.col("kw_idx") == 0)
            ).select(
                "origin_url", "depth", "time_found", "pos", "dest_url", "link_id"
            )
            ratings = ops.link_rating(keywords, self.flagged)
            rated = links.join(ratings, "link_id", "left").withColumn(
                "rating", F.coalesce(F.col("rating"), F.lit(0.0))
            )
        rated = rnd.persist(ops.with_link_priority(rated))
        link_rels = rated.select(
            F.lit(r).alias("round"),
            "link_id",
            F.xxhash64("origin_url").alias("origin_id"),
            F.xxhash64("dest_url").alias("dest_id"),
            "origin_url",
            "dest_url",
            "rating",
            "time_found",
        )
        rnd.sink(link_rels, "link_rels")
        return rated

    def _candidates(
        self, rnd: _Round, rated: DataFrame, rules: DataFrame | None,
        seen_dfs: list[DataFrame],
    ) -> DataFrame:
        """A5/A6 collapse → robots filter → J2 seen check: the urls new
        to the seen set."""
        cands = rated.select(
            F.col("dest_url").alias("url_norm"),
            "priority",
            (F.col("depth") + 1).alias("depth"),
        )
        cands = (
            ops.collapse_candidates(cands)
            .withColumn("host", host_expr("url_norm"))
            .withColumn("url_hash", F.xxhash64("url_norm"))
        )
        if rules is not None:
            cands = ops.robots_filter(cands, rules)
        if self.cfg.fetch_robots_txt:
            # prefetch robots.txt for every host seen among candidates
            # (added AFTER the filter — robots.txt itself is always
            # fetchable per RFC 9309); the seen check dedups across
            # rounds so each host's robots is fetched once.
            cands = cands.unionByName(_robots_txt_rows(cands))

        if not (self.cfg.bloom_prefilter and rnd.prev.get("bloom")):
            return rnd.persist(ops.seen_anti_join_parts(cands, seen_dfs))
        probed = rnd.persist(
            bloom_ops.probe_shards(
                cands, self._read_shards(rnd.prev["bloom"]), rnd.n_buckets
            )
        )
        negatives = probed.filter(~F.col("maybe_seen")).drop("maybe_seen", "bucket")
        positives = probed.filter(F.col("maybe_seen")).drop("maybe_seen", "bucket")
        # exact check for bloom-positives only: co-partitioned
        # anti-joins against the bucketed seen parts — the seen
        # side is never shuffled OR broadcast-collected (in steady
        # state positives ≈ the whole candidate set, so the old
        # broadcast-the-positives shortcut was an OOM at scale).
        new_from_pos = ops.seen_anti_join_parts(positives, seen_dfs)
        return rnd.persist(negatives.unionByName(new_from_pos))

    def _state_writes(
        self, rnd: _Round, new: DataFrame, frontier: DataFrame,
        batch_use: DataFrame, seen_dfs: list[DataFrame],
    ) -> DataFrame:
        """Seen, frontier and bloom state for the next round; returns
        the new frontier rows."""
        cfg, r, prev = self.cfg, rnd.r, rnd.prev
        seen_delta = new.select("url_norm", "url_hash", F.lit(r).alias("round_seen"))
        rnd.stats["seen_parts"], seen_rows = self._compact_or_append(
            rnd, "seen_full", "seen_delta", seen_delta, prev["seen_parts"], seen_dfs
        )
        new_frontier = new.filter(F.col("priority") > 0).select(
            "url_norm",
            "host",
            "priority",
            "depth",
            F.lit(r).alias("round_added"),
            "url_hash",
        )
        # Incremental frontier (see _frontier_view): normal rounds
        # write ONLY the round delta (new urls) + a skinny tombstone
        # table of drained url_hashes — O(round activity), not
        # O(frontier). The full table is rewritten (and tombstones
        # folded in) on the seen-compaction cadence.
        # held rows (robots-first hold-back) are NOT in batch_use: they
        # survive both the full-rewrite anti-join and the tombstones.
        if rnd.compact:
            rest = frontier.join(
                batch_use.select("url_hash"), "url_hash", "left_anti"
            )
            rnd.sink(rest.unionByName(new_frontier), "frontier_full", "url_hash")
            rnd.stats["frontier_parts"] = [f"r{r:05d}/frontier_full"]
            rnd.stats["drained_parts"] = []
        else:
            rnd.sink(new_frontier, "frontier_delta", "url_hash")
            drained = batch_use.select("url_hash", F.lit(r).alias("drained_round"))
            rnd.sink(drained, "drained", "url_hash")
            rnd.stats["frontier_parts"] = prev["frontier_parts"] + [
                f"r{r:05d}/frontier_delta"
            ]
            rnd.stats["drained_parts"] = prev.get("drained_parts", []) + [
                f"r{r:05d}/drained"
            ]

        # U8: bloom shard merge
        rnd.stats["bloom"] = None
        if cfg.bloom_prefilter:
            if rnd.out_buckets == rnd.n_buckets:
                shards = bloom_ops.build_shards(
                    new.select("url_norm"), rnd.n_buckets, cfg.shard_bits,
                    self._read_shards(prev["bloom"]),
                )
            else:
                # resharded: the old shards are keyed by the old count,
                # so every shard is rebuilt from the merged seen set
                shards = bloom_ops.build_shards(
                    seen_rows.select("url_norm"), rnd.out_buckets, cfg.shard_bits
                )
            rnd.sink(shards, "bloom")
            rnd.stats["bloom"] = f"r{r:05d}/bloom"
        return new_frontier

    def _flush(self, rnd: _Round) -> None:
        """Run every pending sink write concurrently: persisted parents
        are materialized once under the cache's per-partition locks,
        and the scheduler overlaps the jobs, hiding per-job launch
        latency (a dozen sequential ~0.5s jobs/round would otherwise
        dominate small rounds)."""
        from concurrent.futures import ThreadPoolExecutor

        def write(sink: tuple[DataFrame, str, str | None]) -> None:
            df, name, bucket_col = sink
            with rnd.sink_job(name):
                if bucket_col is None:
                    self._write(df, rnd.r, name)
                else:
                    self.state.write_bucketed(
                        df, rnd.r, name, rnd.out_buckets, bucket_col=bucket_col
                    )

        rnd.mark("pre_flush")
        with ThreadPoolExecutor(max_workers=WRITE_THREADS) as pool:
            list(pool.map(write, rnd.pending))
        rnd.mark("flush")

    def _commit(self, rnd: _Round, new_frontier: DataFrame) -> dict:
        """Round counters, the round_stats row and the atomic manifest
        commit; then state GC on a compaction round and the release of
        the round's cached frames."""
        cfg, r, state = self.cfg, rnd.r, self.state
        # Round counters from the parquet FOOTERS of the sinks just
        # written (each sink is 1:1 with the frame it counts:
        # contents=ok pages, link_rels=rated links, errors,
        # frontier_delta=new frontier rows) — no Spark job, no cache
        # re-scan. The one count not derivable from a sink (new-frontier
        # rows folded into a compaction's full rewrite) runs as a single
        # cached-scan job on compaction rounds only.
        pages_fetched = state.sink_rows(r, "contents")
        links_found = state.sink_rows(r, "link_rels")
        n_errors = state.sink_rows(r, "errors")
        bytes_ok = state.sink_column_sum(r, "contents", "size") if pages_fetched else 0
        if rnd.compact:
            rnd.label("counters")
            n_new_frontier = new_frontier.count()
        else:
            n_new_frontier = state.sink_rows(r, "frontier_delta")
        rnd.mark("counters")
        wall_ms = rnd.ms("start", "counters")
        stats = {
            **rnd.stats,
            "pages_fetched": pages_fetched,
            "links_found": links_found,
            "new_frontier": n_new_frontier,
            "errors": n_errors,
            "wall_ms": wall_ms,
            "n_buckets": rnd.out_buckets,
            # feedback for next round's data-proportional shuffle sizing
            "avg_page_bytes": round(bytes_ok / pages_fetched, 1)
            if pages_fetched
            else float(cfg.est_page_bytes),
            "sink_ms": rnd.sink_ms,
            "phase_ms": {
                "pre_flush": rnd.ms("start", "pre_flush"),
                "flush": rnd.ms("pre_flush", "flush"),
                "counters": rnd.ms("flush", "counters"),
            },
        }
        rnd.label(None)
        # round_stats is ONE driver-known row — writing it through a
        # Spark job cost a full job launch per round; pyarrow writes
        # the identical parquet schema directly (readers are unchanged:
        # schema'd parquet scans over the sink glob).
        state.write_round_stats(
            r, pages_fetched, links_found, n_new_frontier, n_errors, wall_ms
        )
        state.commit_round(r, stats)
        if cfg.gc_state and rnd.compact:
            stats["gc_removed"] = len(state.gc_state(r, keep_rounds=1, spark=self.spark))
        rnd.release()
        stats["done"] = False
        stats["round"] = r
        return stats

    # ------------------------------------------------------------------
    def run(self, max_rounds: int = 100, resume: bool = True) -> list[dict]:
        """Drive rounds until the frontier drains (O3) or max_rounds.

        Resume: uncommitted round dirs are dropped; we continue from
        the latest manifest — no re-fetch, no seen-set divergence.
        """
        self.state.drop_uncommitted()
        latest = self.state.latest_committed_round()
        if latest is None or not resume:
            self.bootstrap()
            latest = 0
        all_stats = []
        r = latest + 1
        while r <= latest + max_rounds:
            stats = self.run_round(r)
            all_stats.append(stats)
            if stats.get("done"):
                break
            r += 1
        return all_stats


@dataclass
class _Round:
    """What one round's stages hand each other, and the one place a
    round labels its Spark jobs (``rNNNNN:<phase>``), takes its phase
    timestamps and persists frames (all released at commit)."""

    spark: SparkSession
    r: int
    prev: dict  # the previous manifest's stats
    n_buckets: int  # the count every bucketed read and the bloom probe use
    out_buckets: int  # the count this round's bucketed sinks are written at
    compact: bool
    broadcast: bool = True  # the batch is small enough to broadcast
    stats: dict = field(default_factory=dict)  # manifest entries set by stages
    # (frame, sink name, bucket column or None for a plain parquet sink)
    pending: list[tuple[DataFrame, str, str | None]] = field(default_factory=list)
    errors: list[DataFrame] = field(default_factory=list)
    cached: list[DataFrame] = field(default_factory=list)
    marks: dict[str, float] = field(default_factory=lambda: {"start": time.monotonic()})
    sink_ms: dict[str, int] = field(default_factory=dict)

    def label(self, phase: str | None) -> None:
        # job descriptions are thread-local: each concurrent sink write
        # is labelled in the UI/event log (guide §1.5)
        self.spark.sparkContext.setJobDescription(phase and f"r{self.r:05d}:{phase}")

    def mark(self, phase: str) -> None:
        self.marks[phase] = time.monotonic()

    def ms(self, since: str, until: str) -> int:
        return int((self.marks[until] - self.marks[since]) * 1000)

    @contextmanager
    def sink_job(self, name: str):
        self.label(f"sink:{name}")
        ts = time.monotonic()
        yield
        self.sink_ms[name] = int((time.monotonic() - ts) * 1000)

    def persist(self, df: DataFrame) -> DataFrame:
        self.cached.append(df)
        return df.persist(_CACHE)

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()

    def sink(self, df: DataFrame, name: str, bucket_col: str | None = None) -> None:
        self.pending.append((df, name, bucket_col))


def _union(dfs: list[DataFrame | None]) -> DataFrame:
    """unionByName over the frames given, left to right, skipping None."""
    return functools.reduce(
        lambda a, b: a.unionByName(b), [df for df in dfs if df is not None]
    )


def _error_rows(df: DataFrame, r: int, code, text) -> DataFrame:
    """Errors-sink rows for ``df``'s urls; ``code`` and ``text`` are
    literals or columns."""
    return df.select(
        F.lit(r).alias("round"),
        F.col("url_norm").alias("url"),
        F.lit(code).cast("int").alias("error_code"),
        F.lit(text).alias("error_text"),
    )


def _robots_txt_rows(df: DataFrame) -> DataFrame:
    """One <scheme>://<host>/robots.txt frontier row per host of ``df``
    at PRIORITY_ROBOTS and the host's lowest depth there."""
    return (
        df.groupBy("host")
        .agg(
            F.max(protocol_expr("url_norm")).alias("_scheme"),
            F.min("depth").alias("depth"),
        )
        .filter(F.length("_scheme") > 0)
        .select(
            F.concat(
                F.col("_scheme"), F.lit("://"), F.col("host"), F.lit("/robots.txt")
            ).alias("url_norm"),
            F.lit(ops.PRIORITY_ROBOTS).alias("priority"),
            "depth",
            "host",
        )
        .withColumn("url_hash", F.xxhash64("url_norm"))
    )
