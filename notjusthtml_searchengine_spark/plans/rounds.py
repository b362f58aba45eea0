"""The batch-BFS round driver (SURVEY.md §3.1 — the Spark shape).

One crawl round = one DAG:

  frontier ─drain(W1/W2)→ batch ─⋈ pages(J6, broadcast+DPP)→ gates(P3/P4)
    → sha1/sha512/sniff(F8/F9/U4) → contents/blob sinks (S7/S8, A4/J7)
    → media branch (P7 → U5/U6 → sinks S11, errors E2)
    → html gate (P5/P6) → U1 explode → keywords sink (S10)
    → rating (J5+A1) → priority (P1/P2+override) → link_rels sink (S9)
    → candidates: collapse (A5/A6) → robots/politeness filter
    → seen check (J2: bloom pre-filter U8 + exact anti-join)
    → frontier_{r+1} / seen delta / bloom shards / metrics → atomic commit

The reference's continuous goroutine pipeline (/root/reference/
main.go:59-90, html.go:30-188) maps onto this loop; its Redis SPop /
SAdd become the drain / frontier-append, its Bloom TestOrAdd becomes
bloom-probe + exact anti-join (the TestOrAdd-before-priority-drop
order quirk at crawling.go:85-91 is preserved: priority-0 candidates
still enter the seen set).
"""

from __future__ import annotations

import math
import os
import time
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

from .. import schemas
from ..extract.udfs import extract_with_meta
from ..functions.urlnorm import host_expr, path_expr, protocol_expr
from ..media.udfs import exif_udf, phash_udf
from ..operators import bloom as bloom_ops
from ..operators import crawl_ops as ops
from ..session import MAX_FILESIZE
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
        if self.cfg.fetch_robots_txt:
            # Pre-enqueue each seed host's robots.txt so even the SEED
            # fetch waits for rules: round 1's drain holds the seeds
            # back (robots-first hold-back in run_round) and fetches
            # the robots alone; the seeds follow in round 2 under the
            # just-learned rules. Without this, seeds are the one url
            # class fetched rules-blind.
            rob = (
                frontier.groupBy("host")
                .agg(F.max(protocol_expr("url_norm")).alias("_scheme"))
                .filter(F.length("_scheme") > 0)
                .select(
                    F.concat(
                        F.col("_scheme"), F.lit("://"), F.col("host"),
                        F.lit("/robots.txt"),
                    ).alias("url_norm"),
                    "host",
                    F.lit(ops.PRIORITY_ROBOTS).alias("priority"),
                    F.lit(0).alias("depth"),
                    F.lit(0).alias("round_added"),
                )
                .withColumn("url_hash", F.xxhash64("url_norm"))
            )
            frontier = frontier.unionByName(rob)
        self.state.write_bucketed(frontier, r, "frontier_full", n_buckets)
        seen0 = self.spark.createDataFrame([], schemas.SEEN)
        if self.cfg.fetch_robots_txt:
            # the bootstrap robots rows enter seen immediately (unlike
            # seeds, which faithfully stay out — crawling.go:153-175):
            # the per-round candidate-stage prefetch relies on the seen
            # check to enqueue each host's robots exactly once, and a
            # seen-less bootstrap row would be re-added and re-fetched
            # the first time its host shows up among candidates.
            seen0 = seen0.unionByName(
                frontier.filter(path_expr("url_norm") == "/robots.txt").select(
                    "url_norm", "url_hash", F.lit(0).alias("round_seen")
                )
            )
        self.state.write_bucketed(seen0, r, "seen_full", n_buckets)
        if self.cfg.bloom_prefilter:
            shards = bloom_ops.build_shards(
                seeds.limit(0), n_buckets, self.cfg.shard_bits
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
        dfs = self._seen_parts(parts, n_buckets)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

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
    def _latest_per_host(rules: DataFrame) -> DataFrame:
        """One rules row per host: highest fetched_round wins; freshly
        fetched rows (_src=1) beat the static table on ties."""
        from pyspark.sql.window import Window

        w = Window.partitionBy("host").orderBy(
            F.desc_nulls_last("fetched_round"), F.desc("_src")
        )
        return (
            rules.withColumn("_rn", F.row_number().over(w))
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
                self._static_rules = self._latest_per_host(
                    self.robots.withColumn("_src", F.lit(0))
                ).localCheckpoint(eager=True)
            return self._static_rules
        base = None
        if self.robots is not None:
            base = self.robots.withColumn("_src", F.lit(0))
        if has_fetched:
            fetched = (
                self.spark.read.schema(schemas.ROBOTS)
                .parquet(self.state.sink_glob("robots"))
                .withColumn("_src", F.lit(1))
            )
            base = fetched if base is None else base.unionByName(fetched)
        return None if base is None else self._latest_per_host(base)

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
        drained_parts = stats.get("drained_parts", [])
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
        if drained_parts:
            tombs = [
                self.state.read_bucketed(self.spark, p, DRAINED_DDL, n_buckets)
                .groupBy("url_hash")
                .agg(F.max("drained_round").alias("_dr"))
                for p in drained_parts
            ]
            live = []
            for fp in parts:
                out = fp
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
            parts = live
        frontier = parts[0]
        for p in parts[1:]:
            frontier = frontier.unionByName(p)
        return frontier

    def _lineage(self, dfs: dict[str, tuple], r: int) -> DataFrame:
        """Per-partition lineage rows (north_rule) in one unioned job:
        row count AND payload byte sum per partition (each stage names
        the column expression that measures its payload)."""
        parts = []
        for stage, (df, bytes_expr) in dfs.items():
            parts.append(
                df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
                    F.count(F.lit(1)).alias("rows_out"),
                    F.coalesce(F.sum(bytes_expr), F.lit(0))
                    .cast("long")
                    .alias("bytes"),
                )
                .withColumn("round", F.lit(r))
                .withColumn("stage", F.lit(stage))
                .select("round", "stage", "partition_id", "rows_out", "bytes")
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------------------------
    def run_round(self, r: int) -> dict:
        t0 = time.monotonic()
        cfg = self.cfg
        prev = self.state.manifest(r - 1)
        assert prev is not None, f"round {r - 1} not committed"
        # The manifest's bucket count is the one every bucketed read and
        # the bloom probe use. A compaction round rewrites every
        # bucketed table in full, so only it may write at another count.
        n_buckets = int(prev["stats"]["n_buckets"])
        compact = r % cfg.compact_seen_every == 0
        out_buckets = (
            self._compaction_buckets(prev["stats"], n_buckets) if compact else n_buckets
        )
        frontier = self._frontier_view(prev["stats"], n_buckets)
        frontier_parts: list[str] = prev["stats"]["frontier_parts"]
        drained_parts: list[str] = prev["stats"].get("drained_parts", [])
        seen_parts: list[str] = prev["stats"]["seen_parts"]
        seen_dfs = self._seen_parts(seen_parts, n_buckets)

        # data-proportional shuffle sizing: predict this round's batch
        # from the previous round's frontier additions (exact n_batch
        # refines it right after the drain; under-prediction here only
        # affects the drain's own window shuffle)
        prev_avg_bytes = float(prev["stats"].get("avg_page_bytes", cfg.est_page_bytes))
        pred_batch = int(prev["stats"].get("new_frontier", 0) or 0)
        if cfg.round_budget is not None:
            pred_batch = min(pred_batch, cfg.round_budget)
        shuffle_parts = self._size_shuffle(pred_batch, prev_avg_bytes)

        # ---- W1/W2: drain --------------------------------------------
        robots_rules_df = self._robots_view()
        host_caps = None
        if robots_rules_df is not None and cfg.round_seconds:
            host_caps = ops.crawl_delay_caps(robots_rules_df, cfg.round_seconds)
        batch = ops.drain_frontier(
            frontier, cfg.round_budget, cfg.per_host_budget, host_caps=host_caps
        )
        # The drain-time robots backstop flag is folded in BEFORE the
        # persist: every consumer (fetch, misses, error rows,
        # tombstones) reads one cached frame, instead of re-evaluating
        # a join-above-the-cache per consumer (measured ~15% round
        # cost at local[8] when it sat above the cache).
        if robots_rules_df is not None:
            batch = ops.robots_mark(
                batch, robots_rules_df, exempt_robots_txt=True
            )
        # localCheckpoint, not persist (r6): the batch is consumed by a
        # dozen downstream sink actions, and EVERY one of them was
        # re-analyzing the full drain lineage (frontier-view per-part
        # tombstone joins + the two politeness windows) on the DRIVER —
        # measured 11s of serial plan-construction gap per big capped
        # round at local[8] vs 1.5s uncapped, the single-threaded cost
        # that collapsed the capped leg's core scaling (guide §7.3
        # "planning time itself can become the bottleneck", §3.3
        # "materialising an intermediate truncates the plan").
        # Checkpointing materializes the same skinny frame the persist
        # did, but downstream plans now start from a short scan. Fault
        # tolerance of this intermediate is round-local (the round
        # re-runs from the manifest on failure), so cutting lineage is
        # safe — same trade as graph.py's iteration checkpoints.
        self.spark.sparkContext.setJobDescription(f"r{r:05d}:drain+stats")
        batch = batch.localCheckpoint(eager=True)
        n_batch, batch_bytes = self._batch_stats(batch)
        broadcast_batch = batch_bytes <= cfg.broadcast_max_bytes
        resized = self._size_shuffle(n_batch, prev_avg_bytes)
        if resized is not None:
            shuffle_parts = resized
        if n_batch == 0:
            return {"done": True, "round": r, "pages_fetched": 0}

        # ---- robots-first hold-back -----------------------------------
        # A host's FIRST drain wave is its robots.txt alone: a url
        # whose host has its own /robots.txt row in this very batch
        # (rules still unknown — links and the robots prefetch join
        # the frontier in the same round) is HELD — excluded from the
        # fetch AND from the drained tombstones, so it stays queued
        # and drains next round under the just-fetched rules. One
        # broadcast semi-join over the budget-bounded batch; a held
        # url costs one under-filled drain slot for one round, and
        # there is no starvation (the robots url is tombstoned this
        # round, so next round the host is no longer held whether its
        # robots fetch hit or missed).
        batch_use = batch
        if cfg.fetch_robots_txt:
            is_rob = path_expr("url_norm") == "/robots.txt"
            held_hosts = batch.filter(is_rob).select("host").distinct()
            batch_use = batch.filter(is_rob).unionByName(
                batch.filter(~is_rob).join(
                    F.broadcast(held_hosts), "host", "left_anti"
                )
            )

        # ---- drain-time robots backstop -------------------------------
        # The candidate-time robots_filter (below) can only apply rules
        # that existed when a url was DISCOVERED — rules that arrived
        # later (or the hold-back's round-delayed first wave) must
        # still be enforced. RFC practice is to check robots
        # immediately before fetching: the ``robots_blocked`` flag was
        # computed inside the persisted drain frame above (one
        # broadcast join over a budget-bounded frame — NOT the whole
        # frontier, which would be O(frontier) per round); blocked
        # rows divert to the error sink. They stay in ``batch_use`` so
        # the drained tombstones still remove them from the frontier —
        # each late-blocked url costs one drain slot, once, ever.
        # /robots.txt itself is always fetchable.
        err_robots = None
        batch_fetch = batch_use
        if robots_rules_df is not None:
            err_robots = batch_use.filter(F.col("robots_blocked")).select(
                F.lit(r).alias("round"),
                F.col("url_norm").alias("url"),
                F.lit(schemas.ERROR_CODES["ErrorRobotsBlocked"])
                .cast("int")
                .alias("error_code"),
                F.lit("robots").alias("error_text"),
            )
            batch_fetch = batch_use.filter(~F.col("robots_blocked")).drop(
                "robots_blocked"
            )

        # ---- J6: fetch + gates; salt hot hosts before the fat UDFs ----
        # column-prune before the join: text/lang are never used in
        # the round (text regeneration is a test-side invariant).
        # Inner-join + broadcast batch: the corpus is never shuffled;
        # misses are recovered below from the persisted hit frame.
        fetched = ops.fetch_hits(
            batch_fetch,
            self.pages.select("url", "warc_ts", "html"),
            broadcast_batch=broadcast_batch,
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
            gated = gated.persist(_CACHE)
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
        meta = (
            combined.filter(F.col("kind") == 0)
            .select(
                "url_norm", "host", "depth", "time_found", "gate",
                "content_type", "sha1", "sha512", "size",
            )
            .withColumn("site_id", F.xxhash64("url_norm"))
            .withColumn("content_id", F.xxhash64("url_norm", F.lit(r)))
            .persist(_CACHE)
        )
        ok = meta.filter(F.col("gate") == "ok")

        missed = ops.fetch_misses(batch_fetch, meta)
        err_gate = meta.filter(F.col("gate") != "ok").select(
            F.lit(r).alias("round"),
            F.col("url_norm").alias("url"),
            F.when(F.col("gate") == "too_big", schemas.ERROR_CODES["ErrorResponseToBig"])
            .otherwise(schemas.ERROR_CODES["ErrorBodyLenZero"])
            .cast("int")
            .alias("error_code"),
            F.col("gate").alias("error_text"),
        ).unionByName(
            missed.select(
                F.lit(r).alias("round"),
                F.col("url_norm").alias("url"),
                F.lit(schemas.ERROR_CODES["ErrorFetchMissing"]).cast("int").alias("error_code"),
                F.lit("miss").alias("error_text"),
            )
        )

        # Sink writes are deferred: persisted parents are materialized
        # once (via the stats counts below), then all independent sink
        # writes run concurrently from a thread pool — each write is a
        # separate Spark job and the scheduler overlaps them, hiding
        # per-job launch latency (a dozen sequential ~0.5s jobs/round
        # would otherwise dominate small rounds).
        pending: list[tuple] = []

        # ---- S8 contents / S7 blobs (A4+J7) ---------------------------
        contents = ok.select(
            F.lit(r).alias("round"),
            F.col("url_norm").alias("url"),
            "site_id",
            F.xxhash64("content_type").alias("content_type_id"),
            "size",
            "sha512",
            "sha1",
            "time_found",
        )
        pending.append((contents, "contents"))

        # ---- J1/J3/J4 dimension tables (reference database.go:143-215:
        # sites / domains / content_types as first-class queryable
        # tables). Ids are deterministic xxhash64 of the natural key, so
        # the dim row is derivable — but the reference exposes them as
        # tables ("list crawled domains" must not rescan contents), so
        # each round left-anti-inserts the new keys. NOTE: the glob read
        # below resolves its file list at plan-construction time (before
        # this round's dirs exist), so the concurrent sink writes cannot
        # race it.
        new_sites_parts: list[str] = prev["stats"].get("sites_parts", [])
        if cfg.dim_tables:
            # sites grows with the crawl (≈ fetched pages), so its
            # insert check gets the seen treatment: a bucketed
            # site_id key-state table per round, co-partitioned
            # anti-join (zero exchange on the state side), compacted
            # on the seen cadence. The sink rows themselves stay
            # per-round new-keys-only parquet (glob-queryable).
            # domains/content_types are small dims — glob read is fine.
            from .state import SITES_KEYS_DDL

            sites_parts = list(new_sites_parts)
            sites_new = ok.select(
                "site_id", F.col("url_norm").alias("url")
            ).dropDuplicates(["site_id"])
            if sites_parts:
                key_dfs = [
                    self.state.read_bucketed(
                        self.spark, p, SITES_KEYS_DDL, n_buckets,
                        bucket_col="site_id",
                    )
                    for p in sites_parts
                ]
                sites_new = ops.anti_join_parts(sites_new, key_dfs, key="site_id")
            else:
                key_dfs = []
            pending.append((sites_new, "sites"))
            if compact:
                merged_keys = sites_new.select("site_id")
                for kd in key_dfs:
                    merged_keys = merged_keys.unionByName(kd)
                pending.append((merged_keys, "sites_keys"))
                new_sites_parts = [f"r{r:05d}/sites_keys"]
            else:
                pending.append((sites_new.select("site_id"), "sites_keys"))
                new_sites_parts = sites_parts + [f"r{r:05d}/sites_keys"]

            dims = [
                (
                    "domains",
                    schemas.DOMAINS,
                    "domain_id",
                    ok.select(
                        F.xxhash64("host").alias("domain_id"),
                        F.col("host").alias("domain"),
                    ),
                ),
                (
                    "content_types",
                    schemas.CONTENT_TYPES,
                    "content_type_id",
                    ok.select(
                        F.xxhash64("content_type").alias("content_type_id"),
                        "content_type",
                    ),
                ),
            ]
            for dim_name, dim_schema, key, dim_df in dims:
                d = dim_df.dropDuplicates([key])
                # guard on files actually existing: resuming a state
                # dir whose earlier rounds never wrote this dim (sink
                # newly enabled) must insert all keys, not fail the read
                if r > 1 and self.state.sink_exists(dim_name):
                    existing = self.spark.read.schema(dim_schema).parquet(
                        self.state.sink_glob(dim_name)
                    )
                    d = d.join(existing.select(key), key, "left_anti")
                pending.append((d, dim_name))

        if cfg.write_blobs:
            # Content-addressed store WITHOUT shuffling the fat bodies:
            # pick one winner (sha1, url) with a SKINNY map-side-combined
            # aggregate, anti-join winners against the store, then join
            # the winner keys back against the persisted ok frame — the
            # html column never moves (dropDuplicates(sha1) would
            # shuffle every body by sha1). Winner set ≈ round size;
            # broadcast below the same threshold as the fetch batch.
            blob_glob = self.state.sink_glob("content_blobs")
            winners = ok.groupBy("sha1").agg(F.min("url_norm").alias("_w"))
            if r > 1 and self.state.sink_exists("content_blobs"):
                existing = self.spark.read.schema(schemas.CONTENT_BLOBS).parquet(blob_glob)
                winners = winners.join(existing.select("sha1"), "sha1", "left_anti")
            # winner rows (sha1 + url) are the same scale as the batch;
            # reuse its byte estimate for the broadcast decision
            if broadcast_batch:
                winners = F.broadcast(winners)
            # join the winner URLS back against the fat cache: sha1
            # comes from the (skinny) winner side — the bodies are
            # neither shuffled nor re-hashed.
            new_blobs = (
                gated.select("url_norm", F.col("html").alias("content"))
                .join(winners, F.col("url_norm") == F.col("_w"))
                .select("sha1", "content")
            )
            pending.append((new_blobs, "content_blobs"))

        # ---- P7 media branch → U5/U6 ----------------------------------
        err_media = None
        hashed = None
        if cfg.media:
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
            hashed = imgs.withColumn("ph", phash_udf("html", "content_type")).withColumn(
                "ex", exif_udf("html")
            ).select("url_norm", "content_id", "ph", "ex").persist(_CACHE)
            phashes = hashed.filter(F.col("ph.error").isNull()).select(
                "content_id",
                F.col("ph.ahash").alias("ahash"),
                F.col("ph.dhash").alias("dhash"),
                F.col("ph.phash").alias("phash"),
            )
            pending.append((phashes, "perceptual_hashes"))
            exifs = hashed.filter(F.col("ex.present")).select(
                "content_id",
                F.col("ex.camera").alias("camera"),
                F.col("ex.ts").alias("ts"),
                F.col("ex.lat").alias("lat"),
                F.col("ex.long").alias("long"),
            )
            pending.append((exifs, "exif_info"))
            err_media = hashed.filter(F.col("ph.error").isNotNull()).select(
                F.lit(r).alias("round"),
                F.col("url_norm").alias("url"),
                F.lit(schemas.ERROR_CODES["ErrorPerceptualHash"]).cast("int").alias("error_code"),
                F.col("ph.error").alias("error_text"),
            )
            # S11 faces sink: one row per detected face per image
            # (reference html.go:146-159 → faceRecognition.go:13-19,
            # Face table DDL database.go:134). Detector is pluggable
            # (no model ships in this sandbox — see media/faces.py).
            if cfg.face_detector != "none":
                from ..media.faces import detect_faces

                faces = detect_faces(
                    imgs, body_col="html", id_col="content_id",
                    detector=cfg.face_detector,
                )
                pending.append((faces, "faces"))

        # ---- robots self-ingestion (north_rule): parse rules out of
        # robots.txt bodies fetched THIS round; they are sunk for the
        # next rounds AND applied to this round's own candidates below
        # (a newly discovered host's robots is prefetched at
        # PRIORITY_ROBOTS, so its rules usually land with or before
        # the host's first content pages).
        round_robots = None
        if cfg.fetch_robots_txt:
            from ..functions.robots import robots_rules as parse_robots

            robots_bodies = gated.filter(
                (F.col("gate") == "ok")
                & (path_expr("url_norm") == "/robots.txt")
            ).select("host", "html")
            round_robots = parse_robots(
                robots_bodies, host_col="host", body_col="html", round_col=r
            ).persist(_CACHE)
            pending.append((round_robots, "robots"))

        # ---- P5/P6 + U1: the flat link/keyword rows are the kind=1
        # slice of the fused pass above (one row per keyword,
        # all-scalar Arrow transfer; links/keywords are shuffle-free
        # filters of the same checkpointed frame). The P5 html-sniff
        # gate and P6's image-suffix skip both run INSIDE the kernel —
        # still exactly one Python stage per round.
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
        pending.append((keywords, "link_keywords"))

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
        rated = ops.with_link_priority(rated).persist(_CACHE)

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
        pending.append((link_rels, "link_rels"))

        # ---- candidates: A5/A6 collapse → robots → J2 seen check ------
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
        robots_eff = robots_rules_df
        if round_robots is not None:
            fresh = round_robots.withColumn("_src", F.lit(1))
            robots_eff = self._latest_per_host(
                fresh
                if robots_eff is None
                else robots_eff.withColumn("_src", F.lit(0)).unionByName(fresh)
            )
        if robots_eff is not None:
            cands = ops.robots_filter(cands, robots_eff)
        if cfg.fetch_robots_txt:
            # prefetch robots.txt for every host seen among candidates
            # (added AFTER the filter — robots.txt itself is always
            # fetchable per RFC 9309); the seen check dedups across
            # rounds so each host's robots is fetched once.
            rob_c = (
                cands.groupBy("host")
                .agg(
                    F.max(protocol_expr("url_norm")).alias("_scheme"),
                    F.min("depth").alias("depth"),
                )
                .filter(F.length("_scheme") > 0)
                .select(
                    F.concat(
                        F.col("_scheme"),
                        F.lit("://"),
                        F.col("host"),
                        F.lit("/robots.txt"),
                    ).alias("url_norm"),
                    F.lit(ops.PRIORITY_ROBOTS).alias("priority"),
                    "depth",
                    "host",
                )
                .withColumn("url_hash", F.xxhash64("url_norm"))
            )
            cands = cands.unionByName(rob_c)

        probed = None
        if cfg.bloom_prefilter and prev["stats"].get("bloom"):
            shards = self.spark.read.schema(schemas.BLOOM_SHARDS).parquet(
                os.path.join(self.state.root, "rounds", prev["stats"]["bloom"])
            )
            probed = bloom_ops.probe_shards(
                cands, shards, n_buckets, cfg.shard_bits
            ).persist(_CACHE)
            negatives = probed.filter(~F.col("maybe_seen")).drop("maybe_seen", "bucket")
            positives = probed.filter(F.col("maybe_seen")).drop("maybe_seen", "bucket")
            # exact check for bloom-positives only: co-partitioned
            # anti-joins against the bucketed seen parts — the seen
            # side is never shuffled OR broadcast-collected (in steady
            # state positives ≈ the whole candidate set, so the old
            # broadcast-the-positives shortcut was an OOM at scale).
            new_from_pos = ops.seen_anti_join_parts(positives, seen_dfs)
            new = negatives.unionByName(new_from_pos).persist(_CACHE)
        else:
            new = ops.seen_anti_join_parts(cands, seen_dfs).persist(_CACHE)

        seen_delta = new.select("url_norm", "url_hash", F.lit(r).alias("round_seen"))

        # compaction: every N rounds rewrite one merged seen table
        if compact:
            merged = seen_delta
            for d in seen_dfs:
                merged = merged.unionByName(d)
            pending.append((merged, "seen_full"))
            new_seen_parts = [f"r{r:05d}/seen_full"]
        else:
            pending.append((seen_delta, "seen_delta"))
            new_seen_parts = seen_parts + [f"r{r:05d}/seen_delta"]

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
        if compact:
            rest = frontier.join(
                batch_use.select("url_hash"), "url_hash", "left_anti"
            )
            pending.append((rest.unionByName(new_frontier), "frontier_full"))
            new_frontier_parts = [f"r{r:05d}/frontier_full"]
            new_drained_parts: list[str] = []
        else:
            pending.append((new_frontier, "frontier_delta"))
            drained_delta = batch_use.select(
                "url_hash", F.lit(r).alias("drained_round")
            )
            pending.append((drained_delta, "drained"))
            new_frontier_parts = frontier_parts + [f"r{r:05d}/frontier_delta"]
            new_drained_parts = drained_parts + [f"r{r:05d}/drained"]

        # ---- U8: bloom shard merge ------------------------------------
        bloom_rel = None
        if cfg.bloom_prefilter:
            if out_buckets == n_buckets:
                old_shards = self.spark.read.schema(schemas.BLOOM_SHARDS).parquet(
                    os.path.join(self.state.root, "rounds", prev["stats"]["bloom"])
                )
                shards2 = bloom_ops.build_shards(
                    new.select("url_norm"), n_buckets, cfg.shard_bits, old_shards
                )
            else:
                # resharded: the old shards are keyed by the old count,
                # so every shard is rebuilt from the merged seen set
                shards2 = bloom_ops.build_shards(
                    merged.select("url_norm"), out_buckets, cfg.shard_bits
                )
            pending.append((shards2, "bloom"))
            bloom_rel = f"r{r:05d}/bloom"

        # ---- errors / metrics / stats ----------------------------------
        errors = err_gate
        if err_media is not None:
            errors = errors.unionByName(err_media)
        if err_robots is not None:
            errors = errors.unionByName(err_robots)
        pending.append((errors, "errors"))

        if cfg.lineage_metrics:
            lineage = self._lineage(
                {
                    "batch": (batch, F.length("url_norm")),
                    "fetched_ok": (ok, F.col("size")),
                    "links": (rated, F.length("dest_url")),
                    "new_seen": (new, F.length("url_norm")),
                },
                r,
            )
            pending.append((lineage, "metrics"))

        # ---- flush all sink writes concurrently (persisted parents are
        # materialized once under the cache's per-partition locks; the
        # scheduler overlaps the jobs, hiding per-job launch latency).
        from concurrent.futures import ThreadPoolExecutor

        t_preflush = time.monotonic()
        bucketed_names = {
            "frontier_full",
            "frontier_delta",
            "drained",
            "seen_delta",
            "seen_full",
        }

        sink_ms: dict[str, int] = {}

        def _flush(t):
            df, name = t
            # job description is thread-local — each concurrent sink
            # write is labelled in the UI/event log (guide §1.5)
            self.spark.sparkContext.setJobDescription(f"r{r:05d}:sink:{name}")
            ts = time.monotonic()
            if name == "sites_keys":
                self.state.write_bucketed(
                    df, r, name, out_buckets, bucket_col="site_id"
                )
            elif name in bucketed_names:
                self.state.write_bucketed(df, r, name, out_buckets)
            else:
                self._write(df, r, name)
            sink_ms[name] = int((time.monotonic() - ts) * 1000)

        # 12 concurrent writer threads: the dozen per-round sink jobs
        # are individually tiny, so at 6 threads the flush ran two
        # serial waves whose second wave was latency, not throughput
        # (the scheduler overlaps all jobs fine; measured r6).
        with ThreadPoolExecutor(max_workers=int(cfg.extra.get("write_threads", 12))) as pool:
            list(pool.map(_flush, pending))
        t_flush = time.monotonic()

        # Round counters: ONE post-flush aggregation job over the (now
        # materialized) cached frames — replaces the four standalone
        # count jobs the round used to run before flushing.
        # Round counters from the parquet FOOTERS of the sinks just
        # written (each sink is 1:1 with the frame the old counter job
        # counted: contents=ok, link_rels=rated, errors, frontier_delta
        # =new frontier rows) — no Spark job, no cache re-scan. The one
        # count not derivable from a sink (new-frontier rows folded
        # into a compaction's full rewrite) runs as a single cached-
        # scan job on compaction rounds only.
        pages_fetched = self.state.sink_rows(r, "contents")
        links_found = self.state.sink_rows(r, "link_rels")
        n_errors = self.state.sink_rows(r, "errors")
        bytes_ok = (
            self.state.sink_column_sum(r, "contents", "size")
            if pages_fetched
            else 0
        )
        if compact:
            self.spark.sparkContext.setJobDescription(f"r{r:05d}:counters")
            n_new_frontier = new_frontier.count()
        else:
            n_new_frontier = self.state.sink_rows(r, "frontier_delta")

        wall_ms = int((time.monotonic() - t0) * 1000)
        stats = {
            "frontier_parts": new_frontier_parts,
            "drained_parts": new_drained_parts,
            "sites_parts": new_sites_parts,
            "seen_parts": new_seen_parts,
            # rules-table snapshot pointer: robots rules fetched this
            # round (the cross-round view is the union of these sinks)
            "robots": f"r{r:05d}/robots" if round_robots is not None else None,
            "bloom": bloom_rel,
            "pages_fetched": pages_fetched,
            "links_found": links_found,
            "new_frontier": n_new_frontier,
            "errors": n_errors,
            "batch": n_batch,
            "wall_ms": wall_ms,
            "n_buckets": out_buckets,
            # feedback for next round's data-proportional shuffle sizing
            "avg_page_bytes": round(bytes_ok / pages_fetched, 1)
            if pages_fetched
            else float(cfg.est_page_bytes),
            "shuffle_partitions": shuffle_parts,
        }
        t_counters = time.monotonic()
        self.spark.sparkContext.setJobDescription(None)
        # round_stats is ONE driver-known row — writing it through a
        # Spark job cost a full job launch per round; pyarrow writes
        # the identical parquet schema directly (readers are unchanged:
        # schema'd parquet scans over the sink glob).
        self.state.write_round_stats(
            r, pages_fetched, links_found, n_new_frontier, n_errors, wall_ms
        )
        if cfg.extra.get("phase_timings"):
            stats["sink_ms"] = sink_ms
            stats["phase_ms"] = {
                "pre_flush": int((t_preflush - t0) * 1000),
                "flush": int((t_flush - t_preflush) * 1000),
                "counters": int((t_counters - t_flush) * 1000),
            }
        self.state.commit_round(r, stats)
        if cfg.gc_state and compact:
            stats["gc_removed"] = len(
                self.state.gc_state(r, keep_rounds=1, spark=self.spark)
            )

        # batch/combined are localCheckpoint'd (not persisted) — their
        # blocks are released by the ContextCleaner when the round's
        # references drop
        unpersist = [meta, rated, new, hashed, probed, round_robots]
        if cfg.cache_fat:
            unpersist.append(gated)
        for df in unpersist:
            if df is not None:
                df.unpersist()
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
