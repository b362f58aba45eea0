"""What every workload shares: the run context and outcome, set-up with
repeats, the traced-run span installation, and the metric names."""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from .eventlog import EventLog
from .host import Session
from .trace import Tracer

# the inputs are written this many times per run; setup_s takes the median
INPUT_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "round_p50_ms": "ms",
    "work_per_s": "1/s",
    "peak_pss_mb": "MB",
}

LEAVES = [
    "rating_theta_join",
    "dims_broadcast_join",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_brute_topk",
    "windowed_rollup",
    "sessionize",
    "doc_fingerprint",
]
SINKS = [
    "bloom", "content_blobs", "content_types", "contents", "domains",
    "drained", "errors", "exif_info", "frontier_delta", "frontier_full",
    "link_keywords", "link_rels", "metrics", "perceptual_hashes",
    "seen_delta", "seen_full", "sites", "sites_keys",
]
# round phase -> job labels (round number dropped) it covers
PHASES = {
    "pre": lambda p: p == "pre",
    "drain": lambda p: p == "drain+stats",
    "flush": lambda p: p.startswith("sink:"),
    "counters": lambda p: p == "counters",
}
PHASE_COLUMNS = {"cpu_ms": "ms", "gc_ms": "ms", "spill_bytes": "B",
                 "shuffle_bytes": "B", "tasks": "count"}

# name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.start_ms": ("ms", "lower"),
    "session.gc_ms": ("ms", "lower"),
    "session.driver_error_lines": ("count", "lower"),
    "rounds.pre_flush_ms": ("ms", "lower"),
    "rounds.flush_ms": ("ms", "lower"),
    "rounds.counters_ms": ("ms", "lower"),
    "rounds.drain_ms": ("ms", "lower"),
    "rounds.driver_gap_ms": ("ms", "lower"),
    "rounds.plan_ms": ("ms", "lower"),
    "state.commit_ms": ("ms", "lower"),
    "state.gc_ms": ("ms", "lower"),
    "state.bytes_per_page": ("B/page", "lower"),
    "state.files_per_round": ("count", "lower"),
    **{f"state.sink_ms.{s}": ("ms", "lower") for s in SINKS},
    "crawl_ops.batch_rows": ("count", "higher"),
    "crawl_ops.candidate_rows": ("count", "lower"),
    "crawl_ops.new_frontier_ratio": ("ratio", "higher"),
    "crawl_ops.partition_skew": ("ratio", "lower"),
    "crawl_ops.drain_task_skew": ("ratio", "lower"),
    "bloom.build_ms": ("ms", "lower"),
    "bloom.probe_negative_ratio": ("ratio", "higher"),
    "bloom.false_positive_ratio": ("ratio", "lower"),
    "extract.u1_ms_per_page": ("ms", "lower"),
    "extract.stage_ms_per_page": ("ms", "lower"),
    "extract.transfer_share": ("ratio", "lower"),
    "media.sink_ms": ("ms", "lower"),
    **{f"queries.{leaf}_ms": ("ms", "lower") for leaf in LEAVES},
    **{f"phase.{p}.{c}": (u, "lower") for p in PHASES for c, u in PHASE_COLUMNS.items()},
    "scaling.speedup_1_to_n": ("ratio", "higher"),
    "trace.round_p50_ms": ("ms", "lower"),
}


@dataclass
class Context:
    work: str
    seed: int
    seconds: float
    trace: bool
    cores: int


@dataclass
class Outcome:
    setup_s: float
    iterations_ms: list[float] = field(default_factory=list)
    work_units: float = 0
    busy_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    messages: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def fail(self, message: str, count: bool = True) -> None:
        self.messages.append(message)
        if count:
            self.failed += 1


@dataclass
class Setup:
    session: Session
    setup_s: float
    digest: str
    deterministic: bool

    def outcome(self) -> Outcome:
        """The run's outcome so far: set-up time, inputs digest, and a
        failure if the repeated inputs differed."""
        out = Outcome(setup_s=self.setup_s, info={"inputs_digest": self.digest})
        if not self.deterministic:
            out.fail("inputs differ between set-up repeats with the same seed")
        return out


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def start_session(ctx: Context, cores: int | None = None, event_log: bool = False,
                  tag: str = "main") -> Session:
    return Session(ctx.work, cores or ctx.cores,
                   os.path.join(ctx.work, "eventlog", tag) if event_log else None)


def event_log_file(ctx: Context, tag: str = "main") -> str:
    (path,) = glob.glob(os.path.join(ctx.work, "eventlog", tag, "*"))
    return path


def inputs_digest(out_dir: str) -> str:
    h = hashlib.sha1()
    for dirpath, dirs, names in os.walk(out_dir):
        dirs.sort()
        for name in sorted(names):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, out_dir).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def set_up(ctx: Context, inputs_dir: str, make_inputs, warm_up) -> Setup:
    """Write the inputs afresh INPUT_REPEATS times (each must match the
    first byte for byte), start Spark in a new JVM and warm it up.
    setup_s = median input time + session start + warm-up."""
    samples, digests = [], []
    for _ in range(INPUT_REPEATS):
        shutil.rmtree(inputs_dir, ignore_errors=True)
        t0 = time.perf_counter()
        make_inputs(inputs_dir)
        samples.append(time.perf_counter() - t0)
        digests.append(inputs_digest(inputs_dir))
    session = start_session(ctx, event_log=ctx.trace)
    t0 = time.perf_counter()
    warm_up(session.spark)
    warm = time.perf_counter() - t0
    return Setup(session, median(samples) + session.start_s + warm,
                 digests[0], len(set(digests)) == 1)


def install_tracer() -> Tracer:
    """Spans around the crawl layers' public builders and state calls."""
    from notjusthtml_searchengine_spark.operators import bloom, crawl_ops
    from notjusthtml_searchengine_spark.plans import rounds
    from notjusthtml_searchengine_spark.plans.state import CrawlState

    tracer = Tracer()
    tracer.wrap_functions(crawl_ops, "crawl_ops")
    tracer.wrap_functions(bloom, "bloom")
    tracer.wrap(rounds, "extract_with_meta", "extract.extract_with_meta")
    tracer.wrap(CrawlState, "commit_round", "state.commit_round")
    tracer.wrap(CrawlState, "gc_state", "state.gc_state")
    return tracer


def zero_layers() -> dict[str, float]:
    """Every per-layer metric starts at 0: a layer the workload does not
    exercise did no work."""
    return dict.fromkeys(PER_LAYER, 0.0)


def phase_layers(layers: dict[str, float], log: EventLog, iterations: int) -> None:
    """phase.<p>.<column> per iteration, and session.gc_ms: executor GC
    per iteration over every job the measured loop labelled."""
    table = log.phase_table()
    n = max(iterations, 1)
    for p, match in PHASES.items():
        for c in PHASE_COLUMNS:
            layers[f"phase.{p}.{c}"] = sum(
                row[c] for phase, row in table.items() if match(phase)) / n
    measured = [row for phase, row in table.items()
                if phase.startswith("q:") or any(m(phase) for m in PHASES.values())]
    layers["session.gc_ms"] = sum(r["gc_ms"] for r in measured) / n


def phase_rows(log: EventLog) -> dict[str, dict[str, float]]:
    return {p: {c: round(v, 1) for c, v in row.items()} for p, row in log.phase_table().items()}
