"""The crawl workloads' shared loop, output checks and traced-run
metrics. ``polite.py`` and ``bulk.py`` each define a ``Spec``: how the
inputs are made, the ``CrawlConfig`` fields, and how many rounds a
run must hold.

Set-up ends with the engine built and round 0 (the bootstrap) written
in a fresh JVM. The benchmark then drives the crawl as a closed loop,
one round at a time, until ``seconds`` have passed and the spec's
rounds ran, and checks every round's fetched set and the final seen
set against the reference simulator in ``tests/sim.py``, and every
fetched page's sha1 against its body.
"""

from __future__ import annotations

import glob
import hashlib
import os
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow.parquet as pq

from notjusthtml_searchengine_spark import schemas
from notjusthtml_searchengine_spark.extract import kernels
from notjusthtml_searchengine_spark.functions.sniff import detect_content_type
from notjusthtml_searchengine_spark.plans.rounds import CrawlConfig, CrawlEngine
from notjusthtml_searchengine_spark.plans.state import CrawlState
from notjusthtml_searchengine_spark.sources.corpus import Corpus
from tests.sim import Simulator

from . import common
from .eventlog import EventLog, covered_ms

PHASH_ERROR = schemas.ERROR_CODES["ErrorPerceptualHash"]
MEDIA_SINKS = ("perceptual_hashes", "exif_info")
IMAGE_SUFFIXES = (".png", ".jpg", ".jpeg")


@dataclass(frozen=True)
class Spec:
    # writes pages.parquet, seeds.txt, flaggedWords.csv, robots.parquet
    make_inputs: Callable[[str, int], None]
    # the simulator's corpus for the inputs of (dir, seed)
    reference: Callable[[str, int], Corpus]
    config: dict
    # rounds every run holds; None: the crawl runs until the frontier drains
    min_rounds: int | None


def _engine(spark, spec: Spec, corpus_dir: str, state_dir: str, traced: bool) -> CrawlEngine:
    cfg = CrawlConfig(
        state_dir=state_dir,
        extra={"phase_timings": True} if traced else {},
        **spec.config,
    )
    return CrawlEngine(
        spark,
        pages_path=os.path.join(corpus_dir, "pages.parquet"),
        seeds_path=os.path.join(corpus_dir, "seeds.txt"),
        flagged_path=os.path.join(corpus_dir, "flaggedWords.csv"),
        robots_path=os.path.join(corpus_dir, "robots.parquet"),
        cfg=cfg,
    )


def start_crawl(spark, spec: Spec, corpus_dir: str, state_dir: str,
                traced: bool) -> CrawlEngine:
    """Engine construction and round 0 (the frontier from the seeds):
    everything before the first crawl round."""
    eng = _engine(spark, spec, corpus_dir, state_dir, traced)
    spark.sparkContext.setJobDescription("bootstrap")
    eng.bootstrap()
    spark.sparkContext.setJobDescription(None)
    return eng


def crawl(eng: CrawlEngine, seconds: float, min_rounds: int | None,
          max_rounds: int | None = None) -> dict:
    """Run rounds one at a time until ``seconds`` passed and
    ``min_rounds`` ran (or ``max_rounds`` ran, or the frontier drained)."""
    sc = eng.spark.sparkContext
    rounds: list[dict] = []
    t0 = time.perf_counter()
    r = 1
    while True:
        # jobs the round runs before its own first label
        sc.setJobDescription(f"r{r:05d}:pre")
        ts = time.perf_counter()
        start_ms = time.time() * 1000
        stats = eng.run_round(r)
        ms = (time.perf_counter() - ts) * 1000
        if stats.get("done"):
            break
        rounds.append({"round": r, "ms": ms, "start_ms": start_ms,
                       "end_ms": start_ms + ms, "stats": stats})
        if max_rounds and r >= max_rounds:
            break
        if (min_rounds is not None and r >= min_rounds
                and time.perf_counter() - t0 >= seconds):
            break
        r += 1
    sc.setJobDescription(None)
    return {"rounds": rounds, "wall_s": time.perf_counter() - t0, "engine": eng,
            "pages": sum(x["stats"]["pages_fetched"] for x in rounds)}


def read_pages(inputs_dir: str) -> dict[str, dict]:
    """url -> {html, text} of the corpus (one file or a directory)."""
    t = pq.read_table(os.path.join(inputs_dir, "pages.parquet"),
                      columns=["url", "html", "text"]).to_pydict()
    return {u: {"html": h, "text": x} for u, h, x in zip(t["url"], t["html"], t["text"])}


def is_html(url: str, body: bytes) -> bool:
    """The engine's extraction gate: sniffed HTML, no image suffix."""
    return detect_content_type(body).startswith("text/html") and not url.endswith(IMAGE_SUFFIXES)


def _read(path: str, columns: list[str]) -> dict[str, list]:
    """Columns of a Spark-written parquet directory; a table that got
    no rows has no data files."""
    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    out: dict[str, list] = {c: [] for c in columns}
    for f in files:
        t = pq.read_table(f, columns=columns).to_pydict()
        for c in columns:
            out[c].extend(t[c])
    return out


def _error_urls(path: str) -> set[str]:
    """Urls of an errors sink, less the pHash failures (those pages were
    fetched and also appear in contents)."""
    t = _read(path, ["url", "error_code"])
    return {u for u, c in zip(t["url"], t["error_code"]) if c != PHASH_ERROR}


def _seen_set(state: CrawlState, r: int) -> set[str]:
    out: set[str] = set()
    for rel in state.manifest(r)["stats"]["seen_parts"]:
        out.update(_read(os.path.join(state.root, "rounds", rel), ["url_norm"])["url_norm"])
    return out


def check(reference: Corpus, pages: dict[str, dict], state_dir: str, rounds: list[dict],
          per_host_budget: int | None) -> tuple[int, list[str]]:
    """Failed-round count and messages: each round's fetched set
    (contents + non-pHash errors) and the last round's seen set must
    equal the simulator's, and every contents row's sha1 must be the
    sha1 of the corpus body."""
    state = CrawlState(state_dir)
    sim = Simulator(reference, per_host_budget=per_host_budget).run(max_rounds=len(rounds))
    bad: set[int] = set()
    msgs = []
    for i, x in enumerate(rounds):
        r = x["round"]
        contents = _read(state.table_path(r, "contents"), ["url", "sha1"])
        got = set(contents["url"]) | _error_urls(state.table_path(r, "errors"))
        want = sim.fetched_per_round[i] if i < len(sim.fetched_per_round) else set()
        if got != want:
            bad.add(r)
            msgs.append(f"round {r}: fetched set differs from simulator "
                        f"({len(got - want)} extra, {len(want - got)} missing)")
        wrong = sum(1 for u, h in zip(contents["url"], contents["sha1"])
                    if h != hashlib.sha1(pages[u]["html"]).digest())
        if wrong:
            bad.add(r)
            msgs.append(f"round {r}: {wrong} contents rows whose sha1 is not the body's")
    if rounds:
        last = rounds[-1]["round"]
        seen = _seen_set(state, last)
        if seen != sim.seen:
            bad.add(last)
            msgs.append(f"round {last}: seen set differs from simulator "
                        f"({len(seen - sim.seen)} extra, {len(sim.seen - seen)} missing)")
    return len(bad), msgs


def run(ctx: common.Context, spec: Spec) -> common.Outcome:
    inputs_dir = os.path.join(ctx.work, "inputs")
    state_dir = os.path.join(ctx.work, "state")
    engines: list[CrawlEngine] = []
    setup = common.set_up(
        ctx, inputs_dir, lambda d: spec.make_inputs(d, ctx.seed),
        lambda spark: engines.append(start_crawl(spark, spec, inputs_dir, state_dir, ctx.trace)),
    )
    out = setup.outcome()

    tracer = common.install_tracer() if ctx.trace else None
    probes = _install_probe_counter(setup.session.spark, tracer) if tracer else None
    since_ms = time.time() * 1000
    res = crawl(engines[0], ctx.seconds, spec.min_rounds)
    setup.session.stop()
    if tracer:
        tracer.uninstall()
    rounds = res["rounds"]
    trace_ms = _trace_overhead_ms(tracer, rounds) if tracer else [0.0] * len(rounds)
    out.iterations_ms = [x["ms"] - t for x, t in zip(rounds, trace_ms)]
    out.work_units = res["pages"]
    out.busy_s = res["wall_s"] - sum(trace_ms) / 1000
    out.attempted = len(rounds)
    out.info["rounds"] = [
        {"round": x["round"], "ms": round(x["ms"], 1), "pages": x["stats"]["pages_fetched"],
         "batch": x["stats"]["batch"]} for x in rounds
    ]

    pages = read_pages(inputs_dir)
    failed, msgs = check(spec.reference(inputs_dir, ctx.seed), pages, state_dir, rounds,
                         spec.config.get("per_host_budget"))
    out.failed += failed
    for m in msgs:
        out.fail(m, count=False)

    if ctx.trace:
        log = EventLog(common.event_log_file(ctx), since_ms=since_ms)
        out.layers = _layers(ctx, log, tracer, probes, res, pages, setup, out)
        out.info["phase_table"] = common.phase_rows(log)
        out.layers["scaling.speedup_1_to_n"] = _scaling(ctx, spec, inputs_dir, out.iterations_ms[0])
    return out


# ---------------------------------------------------------------------------
# traced run
def _install_probe_counter(spark, tracer) -> list[dict]:
    """Count bloom negatives on every ``probe_shards`` output, in a job
    of its own labelled ``trace:bloom`` inside a ``trace.count`` span
    (its time is taken out of the round's wall)."""
    from notjusthtml_searchengine_spark.operators import bloom

    probes: list[dict] = []
    fn = bloom.probe_shards
    sc = spark.sparkContext

    def counted(*args, **kwargs):
        df = fn(*args, **kwargs)
        label = sc.getLocalProperty("spark.job.description")
        with tracer.span("trace.count"):
            sc.setJobDescription("trace:bloom")
            counts = {row[0]: row[1] for row in df.groupBy("maybe_seen").count().collect()}
            sc.setJobDescription(label)
        probes.append({"round_label": label, "negative": counts.get(False, 0),
                       "probed": sum(counts.values())})
        return df

    tracer.patch(bloom, "probe_shards", counted)
    return probes


def _trace_overhead_ms(tracer, rounds: list[dict]) -> list[float]:
    counts = tracer.named("trace.count")
    return [
        sum(s.end_ms - s.start_ms for s in counts
            if x["start_ms"] <= s.start_ms <= x["end_ms"])
        for x in rounds
    ]


def _layers(ctx, log: EventLog, tracer, probes, res, pages, setup, out) -> dict:
    rounds = res["rounds"]
    eng = res["engine"]
    state = eng.state
    n = max(len(rounds), 1)
    med = common.median
    L = common.zero_layers()
    L["session.start_ms"] = setup.session.start_s * 1000

    # round phases from the engine's own phase timings
    for key in ("pre_flush", "flush", "counters"):
        L[f"rounds.{key}_ms"] = med([x["stats"]["phase_ms"][key] for x in rounds])
    sinks = sorted({s for x in rounds for s in x["stats"]["sink_ms"]})
    for s in sinks:
        if f"state.sink_ms.{s}" in L:
            # median over the rounds that wrote the sink
            L[f"state.sink_ms.{s}"] = med(
                x["stats"]["sink_ms"][s] for x in rounds if s in x["stats"]["sink_ms"])
    out.info["sinks"] = sinks
    L["media.sink_ms"] = med([sum(x["stats"]["sink_ms"].get(s, 0) for s in MEDIA_SINKS)
                              for x in rounds])
    L["bloom.build_ms"] = med([x["stats"]["sink_ms"].get("bloom", 0) for x in rounds])

    # per-round driver gap, drain time and plan-building time
    jobs = [(j.start_ms, j.end_ms) for j in log.jobs.values()
            if j.end_ms is not None and not (j.label or "").startswith("trace:")]
    builders = [(s.start_ms, s.end_ms) for s in tracer.spans
                if s.name.split(".")[0] in ("crawl_ops", "bloom", "extract")]
    gaps, drains, plans = [], [], []
    for x in rounds:
        lo, hi = x["start_ms"], x["end_ms"]
        gaps.append((hi - lo) - covered_ms(jobs, lo, hi))
        plans.append(covered_ms(builders, lo, hi))
        drains.append(covered_ms(
            [(j.start_ms, j.end_ms) for j in log.jobs.values()
             if j.end_ms is not None and j.label == f"r{x['round']:05d}:drain+stats"], lo, hi))
    L["rounds.driver_gap_ms"] = med(gaps)
    L["rounds.drain_ms"] = med(drains)
    L["rounds.plan_ms"] = med(plans)

    commits = tracer.named("state.commit_round")
    L["state.commit_ms"] = med([s.end_ms - s.start_ms for s in commits])
    gcs = tracer.named("state.gc_state")
    L["state.gc_ms"] = med([s.end_ms - s.start_ms for s in gcs])
    files = bytes_ = 0
    for dirpath, _, names in os.walk(os.path.join(state.root, "rounds")):
        for nm in names:
            files += 1
            bytes_ += os.path.getsize(os.path.join(dirpath, nm))
    L["state.bytes_per_page"] = bytes_ / max(res["pages"], 1)
    L["state.files_per_round"] = files / n

    # crawl_ops counts from the round stats and the lineage metrics sink
    L["crawl_ops.batch_rows"] = med([x["stats"]["batch"] for x in rounds])
    cand, new_seen, skews = [], {}, []
    for x in rounds:
        t = _read(state.table_path(x["round"], "metrics"), ["stage", "rows_out"])
        links = [rows for stage, rows in zip(t["stage"], t["rows_out"]) if stage == "links"]
        new_seen[x["round"]] = sum(
            rows for stage, rows in zip(t["stage"], t["rows_out"]) if stage == "new_seen")
        cand.append(sum(links))
        nz = [v for v in links if v > 0]
        if nz:
            skews.append(max(nz) / statistics.median(nz))
    L["crawl_ops.candidate_rows"] = med(cand)
    # candidate rows come from the lineage sink; 0 when lineage is off
    L["crawl_ops.new_frontier_ratio"] = (
        sum(x["stats"]["new_frontier"] for x in rounds) / sum(cand) if sum(cand) else 0.0)
    L["crawl_ops.partition_skew"] = med(skews)
    drain_skew = []
    for x in rounds:
        label = f"r{x['round']:05d}:drain+stats"
        ids = {sid for j in log.jobs.values() if j.label == label for sid in j.stage_ids}
        stages = [s for s in log.stages_of_phase("drain+stats") if s.stage_id in ids]
        if stages:
            big = max(stages, key=lambda s: len(s.task_run_ms))
            m = statistics.median(big.task_run_ms)
            drain_skew.append(max(big.task_run_ms) / m if m else 1.0)
    L["crawl_ops.drain_task_skew"] = med(drain_skew)

    # bloom probe ratios: negatives / probed; false positives among the
    # truly-new keys (new_seen) = (new - negatives) / new
    neg = sum(p["negative"] for p in probes)
    probed = sum(p["probed"] for p in probes)
    new = sum(new_seen.get(int(p["round_label"][1:6]), 0) for p in probes)
    L["bloom.probe_negative_ratio"] = neg / probed if probed else 0.0
    L["bloom.false_positive_ratio"] = (new - neg) / new if new else 0.0
    out.info["bloom_probes"] = probes

    # extraction: U1 kernel alone vs the fused mapInPandas stage
    fetched = set()
    for x in rounds:
        fetched.update(_read(state.table_path(x["round"], "contents"), ["url"])["url"])
    html_pages = [(u, pages[u]["html"], pages[u]["text"]) for u in sorted(fetched)
                  if is_html(u, pages[u]["html"])]
    u1_s, mismatched = _time_kernels(html_pages)
    if mismatched:
        out.fail(f"U2 visible text differs from the corpus text on {mismatched} pages")
    L["extract.u1_ms_per_page"] = u1_s * 1000 / max(len(html_pages), 1)
    stage_ms = sum(sum(s.task_run_ms) for s in log.stages_with_scope("MapInPandas"))
    L["extract.stage_ms_per_page"] = stage_ms / max(res["pages"], 1)
    if L["extract.stage_ms_per_page"]:
        L["extract.transfer_share"] = 1 - L["extract.u1_ms_per_page"] / L["extract.stage_ms_per_page"]

    common.phase_layers(L, log, n)
    L["trace.round_p50_ms"] = med(out.iterations_ms)
    tracer.dump(os.path.join(ctx.work, "spans.json"))
    return L


def _time_kernels(pages: list[tuple[str, bytes, str]], batch: int = 512) -> tuple[float, int]:
    """U1 (extract_links) over the pages in pandas batches of the Arrow
    batch size, in this process; and the U2 invariant per page."""
    import pandas as pd

    total = 0.0
    for i in range(0, len(pages), batch):
        pdf = pd.DataFrame(pages[i:i + batch], columns=["url", "html", "text"])
        t0 = time.perf_counter()
        for u, h in zip(pdf["url"].tolist(), pdf["html"].tolist()):
            kernels.extract_links(u, h)
        total += time.perf_counter() - t0
    mismatched = sum(1 for u, h, text in pages if kernels.visible_text(h) != text)
    return total, mismatched


def _scaling(ctx, spec: Spec, inputs_dir: str, round1_ms: float) -> float:
    """Report-only, 1 -> nproc on this host: round 1 after set-up in a
    fresh JVM at local[1], over the measured round 1 at local[nproc]."""
    sess = common.start_session(ctx, cores=1)
    try:
        eng = start_crawl(sess.spark, spec, inputs_dir, os.path.join(ctx.work, "state-1"), False)
        one = crawl(eng, 0, None, max_rounds=1)
    finally:
        sess.stop()
    return one["rounds"][0]["ms"] / round1_ms
