"""queries: the analytic workload, with no crawl loop.

Repeated passes over the eight query leaves ``bench.py`` times, from
``__spark_entry__.queries()``, in one session, on seeded tables of the
scale-factor-0.1 shape (``tables.py``). A crawl-layer change should
leave it unchanged; a session-wide setting shows here. Each leaf's
rows are collected and, after the measured window, compared with its
DuckDB oracle through the compare in ``scripts/check_oracle.py``.
"""

from __future__ import annotations

import os
import time

import duckdb

import __spark_entry__ as entry
from scripts.check_oracle import rows_key

from . import common, tables
from .eventlog import EventLog

# a median over one pass would be that pass alone
MIN_PASSES = 2


def _pass(spark, sf_dir: str, label: str | None = None) -> list[dict]:
    """One closed-loop pass: each leaf runs to completion before the next."""
    qs = entry.queries()
    sc = spark.sparkContext
    out = []
    for name in common.LEAVES:
        sc.setJobDescription(label or f"q:{name}")
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, sf_dir)
            rows, cols, error = df.collect(), df.columns, None
        except Exception as e:  # a failing leaf is counted, not fatal
            rows, cols, error = None, None, f"{type(e).__name__}: {e}"
        out.append({"leaf": name, "ms": (time.perf_counter() - t0) * 1000,
                    "rows": rows, "cols": cols, "error": error})
    sc.setJobDescription(None)
    return out


def _oracle(sf_dir: str, names: list[str]) -> dict[str, tuple[list[str], list]]:
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in names:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        expected = {}
        for leaf in common.LEAVES:
            if leaf in oracles:
                rel = con.sql(oracles[leaf])
                rows = rel.fetchall()
                cols = [c[0] for c in rel.description]
                expected[leaf] = (sorted(cols), rows_key(rows, cols))
        return expected
    finally:
        con.close()


def check(sf_dir: str, names: list[str], passes: list[list[dict]], out: common.Outcome) -> None:
    expected = _oracle(sf_dir, names)
    for i, p in enumerate(passes):
        for q in p:
            leaf = q["leaf"]
            if q["error"]:
                out.fail(f"pass {i} {leaf}: {q['error'][:300]}")
            elif leaf in expected:
                cols, key = expected[leaf]
                if sorted(q["cols"]) != cols or rows_key(q["rows"], q["cols"]) != key:
                    out.fail(f"pass {i} {leaf}: rows differ from the DuckDB oracle")
            elif not q["rows"]:
                out.fail(f"pass {i} {leaf}: no rows")


def run(ctx: common.Context) -> common.Outcome:
    sf_dir = os.path.join(ctx.work, "inputs")
    names: list[str] = []

    def make_inputs(d: str) -> None:
        names[:] = tables.generate(d, ctx.seed)

    def warm_up(spark) -> None:
        # the cold pass: JIT, Python workers, file listing caches
        _pass(spark, sf_dir, label="warm-up")

    setup = common.set_up(ctx, sf_dir, make_inputs, warm_up)
    out = setup.outcome()

    spark = setup.session.spark
    passes = []
    since_ms = time.time() * 1000
    t0 = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < ctx.seconds:
        passes.append(_pass(spark, sf_dir))
    setup.session.stop()

    leaf_runs = [q for p in passes for q in p]
    out.iterations_ms = [sum(q["ms"] for q in p) for p in passes]
    out.work_units = sum(1 for q in leaf_runs if not q["error"])
    out.busy_s = sum(q["ms"] for q in leaf_runs) / 1000
    out.attempted = len(leaf_runs)
    out.info["passes_ms"] = [{q["leaf"]: round(q["ms"]) for q in p} for p in passes]
    out.info["leaf_median_sum_ms"] = sum(common.median(q["ms"] for q in leaf_runs if q["leaf"] == l) for l in common.LEAVES)
    check(sf_dir, names, passes, out)

    if ctx.trace:
        log = EventLog(common.event_log_file(ctx), since_ms=since_ms)
        L = common.zero_layers()
        L["session.start_ms"] = setup.session.start_s * 1000
        for leaf in common.LEAVES:
            L[f"queries.{leaf}_ms"] = common.median(q["ms"] for q in leaf_runs if q["leaf"] == leaf)
        common.phase_layers(L, log, len(passes))
        L["trace.round_p50_ms"] = common.median(out.iterations_ms)
        out.layers = L
        out.info["phase_table"] = common.phase_rows(log)
    return out
