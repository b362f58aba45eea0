"""Crawl-engine benchmark: one workload, one seed, one result line.

    python3 crawlbench/run.py --workload crawl-polite --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads:

  crawl-bulk    a full frontier drain, throughput configuration (bulk.py)
  crawl-polite  the round driver under a per-host budget (polite.py)
  queries       the eight timed query leaves, no crawl loop (queries.py)

Each run sizes Spark from the host (``local[nproc]``, heap at most
0.6 x MemTotal), makes its inputs from ``--seed`` (three times, which
must agree), starts Spark, drives the workload as a closed loop from
this one process for ``--seconds``, checks the outputs, and prints one
JSON object as the last line of stdout. With ``--trace 0``
its metrics are the end-to-end ones; with ``--trace 1`` the run turns
on the Spark event log, the engine's phase timings and spans around
calls into the package, and reports the per-layer metrics instead.
The lines before it give the host shape, per-iteration detail, driver
ERROR lines by class and, when traced, the event-log phase table.
``METRICS.md`` defines every metric.

Everything the run writes stays under ``.crawlbench_work/`` in the
checkout. Exit status: 0 when every output check passed, 1 when one
failed (the result line is still printed), 2 when the benchmark could
not run at all.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl-bulk", "crawl-polite", "queries")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    # Spark's Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        from crawlbench import bulk, common, host, polite, queries
    except ImportError as e:
        print(f"crawlbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".crawlbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = host.nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    ctx = common.Context(work, args.seed, args.seconds, bool(args.trace), cores)
    workload = {"crawl-bulk": bulk, "crawl-polite": polite, "queries": queries}[args.workload]

    log = host.DriverLog(os.path.join(work, "driver.log"))
    try:
        with host.MemorySampler() as mem:
            out = workload.run(ctx)
    except Exception:
        traceback.print_exc(file=log.stderr)
        log.stderr.flush()
        return 2
    finally:
        log.close()
        host.reap_children()

    errors = host.driver_errors(log.path)
    if args.trace:
        metrics = dict(out.layers)
        metrics["session.driver_error_lines"] = float(sum(errors.values()))
        units = {k: u for k, (u, _) in common.PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": out.setup_s,
            "round_p50_ms": common.median(out.iterations_ms),
            "work_per_s": out.work_units / out.busy_s if out.busy_s else 0.0,
            "peak_pss_mb": mem.peak / (1 << 20),
        }
        units = common.END_TO_END
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host.host_shape(),
        "iterations": len(out.iterations_ms),
        "driver_errors": dict(errors),
        "messages": out.messages,
        **out.info,
    }
    phases = info.pop("phase_table", None)
    print(json.dumps(info))
    if phases:
        from crawlbench.eventlog import format_table

        print(format_table(phases))
    correct = out.failed == 0 and not out.messages
    print(json.dumps({
        "correct": correct,
        "attempted": max(out.attempted, 1),
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
