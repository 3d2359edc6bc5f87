#!/usr/bin/env python3
"""Benchmark of the miniodb_spark checkout this file sits in.

    python3 perfbench/run.py --workload engine_mix --seed 1 --seconds 15 --trace 0

Runs one workload (``analytic_suite`` or ``engine_mix``) on ``local[<cores>]`` as one closed-loop client,
checks every answer it timed, prints a report, and prints as its last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``). Inputs come from
``--seed`` only; all files go to ``.perfbench_work/`` in the checkout
and are removed at exit. See ``perfbench/WORKLOADS.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.analytic import SUITE  # noqa: E402
DEADLINE_S = 170  # a run must end within 180 s

E2E = {
    "setup_s": "s",
    "ok_share": "share",
    "op_p50_ms": "ms",
    "op_geomean_ms": "ms",
    "ops_per_s": "1/s",
}


LAYERS = {
    # the workloads' own figures, measured untraced
    "suite_wall_s": "s", "suite_geomean_s": "s",
    "agg_p50_ms": "ms", "lookup_p50_ms": "ms", "range_p50_ms": "ms",
    "join_p50_ms": "ms", "sql_p90_ms": "ms", "sql_misses": "count",
    "sql_ops_per_s": "1/s",
    "visible_p50_ms": "ms", "flush_p50_ms": "ms", "row_rows_per_s": "1/s",
    "batch_rows_per_s": "1/s", "mixed_read_p50_ms": "ms",
    "setup.inputs_s": "s", "setup.build_s": "s", "setup.load_s": "s",
    "peak_rss_mb": "MB",
    "cpu.driver_ms_per_op": "ms", "cpu.jvm_ms_per_op": "ms", "jvm.gc_ms_per_op": "ms",
    "host.steal_share": "share",
    # layers
    "gate.validate_ms": "ms",
    "cache.hit_ratio": "share", "cache.hit_ms": "ms",
    "catalog.refresh_ms": "ms", "catalog.commits": "count",
    "engine.view_build_ms": "ms", "engine.query_df_ms": "ms",
    "py4j.calls_per_query": "count", "py4j.calls_per_flush": "count",
    "zonemap.files_considered": "count", "zonemap.files_skipped": "count",
    "zonemap.skip_ratio": "share", "zonemap.build_ms": "ms",
    "fs.list_per_query": "count", "fs.read_per_query": "count",
    "fs.list_per_flush": "count", "fs.write_per_flush": "count",
    "spark.parse_ms": "ms", "spark.analyze_ms": "ms", "spark.optimize_ms": "ms",
    "spark.plan_ms": "ms", "spark.exec_ms": "ms",
    "spark.jobs_per_query": "count", "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count",
    "plan.exchanges": "count", "plan.broadcast_joins": "count",
    "plan.sort_merge_joins": "count",
    "serialize.rows_out": "count", "serialize.bytes_out": "B",
    "buffer.wal_append_ms": "ms", "buffer.wal_bytes_per_row": "B",
    "flush.jobs": "count", "flush.files_written": "count", "flush.bytes_per_row": "B",
    "compaction.ms": "ms", "compaction.bytes_rewritten": "B",
    "compaction.files_before": "count", "compaction.files_after": "count",
    "store.bytes_per_row": "B", "store.files": "count",
    "trace.overhead_ms": "ms",
    **{f"queries.{n}_s": "s" for n in SUITE},
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["analytic_suite", "engine_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _terminated(signum, frame):
    raise SystemExit(f"terminated by signal {signum}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "miniodb_spark", "engine.py")):
        print(f"perfbench: no miniodb_spark package in {ROOT}; run it from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM spark-submit starts to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    signal.signal(signal.SIGALRM, _deadline)
    signal.signal(signal.SIGTERM, _terminated)
    signal.alarm(DEADLINE_S)

    from perfbench import harness

    ctx = harness.Context(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), root=ROOT, work=work,
        cpus=len(os.sched_getaffinity(0)))
    out = harness.Outcome()
    try:
        if args.workload == "analytic_suite":
            from perfbench.analytic import run
        else:
            from perfbench.enginemix import run
        spark = harness.start_spark(ctx)
        run(ctx, spark, lambda s: harness.restart_spark(ctx, s), out)
        out.detail["peak_rss_mb"] = harness.peak_rss_mb()
    except BaseException:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        harness.shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)

    out.e2e["ok_share"] = 1.0 - out.failed / max(1, out.attempted)
    for what in out.wrong:
        print(f"WRONG {what}")
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} cores={ctx.cpus}")
    for name, unit in E2E.items():
        print(f"{name:28s} {out.e2e[name]:14.4f} {unit}")
    for name in sorted(out.detail):
        print(f"{name:28s} {out.detail[name]:14.4f} {LAYERS.get(name, '')}")
    if args.trace:
        values = {**out.detail, **out.layers}
        metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in LAYERS.items()}
    else:
        metrics = {n: {"value": float(out.e2e[n]), "unit": u} for n, u in E2E.items()}
    print(json.dumps({
        "correct": out.failed == 0 and out.attempted > 0,
        "attempted": max(1, out.attempted),
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
