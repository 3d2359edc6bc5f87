"""``analytic_suite``: the registry's 22 TPC-H queries and the 16 other
headline queries, run serially through ``registry[name].fn(spark,
dir).collect()``. Catalyst planning, execution and the operator plans
do all the work; the Engine's gate, catalog, view build, cache and
buffer do none, so an Engine-driver change should not move it.
"""

from __future__ import annotations

import itertools
import os
import time
from concurrent.futures import ThreadPoolExecutor

from . import trace
from .datagen import STAR_TABLES, write_star_schema
from .harness import SETUP_REPS, Outcome, canon, geomean, mean, median, usage, usage_metrics

SF = 0.01
SUITE = [
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_priority_exists", "q5_local_supplier_volume", "q6_forecast_revenue",
    "q7_volume_shipping", "q8_market_share", "q9_profit_by_nation_year",
    "q10_returned_items", "q11_important_parts", "q12_late_priority_lines",
    "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_part_supplier_variety", "q17_small_quantity_revenue",
    "q18_large_volume_customers", "q19_disjunctive_brackets",
    "q20_promo_part_suppliers", "q21_waiting_suppliers", "q22_idle_high_balance",
    # the bench.py headline queries that are not TPC-H
    "agg_global", "agg_count_distinct", "filter_in_between_like",
    "join_inner_agg", "join_multiway_region", "join_left_count",
    "cte_revenue", "window_row_number_topn", "sessionize_30min",
    "sort_limit_topk", "date_trunc_month", "json_extract_props",
    "dedup_exact_groups", "dedup_minhash_lsh", "text_stats_by_lang",
    "embedding_cosine_topk",
]
LSH = "dedup_minhash_lsh"


def lsh_pairs(spark, data_dir: str):
    """The MinHash+LSH pair pipeline itself, signatures recomputed on
    every call (the registry entry is a recall self-check instead)."""
    from pyspark.sql import functions as F

    from miniodb_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures

    docs = spark.read.parquet(os.path.join(data_dir, "documents.parquet"))
    return minhash_lsh_pairs(minhash_signatures(docs)).filter(F.col("jaccard_est") >= 0.5)


def run(ctx, spark, restart, out: Outcome) -> None:
    from miniodb_spark.queries import get_registry

    data = os.path.join(ctx.work, "star")
    t = time.perf_counter()
    write_star_schema(data, SF, ctx.seed)
    out.detail["setup.inputs_s"] = time.perf_counter() - t

    opens = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        spark = restart(spark)
        registry = get_registry()
        opens.append(time.perf_counter() - t)
    out.e2e["setup_s"] = median(opens)

    names = SUITE
    fns = {n: registry[n].fn for n in names}
    fns[LSH] = lsh_pairs

    def execute(name):
        """Build and collect one query; returns (df, rows, wall_s)."""
        t0 = time.perf_counter()
        df = fns[name](spark, data)
        rows = df.collect()
        wall = time.perf_counter() - t0
        return df, rows, wall

    # cold pass: untimed warm-up (code generation, JIT, file listings),
    # run ``cpus`` queries at a time to keep set-up short, beside the
    # registry's LSH recall self-check; every answer is checked
    t = time.perf_counter()
    results: dict[str, list] = {n: [] for n in names}
    with ThreadPoolExecutor(max_workers=ctx.cpus) as pool:
        recall = pool.submit(lambda: [tuple(r) for r in registry[LSH].fn(spark, data).collect()])
        futures = {name: pool.submit(execute, name) for name in names}
        for name, fut in futures.items():
            out.attempted += 1
            try:
                df, rows, _ = fut.result()
                results[name].append((df.columns, rows))
            except Exception as exc:  # noqa: BLE001
                out.fail(f"{name}: {exc!r}")
        out.attempted += 1
        try:
            if recall.result() != [(True,)]:
                out.fail(f"{LSH} recall self-check returned {recall.result()}")
        except Exception as exc:  # noqa: BLE001
            out.fail(f"{LSH} recall self-check: {exc!r}")
    out.detail["setup.load_s"] = time.perf_counter() - t

    walls: dict[str, list[float]] = {n: [] for n in names}
    busy = usage(spark)
    t_loop = time.perf_counter()
    n_exec = 0
    # suite order, round robin, until every query ran once and
    # ``seconds`` have passed (a pass takes about as long as a run measures)
    order = itertools.cycle(names)
    while n_exec < len(names) or time.perf_counter() - t_loop < ctx.seconds:
        name = next(order)
        out.attempted += 1
        n_exec += 1
        try:
            df, rows, wall = execute(name)
        except Exception as exc:  # noqa: BLE001
            out.fail(f"{name}: {exc!r}")
            continue
        walls[name].append(wall)
        results[name].append((df.columns, rows))
    loop_s = time.perf_counter() - t_loop
    out.detail.update(usage_metrics(busy, usage(spark), n_exec))

    per_query = {n: median(w) for n, w in walls.items() if w}
    out.e2e["op_p50_ms"] = median(list(per_query.values())) * 1000
    out.e2e["op_geomean_ms"] = geomean(list(per_query.values())) * 1000
    out.e2e["ops_per_s"] = n_exec / loop_s

    out.detail["suite_wall_s"] = sum(per_query.values())
    out.detail["suite_geomean_s"] = geomean(list(per_query.values()))
    for n, v in per_query.items():
        out.detail[f"queries.{n}_s"] = v
    if ctx.trace:
        out.layers.update(traced_pass(spark, names, execute, results, per_query, out))

    check(registry, data, names, results, out)


def traced_pass(spark, names, execute, results, per_query, out) -> dict[str, float]:
    """One more pass with py4j counting, job groups, planner phases and
    final-plan shapes read per query."""
    tracer = trace.Tracer()
    trace.count_py4j(tracer, spark)
    sc = spark.sparkContext
    rows_out = bytes_out = 0
    per: list[dict] = []
    plan_tot = {"exchanges": 0, "broadcast_joins": 0, "sort_merge_joins": 0}
    traced_walls = {}
    try:
        for i, name in enumerate(names):
            group = f"perfbench-suite-{i}"
            sc.setJobGroup(group, group)
            before = tracer.counts["py4j"]
            try:
                df, rows, wall = execute(name)
            except Exception as exc:  # noqa: BLE001
                out.attempted += 1
                out.fail(f"{name}: {exc!r}")
                continue
            py4j = tracer.counts["py4j"] - before
            out.attempted += 1
            results[name].append((df.columns, rows))
            traced_walls[name] = wall
            ph = trace.tracker_phases(df._jdf)
            jobs, stages, tasks = trace.job_counts(sc, group)
            for k, v in trace.plan_counts(df._jdf).items():
                plan_tot[k] += v
            rows_out += len(rows)
            bytes_out += sum(len(repr(tuple(r))) for r in rows)
            spark_ms = sum(ph.values())
            per.append({
                "py4j": py4j, "jobs": jobs, "stages": stages, "tasks": tasks,
                "parse": ph.get("parsing", 0.0), "analyze": ph.get("analysis", 0.0),
                "optimize": ph.get("optimization", 0.0), "plan": ph.get("planning", 0.0),
                "exec": max(0.0, wall * 1000 - spark_ms),
            })
    finally:
        tracer.restore()
    n = len(names)
    m = {
        "py4j.calls_per_query": mean([p["py4j"] for p in per]),
        "spark.parse_ms": mean([p["parse"] for p in per]),
        "spark.analyze_ms": mean([p["analyze"] for p in per]),
        "spark.optimize_ms": mean([p["optimize"] for p in per]),
        "spark.plan_ms": mean([p["plan"] for p in per]),
        "spark.exec_ms": mean([p["exec"] for p in per]),
        "spark.jobs_per_query": mean([p["jobs"] for p in per]),
        "spark.stages_per_query": mean([p["stages"] for p in per]),
        "spark.tasks_per_query": mean([p["tasks"] for p in per]),
        "serialize.rows_out": rows_out / n,
        "serialize.bytes_out": bytes_out / n,
        "trace.overhead_ms": 1000 * (sum(traced_walls.values()) - sum(
            per_query[k] for k in traced_walls if k in per_query)) / max(1, len(traced_walls)),
    }
    m.update({f"plan.{k}": float(v) for k, v in plan_tot.items()})
    return m


def check(registry, data, names, results, out: Outcome) -> None:
    """Every collected answer against the query's DuckDB oracle over the
    same parquet files, and the LSH pipeline's pairs for shape."""
    import duckdb

    con = duckdb.connect()
    for t in STAR_TABLES:
        path = os.path.join(data, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    for name in names:
        if name == LSH:
            for cols, rows in results[name]:
                bad = [r for r in rows if not (r["id_a"] < r["id_b"] and r["jaccard_est"] >= 0.5)]
                if bad:
                    out.fail(f"{LSH}: malformed pairs {bad[:3]}")
            continue
        if registry[name].oracle is None:
            continue
        res = con.execute(registry[name].oracle)
        want_cols = [d[0] for d in res.description]
        want = canon(res.fetchall(), want_cols)
        for cols, rows in results[name]:
            if sorted(cols) != sorted(want_cols):
                out.fail(f"{name}: columns {cols} vs oracle {want_cols}")
            elif canon([tuple(r) for r in rows], cols) != want:
                out.fail(f"{name}: answer differs from the DuckDB oracle")
    con.close()
