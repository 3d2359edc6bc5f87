"""``engine_mix``: the Engine's SQL path beside its write path.

One closed-loop client repeats a scripted cycle on a hybrid store of
``N_ROWS`` rows in three schema generations:

1. ``write_batch`` of ``B`` rows;
2. a query that must return the newest of them (write-to-visible);
3. a burst of ``BURST`` single-row ``write`` calls on the WAL;
4. two cache-missing SQL requests from the rotation
   agg / lookup / range / join (time-window aggregate, ``id =`` point
   lookup, ``timestamp BETWEEN`` slice with LIMIT, ``ev JOIN dim``);
5. an exact repeat of the cycle's cacheable request (result-cache hit);
6. an explicit ``flush``; ``Engine.compact`` every ``M`` cycles.

Each cache miss passes gate -> catalog refresh -> view build ->
``spark.sql`` -> bounded JSON collect. Flush policy: no auto-flush
thread, and the table's ``buffer_size`` is above everything buffered
between two scripted flushes, so rows reach parquet only at the
scripted flush. Each cycle's writes invalidate the table's cached
results, so a read-path cache that goes stale, or that costs the
writers, shows here.
"""

from __future__ import annotations

import json
import os
import time

from .datagen import DAY_US, EV_DAYS, EV_T0_US
from .harness import (
    SETUP_REPS, Outcome, geomean, mean, median, percentile, usage, usage_metrics,
)
from .store import TABLE, Probe, Requests, Store, same_answer

N_ROWS = 1_000_000
N_BUFFERED = 300
B = 200  # rows per write_batch
BURST = 20  # single-row writes per cycle
M = 4  # cycles per compaction; the first tier merges a partition's 5 small files
# Untimed cycles before timing starts: the JVM's JIT compiler threads
# spend ~20 s of CPU over the first ~8 cycles, and requests run up to
# 1.5x slower while they do. A count, not a time, so that a run on a
# slow or contended host is as warm as any other when timing starts.
WARM_CYCLES = 8
TODAY = EV_DAYS  # written rows land on the day after the base data
PAIRS = (("agg", "lookup"), ("range", "join"))  # SQL per cycle, alternating
STEPS = ("write_batch", "visible", "burst", "sql0", "sql1", "repeat", "flush")


def parquet_files(root: str) -> tuple[int, int]:
    """(files, bytes) of the table's parquet data."""
    n = size = 0
    for d, _dirs, files in os.walk(os.path.join(root, TABLE)):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def wal_bytes(engine) -> int:
    wal_dir = os.path.join(engine.meta_root, "_system", "wal")
    return sum(os.path.getsize(os.path.join(wal_dir, f))
               for f in os.listdir(wal_dir) if f.startswith(TABLE + ".wal"))


def run(ctx, spark, restart, out: Outcome) -> None:
    t = time.perf_counter()
    store = Store(ctx, N_ROWS)
    out.detail["setup.build_s"] = store.prepare(spark)
    eng = store.open(spark)
    store.buffer_rows(eng, N_BUFFERED, day=TODAY)
    # one parquet file on today's partition, so every M-th cycle's
    # compaction finds the 5 small files its first tier merges
    eng.flush(TABLE)
    out.detail["setup.load_s"] = time.perf_counter() - t - out.detail["setup.build_s"]

    opens = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        spark = restart(spark)
        eng = store.open(spark)
        opens.append(time.perf_counter() - t)
    out.e2e["setup_s"] = median(opens)

    reqs = Requests(N_ROWS, ctx.seed, salt=6)
    end_us = EV_T0_US + (TODAY + 1) * DAY_US
    state = {"cycle": 0}
    reads: list[dict] = []  # every SQL answer, checked after the loop

    def cycle(probe: Probe | None) -> dict:
        """One scripted cycle, every step timed; ``probe`` traces it."""
        state["cycle"] += 1
        c = state["cycle"]
        base_us = EV_T0_US + TODAY * DAY_US + c * 60_000_000
        rec: dict = {"layers": {}, "errors": []}

        def step(name, fn, *args):
            try:
                if probe is None:
                    t0 = time.perf_counter()
                    res = fn(*args)
                    rec[name] = time.perf_counter() - t0
                else:
                    wal0, files0 = wal_bytes(eng), parquet_files(store.root)
                    res, rec[name], layers = probe.call(fn, *args)
                    layers["wal_bytes"] = wal_bytes(eng) - wal0
                    layers["files"] = (files0, parquet_files(store.root))
                    rec["layers"][name] = layers
                return res
            except Exception as exc:  # noqa: BLE001 - counted, the run goes on
                rec["errors"].append(f"{name}: {exc!r}")
                rec[name] = None
                return None

        def sql_step(name, kind, sql):
            hits0 = eng.cache.hits
            res = step(name, eng.query_full, sql)
            reads.append({"kind": kind, "sql": sql, "hit": eng.cache.hits - hits0,
                          "json": res.json if res is not None else None,
                          "acked": len(store.acked), "wall": rec[name]})
            return res

        n0 = len(store.acked)
        keys = [(f"w{c:05d}b{i:04d}", base_us + i) for i in range(B)]
        step("write_batch", store.write_batch, eng, keys)
        newest = keys[-1][0]
        res = step("visible", eng.query_full,
                   f"SELECT id, amount FROM {TABLE} WHERE id = '{newest}'")
        if res is not None and rec["write_batch"] is not None:
            want = {"id": newest, "amount": store.acked[n0 + B - 1][2]["amount"]}
            rec["visible_ok"] = json.loads(res.json) == [want]
        burst = [(f"w{c:05d}r{i:04d}", base_us + B + i) for i in range(BURST)]
        step("burst", store.write_rows, eng, burst)
        cacheable = None
        for i, kind in enumerate(PAIRS[c % 2]):
            sql = reqs.agg(end_us=end_us) if kind == "agg" else reqs.make(kind)
            sql_step(f"sql{i}", kind, sql)
            if kind in ("agg", "join"):
                cacheable = sql
        sql_step("repeat", "repeat", cacheable)
        flushed = step("flush", eng.flush, TABLE)
        rec["rows"] = len(store.acked) - n0
        rec["flushed_ok"] = flushed == rec["rows"]
        if c % M == 0:
            before = parquet_files(store.root)
            stats = step("compact", eng.compact, TABLE)
            rec["compaction"] = {
                "before": before, "after": parquet_files(store.root),
                "bytes": sum(s.get("bytes", 0) for s in stats or [])}
        return rec

    t = time.perf_counter()
    for _ in range(WARM_CYCLES):
        cycle(None)  # warm-up, untimed
    reads.clear()
    out.detail["setup.warm_s"] = time.perf_counter() - t

    def loop(seconds: float, probe: Probe | None) -> tuple[list[dict], float]:
        """Cycles for ``seconds``, ending on an even count so the four
        request types are sampled alike; with a probe, every other cycle
        is traced, so traced and untraced cycles share one stretch of time."""
        done = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or len(done) % len(PAIRS):
            done.append(cycle(probe if len(done) % 2 else None))
        return done, time.perf_counter() - t0

    busy = usage(spark)
    done, loop_s = loop(ctx.seconds, None)
    out.detail.update(usage_metrics(busy, usage(spark), len(done)))
    n_timed_reads = len(reads)
    traced: list[dict] = []
    if ctx.trace:
        probe = Probe(spark, eng)
        try:
            traced, _ = loop(ctx.seconds, probe)
        finally:
            probe.close()

    check(store, eng, spark, done + traced, reads, end_us, out)

    ok = [r for r in done if not r["errors"]]
    timed_reads = [r for r in reads[:n_timed_reads] if r["json"] is not None]
    miss_ms = [r["wall"] * 1000 for r in timed_reads if r["kind"] != "repeat"]
    miss_ms += [r["visible"] * 1000 for r in ok]
    out.e2e["op_p50_ms"] = median(miss_ms)
    out.e2e["op_geomean_ms"] = geomean(miss_ms)
    out.e2e["ops_per_s"] = sum(r["rows"] for r in done) / loop_s
    out.detail.update(detail_metrics(ok, timed_reads))
    if ctx.trace:
        layered = [r for r in traced if r["layers"] and not r["errors"]]
        plain = [r for r in traced if not r["layers"] and not r["errors"]]
        out.layers.update(layer_metrics(layered, store.total_rows(), store.root))
        out.layers["trace.overhead_ms"] = median(read_ms(layered)) - median(read_ms(plain))


def read_ms(cycles: list[dict]) -> list[float]:
    """Walls of the cache-missing reads of ``cycles``, in ms."""
    return [r[s] * 1000 for r in cycles for s in ("visible", "sql0", "sql1")]


def check(store, eng, spark, cycles, reads, end_us, out: Outcome) -> None:
    """Outside the timed loop: step errors, write-to-visible, flush
    counts, the result-cache guard, every SQL answer against DuckDB over
    the generator's rows, and a restart that must count every acked row."""
    for rec in cycles:
        out.attempted += len(STEPS) + ("compaction" in rec)
        for err in rec["errors"]:
            out.fail(err)
        if rec.get("visible") is not None and not rec.get("visible_ok"):
            out.fail("newest row not visible after write_batch")
        if rec.get("flush") is not None and not rec["flushed_ok"]:
            out.fail("flush did not write every buffered row")
    con = store.duck()
    answers = {}
    for r in reads:
        if r["json"] is None:
            continue
        if r["kind"] == "repeat":
            if r["hit"] != 1:
                out.fail("scripted repeat missed the result cache")
            elif r["json"] != answers.get(r["sql"]):
                out.fail("result-cache hit returned another answer")
            continue
        answers[r["sql"]] = r["json"]
        if r["hit"] != 0:
            out.fail(f"{r['kind']} meant to miss hit the result cache")
        store.use_prefix(con, r["acked"])
        if not same_answer(con, r["kind"], r["sql"], r["json"]):
            out.fail(f"{r['kind']} answer differs from DuckDB: {r['sql']}")
    con.close()
    # restart: rows acked but never flushed must come back from the WAL
    keys = [(f"z{i:06d}", end_us - DAY_US // 2 + i) for i in range(B)]
    out.attempted += 1
    try:
        store.write_batch(eng, keys)
        fresh = store.open(spark)
        got = json.loads(fresh.query_full(f"SELECT count(*) AS n FROM {TABLE}").json)
        if got != [{"n": store.total_rows()}]:
            out.fail(f"after restart the table counts {got}, acked {store.total_rows()}")
    except Exception as exc:  # noqa: BLE001
        out.fail(f"restart: {exc!r}")


def detail_metrics(cycles: list[dict], reads: list[dict]) -> dict[str, float]:
    """The workload's own figures, from the untraced loop."""
    if not cycles:
        return {}
    misses = [r for r in reads if r["kind"] != "repeat"]
    m = {
        f"{k}_p50_ms": median([r["wall"] * 1000 for r in misses if r["kind"] == k])
        for k in ("agg", "lookup", "range", "join")
    }
    comp = [r for r in cycles if "compaction" in r]
    m.update({
        "sql_p90_ms": percentile([r["wall"] * 1000 for r in misses], 0.9),
        "sql_misses": float(len(misses)),
        "sql_ops_per_s": len(reads) / sum(r["wall"] for r in reads),
        "cache.hit_ratio": sum(r["hit"] for r in reads) / len(reads),
        "cache.hit_ms": median([r["wall"] * 1000 for r in reads if r["kind"] == "repeat"]),
        "visible_p50_ms": median([(r["write_batch"] + r["visible"]) * 1000 for r in cycles]),
        "flush_p50_ms": median([r["flush"] * 1000 for r in cycles]),
        "row_rows_per_s": BURST * len(cycles) / sum(r["burst"] for r in cycles),
        "batch_rows_per_s": B * len(cycles) / sum(
            r["write_batch"] + r["flush"] + r.get("compact", 0.0) for r in cycles),
        "mixed_read_p50_ms": median([r["wall"] * 1000 for r in misses]),
    })
    if comp:
        m["compaction.ms"] = median([r["compact"] * 1000 for r in comp])
        m["compaction.bytes_rewritten"] = mean([r["compaction"]["bytes"] for r in comp])
        m["compaction.files_before"] = mean([r["compaction"]["before"][0] for r in comp])
        m["compaction.files_after"] = mean([r["compaction"]["after"][0] for r in comp])
    return m


def layer_metrics(cycles: list[dict], total_rows: int, root: str) -> dict[str, float]:
    """Per-layer readings of the traced cycles. Queries are the visible
    query and the two SQL misses; writes are the batch and the burst."""
    if not cycles:
        return {}
    queries = [r["layers"][s] for r in cycles for s in ("visible", "sql0", "sql1")]
    flushes = [r["layers"]["flush"] for r in cycles]
    writes = [r["layers"][s] for r in cycles for s in ("write_batch", "burst")]
    flushed_rows = sum(r["rows"] for r in cycles)
    wal_calls = sum(w["wal_calls"] for w in writes)
    new_files = sum(f["files"][1][0] - f["files"][0][0] for f in flushes)
    new_bytes = sum(f["files"][1][1] - f["files"][0][1] for f in flushes)
    files, size = parquet_files(root)
    considered = sum(x["zm_considered"] for x in queries)
    skipped = sum(x["zm_skipped"] for x in queries)

    def avg(key, xs=queries):
        return mean([x[key] for x in xs])

    return {
        "gate.validate_ms": avg("gate_ms"),
        "catalog.refresh_ms": avg("catalog_ms"),
        "catalog.commits": avg("catalog.commits", flushes),
        "engine.view_build_ms": avg("view_build_ms"),
        "engine.query_df_ms": avg("query_df_ms"),
        "py4j.calls_per_query": avg("py4j"),
        "py4j.calls_per_flush": avg("py4j", flushes),
        "zonemap.files_considered": considered / len(queries),
        "zonemap.files_skipped": skipped / len(queries),
        "zonemap.skip_ratio": skipped / considered if considered else 0.0,
        "zonemap.build_ms": avg("zonemap_build_ms", flushes),
        "fs.list_per_query": avg("fs.list"),
        "fs.read_per_query": avg("fs.read"),
        "fs.list_per_flush": avg("fs.list", flushes),
        "fs.write_per_flush": avg("fs.write", flushes),
        "spark.parse_ms": avg("parse_ms"),
        "spark.analyze_ms": avg("analyze_ms"),
        "spark.optimize_ms": avg("optimize_ms"),
        "spark.plan_ms": avg("plan_ms"),
        "spark.exec_ms": avg("exec_ms"),
        "spark.jobs_per_query": avg("jobs"),
        "spark.stages_per_query": avg("stages"),
        "spark.tasks_per_query": avg("tasks"),
        "plan.exchanges": mean([x.get("plan.exchanges", 0) for x in queries]),
        "plan.broadcast_joins": mean([x.get("plan.broadcast_joins", 0) for x in queries]),
        "plan.sort_merge_joins": mean([x.get("plan.sort_merge_joins", 0) for x in queries]),
        "serialize.rows_out": avg("rows_out"),
        "serialize.bytes_out": avg("bytes_out"),
        "buffer.wal_append_ms": sum(w["wal_ms"] for w in writes) / wal_calls if wal_calls else 0.0,
        "buffer.wal_bytes_per_row": sum(w["wal_bytes"] for w in writes) / (
            (B + BURST) * len(cycles)),
        "flush.jobs": avg("jobs", flushes),
        "flush.files_written": new_files / len(flushes),
        "flush.bytes_per_row": new_bytes / flushed_rows if flushed_rows else 0.0,
        "store.bytes_per_row": size / total_rows,
        "store.files": float(files),
    }
