"""The Engine store both Engine workloads run against, the SQL they
send, the DuckDB answers they are checked against, and the per-request
layer readings of the traced run."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import trace
from .datagen import (
    DAY_US, EV_DAYS, EV_T0_US, EventRows, dim_table, payload, ts_literal,
    written_table,
)
from .harness import canon

TABLE = "ev"
DIM = "dim"
BUFFER_SIZE = 10_000  # above every scripted write burst: no size-triggered flush
CHECK_COLS = ("id", "timestamp", "page_id", "event_type", "amount")
# The base rows do not vary with --seed: the store is built once per
# checkout and program version, then copied for every run. What a run
# writes, buffers and asks is drawn from --seed.
BASE_SEED = 0


def source_hash(root: str) -> str:
    """Digest of the program's sources and the store's build code, so a
    cached store is never reused across program versions."""
    h = hashlib.sha1()
    files = [os.path.join(root, "perfbench", f) for f in ("datagen.py", "store.py")]
    for d, _dirs, names in os.walk(os.path.join(root, "miniodb_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _link_data(src: str, dst: str) -> None:
    """Hard-link parquet data files, which the Engine never changes in
    place, and copy everything else (catalog, WAL, zone maps), which it
    appends to or rewrites."""
    if src.endswith(".parquet"):
        os.link(src, dst)
    else:
        shutil.copy2(src, dst)


class Store:
    """An ``ev`` store of ``n_rows`` rows in three generations plus a
    ``dim`` table, copied into the run's work directory, and the rows
    the run acks through the write API."""

    def __init__(self, ctx, n_rows: int):
        self.n_rows = n_rows
        self.cache = os.path.join(
            ctx.root, ".perfbench_work", "cache", f"ev{n_rows}-{source_hash(ctx.root)}")
        self.root = os.path.join(ctx.work, "store")
        self.rng = np.random.default_rng([ctx.seed, 3])
        # rows acked through the write API, in ack order: (id, ts_us, payload)
        self.acked: list[tuple[str, int, dict]] = []

    def prepare(self, spark) -> float:
        """Copy the base store into the work directory, building it
        first if this checkout has none; returns the build seconds."""
        took = 0.0
        if not os.path.isdir(self.cache):
            t0 = time.perf_counter()
            tmp = f"{self.cache}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            self._build(spark, tmp)
            try:
                os.rename(tmp, self.cache)
            except OSError:  # built by a concurrent run meanwhile
                shutil.rmtree(tmp, ignore_errors=True)
            took = time.perf_counter() - t0
        shutil.copytree(os.path.join(self.cache, "store"), self.root, copy_function=_link_data)
        return took

    def _build(self, spark, dst: str) -> None:
        from miniodb_spark.catalog import TableConfig
        from miniodb_spark.engine import Engine

        inputs = os.path.join(dst, "inputs")
        os.makedirs(inputs)
        for g, part in enumerate(EventRows(self.n_rows, BASE_SEED).generations()):
            pq.write_table(part, os.path.join(inputs, f"ev_gen{g}.parquet"))
        pq.write_table(dim_table(), os.path.join(inputs, "dim.parquet"))
        eng = Engine(spark, os.path.join(dst, "store"))
        eng.create_table(TABLE, TableConfig(name=TABLE, buffer_size=BUFFER_SIZE))
        eng.create_table(DIM, TableConfig(name=DIM))
        for g in range(3):
            eng.ingest_dataframe(
                TABLE, spark.read.parquet(os.path.join(inputs, f"ev_gen{g}.parquet")))
        eng.ingest_dataframe(DIM, spark.read.parquet(os.path.join(inputs, "dim.parquet")))

    def open(self, spark):
        from miniodb_spark.engine import Engine

        return Engine(spark, self.root)

    # -- the write API ------------------------------------------------------

    def records(self, keys: list[tuple[str, int]]) -> list[tuple[str, int, dict]]:
        return [(rid, ts, payload(self.rng)) for rid, ts in keys]

    def write_batch(self, eng, keys: list[tuple[str, int]]) -> float:
        recs = self.records(keys)
        t0 = time.perf_counter()
        eng.write_batch(TABLE, [
            {"id": rid, "timestamp_us": ts, "payload": p} for rid, ts, p in recs])
        dt = time.perf_counter() - t0
        self.acked.extend(recs)
        return dt

    def write_rows(self, eng, keys: list[tuple[str, int]]) -> float:
        recs = self.records(keys)
        t0 = time.perf_counter()
        for rid, ts, p in recs:
            eng.write(TABLE, p, record_id=rid, timestamp_us=ts)
        dt = time.perf_counter() - t0
        self.acked.extend(recs)
        return dt

    def buffer_rows(self, eng, n: int, day: int) -> None:
        """Ack ``n`` rows on ``day`` and leave them in the write buffer."""
        t0 = EV_T0_US + day * DAY_US
        self.write_batch(eng, [(f"b{i:08d}", t0 + i * 1_000_000) for i in range(n)])

    def total_rows(self) -> int:
        return self.n_rows + len(self.acked)

    # -- answers --------------------------------------------------------------

    def duck(self):
        """DuckDB over the generator's own rows: the base rows, the
        acked rows (with their ack order ``seq``) and ``dim``."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        files = ", ".join(
            f"'{os.path.join(self.cache, 'inputs', f'ev_gen{g}.parquet')}'" for g in range(3))
        acked = written_table(self.acked)
        acked = acked.append_column("seq", pa.array(range(acked.num_rows), type=pa.int64()))
        con.register("acked_rows", acked)
        con.register("dim_rows", dim_table())
        con.execute(
            "CREATE VIEW base_rows AS SELECT id, CAST(timestamp AS TIMESTAMP) AS timestamp, "
            f"page_id, event_type, amount FROM read_parquet([{files}], union_by_name = true)")
        con.execute(f"CREATE VIEW {DIM} AS SELECT * EXCLUDE (timestamp) FROM dim_rows")
        return con

    @staticmethod
    def use_prefix(con, n_acked: int) -> None:
        """Point view ``ev`` at the base rows plus the first ``n_acked``
        acked rows."""
        cols = ", ".join(CHECK_COLS)
        con.execute(
            f"CREATE OR REPLACE VIEW {TABLE} AS SELECT {cols} FROM base_rows "
            f"UNION ALL SELECT {cols} FROM acked_rows WHERE seq < {int(n_acked)}")


def same_answer(con, kind: str, sql: str, result_json: str) -> bool:
    """Does the Engine's JSON answer to ``sql`` match DuckDB's?"""
    got = json.loads(result_json)
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    want = [dict(zip(cols, r)) for r in res.fetchall()]
    if kind == "range":
        # ordered: ids and amounts in order
        return [(r["id"], r["amount"]) for r in got] == \
            [(r["id"], r["amount"]) for r in want]
    if kind == "lookup":
        keys = ("id", "event_type", "page_id", "amount")
        return canon([[r.get(k) for k in keys] for r in got], keys) == \
            canon([[r[k] for k in keys] for r in want], keys)
    keys = tuple(cols)
    return canon([[r.get(k) for k in keys] for r in got], keys) == \
        canon([[r[k] for k in keys] for r in want], keys)


class Requests:
    """SQL of the four request types. Every literal is drawn from a
    continuous domain (microsecond window bounds, ids without
    replacement) and checked against the run's history, so a request
    meant to miss the result cache can never repeat an earlier one."""

    def __init__(self, n_rows: int, seed: int, salt: int):
        self.rng = np.random.default_rng([seed, salt])
        self.ids = self.rng.permutation(n_rows)
        self.next_id = 0
        self.seen: set[str] = set()
        self.span_us = EV_DAYS * DAY_US

    def _window(self, lo_us: int, hi_us: int, end_us: int | None = None) -> tuple[str, str]:
        end = end_us or EV_T0_US + self.span_us
        a = EV_T0_US + int(self.rng.integers(0, end - EV_T0_US - lo_us))
        b = a + int(self.rng.integers(lo_us, hi_us))
        return ts_literal(a), ts_literal(b)

    def _fresh(self, make) -> str:
        while True:
            sql = make()
            if sql not in self.seen:
                self.seen.add(sql)
                return sql

    def agg(self, end_us: int | None = None) -> str:
        def make():
            a, b = self._window(6 * 3600 * 10**6, 3 * DAY_US, end_us)
            return (f"SELECT event_type, count(*) AS n, sum(amount) AS s FROM {TABLE} "
                    f"WHERE timestamp >= TIMESTAMP '{a}' AND timestamp < TIMESTAMP '{b}' "
                    "GROUP BY event_type ORDER BY event_type")
        return self._fresh(make)

    def lookup(self) -> str:
        def make():
            i = int(self.ids[self.next_id % len(self.ids)])
            self.next_id += 1
            return f"SELECT * FROM {TABLE} WHERE id = 'e{i:09d}'"
        return self._fresh(make)

    def range(self) -> str:
        def make():
            a, b = self._window(60 * 10**6, 3600 * 10**6)
            return (f"SELECT id, timestamp, amount FROM {TABLE} "
                    f"WHERE timestamp BETWEEN TIMESTAMP '{a}' AND TIMESTAMP '{b}' "
                    "ORDER BY timestamp, id LIMIT 50")
        return self._fresh(make)

    def join(self) -> str:
        def make():
            a, b = self._window(6 * 3600 * 10**6, 3 * DAY_US)
            return (f"SELECT d.category, count(*) AS n, sum(e.amount) AS s "
                    f"FROM {TABLE} e JOIN {DIM} d ON e.page_id = d.dkey "
                    f"WHERE e.timestamp >= TIMESTAMP '{a}' AND e.timestamp < TIMESTAMP '{b}' "
                    "GROUP BY d.category ORDER BY d.category")
        return self._fresh(make)

    def make(self, kind: str) -> str:
        return {"agg": self.agg, "lookup": self.lookup,
                "range": self.range, "join": self.join}[kind]()


class Probe:
    """Traced-run readings around one Engine call: spans by layer, py4j
    and fs counts, Spark jobs/stages/tasks under a per-request job
    group, and the QueryPlanningTracker phases of the executed Dataset."""

    def __init__(self, spark, engine):
        self.spark = spark
        self.engine = engine
        self.tracer = trace.Tracer()
        trace.count_py4j(self.tracer, spark)
        trace.instrument_engine(self.tracer, engine)
        trace.capture_executed(self.tracer, type(spark.range(1)))
        self.req = 0

    def close(self) -> None:
        self.tracer.restore()

    def call(self, fn, *args, **kwargs):
        """Run ``fn`` traced; return ``(result, wall_s, readings)``."""
        tr = self.tracer
        self.req += 1
        group = f"perfbench-{self.req}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        tr.results = {}
        tr.last.clear()
        before = dict(tr.counts)
        version = self.engine.catalog.current_version(TABLE)
        tr.request, tr.active = self.req, True
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        finally:
            wall = time.perf_counter() - t0
            tr.active = False
        delta = {k: v - before.get(k, 0) for k, v in tr.counts.items()}
        js = getattr(out, "json", None)
        tot = tr.totals(self.req)
        r = {
            "py4j": delta.get("py4j", 0),
            "fs.list": delta.get("fs.list", 0),
            "fs.read": delta.get("fs.read", 0),
            "fs.write": delta.get("fs.write", 0),
            "catalog.commits": self.engine.catalog.current_version(TABLE) - version,
            "gate_ms": tot.get("gate", 0.0) * 1000,
            "catalog_ms": tot.get("catalog.refresh", 0.0) * 1000,
            "query_df_ms": tot.get("engine.query_df", 0.0) * 1000,
            "query_full_ms": tot.get("engine.query_full", 0.0) * 1000,
            "cache_ms": (tot.get("cache.get", 0.0) + tot.get("cache.put", 0.0)) * 1000,
            "view_build_ms": tr.view_build(self.req) * 1000,
            "zonemap_build_ms": tot.get("zonemap.build", 0.0) * 1000,
            "wal_ms": tot.get("wal.append", 0.0) * 1000,
            "wal_calls": tr.calls("wal.append", self.req),
            "rows_out": len(json.loads(js)) if js else 0,
            "bytes_out": len(js.encode()) if js else 0,
        }
        r["jobs"], r["stages"], r["tasks"] = trace.job_counts(sc, group)
        considered = skipped = 0
        for name in ("engine.point_lookup_df", "engine.multi_range_lookup_df"):
            for res in tr.results.get(name, []):
                considered += res[1].get("files_total", 0)
                skipped += res[1].get("files_skipped", 0)
        r["zm_considered"], r["zm_skipped"] = considered, skipped
        sql_dfs = tr.results.get("spark.sql", [])
        executed = tr.last.get("executed")
        phases = {}
        if sql_dfs:
            phases = {f"sql.{k}": v for k, v in trace.tracker_phases(sql_dfs[-1]._jdf).items()}
        if executed is not None:
            # the QueryExecution that ran is private to the Dataset that
            # toJSON made; plan that Dataset again, after the timed call,
            # to read the optimizer and planner phases and the plan shape
            executed.queryExecution().executedPlan()
            phases.update({f"exec.{k}": v for k, v in trace.tracker_phases(executed).items()})
            r.update({f"plan.{k}": v for k, v in trace.plan_counts(executed).items()})
        r["parse_ms"] = phases.get("sql.parsing", 0.0)
        r["analyze_ms"] = phases.get("sql.analysis", 0.0) + phases.get("exec.analysis", 0.0)
        r["optimize_ms"] = phases.get("exec.optimization", 0.0)
        r["plan_ms"] = phases.get("exec.planning", 0.0)
        # execution + collect: the query_full time outside query_df and
        # the cache, less the optimizer and planner that ran in it
        r["exec_ms"] = max(0.0, r["query_full_ms"] - r["query_df_ms"] - r["cache_ms"]
                           - r["optimize_ms"] - r["plan_ms"])
        return out, wall, r
