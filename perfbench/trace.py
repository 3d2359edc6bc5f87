"""Spans and counters recorded from outside the program.

The traced run swaps a timing wrapper in for each layer's public
functions, at the place its caller looks the name up (a module
attribute, or an attribute of the one Engine instance). A span records
its name, start, end, parent span and request id; spans stay in memory
until the run ends. Counters (py4j round trips, fs calls) are read as
deltas around each request. Nothing here changes what the program
computes; with ``active`` false every wrapper is a plain pass-through.
"""

from __future__ import annotations

import functools
import re
import time
from collections import Counter, defaultdict

# fs methods by the kind of storage request they stand for
FS_KINDS = {
    "list_files": "list", "list_dirs": "list", "list_files_mtime": "list",
    "read_bytes": "read",
    "write_bytes": "write", "create_bytes_if_absent": "write",
    "move": "write", "copy": "write", "remove_file": "write",
    "remove_dir": "write", "makedirs": "write",
}

# spans subtracted from query_df to leave the view build
NOT_VIEW_BUILD = ("gate", "catalog.refresh", "spark.sql")


class Tracer:
    def __init__(self) -> None:
        self.active = False
        # [name, start, end, parent index, request id]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.request: int | None = None
        self.counts: Counter = Counter()
        # results of the wrapped calls that keep them, by span name
        self.results: dict[str, list] = {}
        self.last: dict = {}
        self._undo: list[tuple[object, str, object, bool]] = []

    # -- wrapping ---------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, keep_result: bool = False) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        fn = getattr(owner, attr)
        had_own = attr in getattr(owner, "__dict__", {})

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            idx = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            self.spans.append([name, time.perf_counter(), None, parent, self.request])
            self._stack.append(idx)
            try:
                out = fn(*args, **kwargs)
                if keep_result:
                    self.results.setdefault(name, []).append(out)
                return out
            finally:
                self._stack.pop()
                self.spans[idx][2] = time.perf_counter()

        self._undo.append((owner, attr, fn, had_own))
        setattr(owner, attr, traced)

    def count_calls(self, owner, attr: str, key: str) -> None:
        """Count calls to ``owner.attr`` under ``key`` (always on)."""
        fn = getattr(owner, attr)
        had_own = attr in getattr(owner, "__dict__", {})
        counts = self.counts

        @functools.wraps(fn)
        def counted(*args, **kwargs):
            counts[key] += 1
            return fn(*args, **kwargs)

        self._undo.append((owner, attr, fn, had_own))
        setattr(owner, attr, counted)

    def restore(self) -> None:
        while self._undo:
            owner, attr, fn, had_own = self._undo.pop()
            if had_own:
                setattr(owner, attr, fn)
            else:
                delattr(owner, attr)

    # -- reading ----------------------------------------------------------

    def request_spans(self, req: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s[4] == req]

    def totals(self, req: int | None = None) -> dict[str, float]:
        """Seconds per span name, counting only the outermost span of
        each name (a recursive call is not counted twice)."""
        idx = range(len(self.spans)) if req is None else self.request_spans(req)
        out: dict[str, float] = defaultdict(float)
        for i in idx:
            s = self.spans[i]
            if not self._has_ancestor_named(i, s[0]):
                out[s[0]] += s[2] - s[1]
        return out

    def calls(self, name: str, req: int | None = None) -> int:
        return sum(1 for s in self.spans
                   if s[0] == name and (req is None or s[4] == req))

    def view_build(self, req: int) -> float:
        """Seconds of ``engine.query_df`` not spent in the gate, the
        catalog refresh or ``spark.sql`` — the temp-view build."""
        kids = defaultdict(list)
        idx = self.request_spans(req)
        for i in idx:
            p = self.spans[i][3]
            if p is not None:
                kids[p].append(i)
        total = 0.0
        for i in idx:
            if self.spans[i][0] != "engine.query_df":
                continue
            sub = 0.0
            todo = list(kids[i])
            while todo:
                j = todo.pop()
                s = self.spans[j]
                if s[0] in NOT_VIEW_BUILD:
                    sub += s[2] - s[1]
                else:
                    todo.extend(kids[j])
            total += (self.spans[i][2] - self.spans[i][1]) - sub
        return total

    def _has_ancestor_named(self, i: int, name: str) -> bool:
        p = self.spans[i][3]
        while p is not None:
            if self.spans[p][0] == name:
                return True
            p = self.spans[p][3]
        return False


def count_py4j(tracer: Tracer, spark) -> None:
    """Count every py4j round trip through the session's gateway client."""
    client = spark.sparkContext._gateway._gateway_client
    tracer.count_calls(client, "send_command", "py4j")


def count_fs(tracer: Tracer, fs) -> None:
    """Count list, read and write calls on one fs instance."""
    for meth, kind in FS_KINDS.items():
        if hasattr(fs, meth):
            tracer.count_calls(fs, meth, f"fs.{kind}")


def instrument_engine(tracer: Tracer, engine) -> None:
    """Span the layers of one Engine: gate/extractor, result cache,
    catalog, read builders, ``spark.sql``, zone maps, WAL, flush and
    compaction; count its fs calls."""
    import miniodb_spark.engine as engine_mod
    from miniodb_spark import gate
    from miniodb_spark.buffer import WAL

    for fname in dir(gate):
        obj = getattr(gate, fname)
        if fname.startswith("_") or not callable(obj) or isinstance(obj, type):
            continue
        if getattr(obj, "__module__", None) == gate.__name__:
            tracer.wrap(gate, fname, "gate")
    for fname in ("extract_tables", "analyze_complexity"):
        tracer.wrap(engine_mod, fname, "gate")
    tracer.wrap(engine.cache, "get", "cache.get")
    tracer.wrap(engine.cache, "put", "cache.put")
    tracer.wrap(engine.catalog, "refresh_if_changed", "catalog.refresh")
    for meth in ("query_full", "query_df", "read_table", "read_persisted",
                 "read_buffer", "point_lookup_df", "multi_range_lookup_df",
                 "write", "write_batch", "flush", "compact"):
        tracer.wrap(engine, meth, f"engine.{meth}",
                    keep_result=meth in ("point_lookup_df", "multi_range_lookup_df"))
    tracer.wrap(engine.spark, "sql", "spark.sql", keep_result=True)
    tracer.wrap(engine.zonemaps, "build", "zonemap.build")
    tracer.wrap(WAL, "append", "wal.append")
    tracer.wrap(WAL, "append_many", "wal.append")
    count_fs(tracer, engine.fs)


def capture_executed(tracer: Tracer, df_class: type) -> None:
    """Keep the Scala Dataset that ``toJSON`` builds: the Engine
    serializes through it, so its plan is the plan that ran. The body
    is pyspark's own ``toJSON`` with that Dataset kept."""
    from pyspark.core.rdd import RDD
    from pyspark.serializers import UTF8Deserializer

    orig = df_class.toJSON

    def to_json(df, use_unicode: bool = True):
        jds = df._jdf.toJSON()
        if tracer.active:
            tracer.last["executed"] = jds
        return RDD(jds.toJavaRDD(), df._sc, UTF8Deserializer(use_unicode))

    tracer._undo.append((df_class, "toJSON", orig, "toJSON" in df_class.__dict__))
    df_class.toJSON = to_json


# -- Spark-side readings ----------------------------------------------------

PHASES = ("parsing", "analysis", "optimization", "planning")


def tracker_phases(jds) -> dict[str, float]:
    """Milliseconds per QueryPlanningTracker phase of a Scala Dataset's
    QueryExecution (``phases()`` is a Scala Map, read with ``apply``)."""
    ph = jds.queryExecution().tracker().phases()
    out = {}
    for k in PHASES:
        if ph.contains(k):
            out[k] = float(ph.apply(k).durationMs())
    return out


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) that ran under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            stages += 1
            sinfo = st.getStageInfo(s)
            if sinfo is not None:
                tasks += sinfo.numTasks
    return len(jobs), stages, tasks


_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")


def plan_counts(jds) -> dict[str, int]:
    """Shuffle exchanges, broadcast joins and sort-merge joins in the
    final physical plan of an executed Scala Dataset."""
    plan = jds.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    names = Counter()
    for line in plan.toString().splitlines():
        m = _NODE.match(line)
        if m:
            names[m.group(1)] += 1
    return {
        "exchanges": names["Exchange"],
        "broadcast_joins": names["BroadcastHashJoin"] + names["BroadcastNestedLoopJoin"],
        "sort_merge_joins": names["SortMergeJoin"],
    }
