"""Shared plumbing: the Spark session, process cleanup, memory
readings, statistics, answer comparison and the run's outcome."""

from __future__ import annotations

import math
import os
import statistics
from dataclasses import dataclass, field
from datetime import date, datetime

APP = "perfbench"
SETUP_REPS = 5  # set-ups timed per run; setup_s is their median


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str  # checkout root
    work: str  # scratch directory inside the checkout
    cpus: int


@dataclass
class Outcome:
    """What one run measured. ``e2e`` is the workload's value for every
    end-to-end metric; ``layers`` holds the traced run's per-layer
    metrics (absent names print as 0, meaning the layer did no work)."""

    e2e: dict[str, float] = field(default_factory=dict)
    # the workload's own end-to-end figures, printed in the report and
    # carried into the traced run's per-layer metrics
    detail: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    wrong: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.wrong.append(what)


# -- Spark -----------------------------------------------------------------

def spark_conf(work: str) -> dict[str, str]:
    """Keep every file Spark and the JVM write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def start_spark(ctx: Context):
    from miniodb_spark.session import get_spark

    spark = get_spark(APP, cpus=ctx.cpus, extra_conf=spark_conf(ctx.work))
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def restart_spark(ctx: Context, spark):
    """Stop the session and make a fresh one on the running JVM."""
    spark.stop()
    return start_spark(ctx)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def shutdown_spark() -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None and proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children", encoding="ascii") as fh:
            return [int(p) for p in fh.read().split()]
    except OSError:
        return []


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this Python driver plus the JVM
    gateway process and anything it spawned, in MiB."""
    kb = _vm_hwm_kb(os.getpid())
    pid = jvm_pid()
    todo = [pid] if pid else []
    while todo:
        p = todo.pop()
        kb += _vm_hwm_kb(p)
        todo.extend(_children(p))
    return kb / 1024.0


def _cpu_s(pid: int) -> float:
    """User plus system CPU seconds of one process, all its threads."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _host_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole host so far."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def usage(spark) -> tuple:
    """(driver CPU s, JVM CPU s, JVM GC s, host ticks) so far; the
    differences between two readings tell busy time from waiting."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    gc_ms = sum(b.getCollectionTime() for b in beans)
    pid = jvm_pid()
    return (_cpu_s(os.getpid()), _cpu_s(pid) if pid else 0.0, gc_ms / 1000.0,
            _host_ticks())


def usage_metrics(before, after, ops: int) -> dict[str, float]:
    """Busy milliseconds per timed operation by process, and the share
    of the host's CPU time the hypervisor gave to others (steal)."""
    names = ("cpu.driver_ms_per_op", "cpu.jvm_ms_per_op", "jvm.gc_ms_per_op")
    m = {n: 1000 * (b - a) / max(1, ops) for n, a, b in zip(names, before, after)}
    (s0, t0), (s1, t1) = before[3], after[3]
    m["host.steal_share"] = (s1 - s0) / max(1, t1 - t0)
    return m


# -- statistics --------------------------------------------------------------

def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Linear-interpolated ``q`` quantile (0..1)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


# -- answers -----------------------------------------------------------------

def norm_cell(v):
    """Engine-independent cell form: floats to 9 significant digits
    (summation order differs across engines), dates as text."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return 0.0 if v == 0 else float(f"{v:.9g}")
    if isinstance(v, (datetime, date)):
        return str(v)[:26]
    if hasattr(v, "item"):
        return norm_cell(v.item())
    return v


def canon(rows, columns) -> list[tuple]:
    """Rows as sorted tuples of normalized cells, columns by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


