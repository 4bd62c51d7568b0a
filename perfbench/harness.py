"""Run environment, Spark session lifecycle and the closed loop shared by
every workload."""

from __future__ import annotations

import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.stats import geomean, median, median_with_failures, tail

REPO = Path(__file__).resolve().parent.parent
RUNS_PARENT = REPO / ".perfbench_tmp"


def host_cores() -> int:
    """What ``nproc`` prints: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of host RAM, between 1 and 3 GiB: the package's 16g
    default is more than a small host has."""
    with open("/proc/meminfo", encoding="ascii") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(3072, total_kb // 1024 // 4))


def pin_environment(rundir: Path) -> dict[str, str]:
    """Point every file Spark, the JVM and Python temp files create at
    ``rundir``, and make the repository importable by Python workers.
    Must run before pyspark starts the JVM. Returns the pinned values."""
    tmp = rundir / "tmp"
    for sub in ("tmp", "local", "warehouse", "eventlog", "data"):
        (rundir / sub).mkdir(parents=True, exist_ok=True)
    pins = {
        "SPARK_GRAFT_CPUS": str(host_cores()),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_memory_mb()}m",
        "SPARK_GRAFT_WAREHOUSE": str(rundir / "warehouse"),
        "SPARK_LOCAL_DIRS": str(rundir / "local"),
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(REPO), os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_PYTHON": sys.executable,
        # the small JVM spark-submit starts to build the driver command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(pins)
    tempfile.tempdir = str(tmp)
    if str(REPO) not in sys.path:
        sys.path.insert(0, str(REPO))
    # derby.log, spark-warehouse and any other relative path land here
    os.chdir(rundir)
    return pins


def spark_conf(rundir: Path, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={rundir / 'tmp'} "
            f"-Dderby.system.home={rundir} -XX:-UsePerfData"
        ),
        "spark.local.dir": str(rundir / "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(rundir / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(rundir: Path, event_log: bool):
    """Start the session the way a user of the package does, plus the
    benchmark's path pins. Returns ``(spark, seconds)``; the time
    includes the first job, so executors are up."""
    from oasysdb_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(rundir, event_log))
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def remove_rundir(rundir: Path) -> None:
    shutil.rmtree(rundir, ignore_errors=True)
    try:
        RUNS_PARENT.rmdir()
    except OSError:
        pass  # another run still owns a sibling directory


# memo dicts of the package that live as long as the process
MEMOS = {
    "oasysdb_spark.sources.tables": ("_READ_MEMO", "_PLAN_MEMO", "_SPREAD_MEMO"),
    "oasysdb_spark.operators.vectorops": ("_EMB_PROBE_MEMO", "_LSH_LAYOUT_CACHE"),
    "oasysdb_spark.operators.similarity_join": ("_INDEX_BCS", "_PLAN_FPS"),
    "__spark_entry__": ("_IVF_CACHE",),
}


def resource_counts(rundir: Path) -> dict[str, int]:
    """Entries in the run's temp directory and in the package's memos,
    counted from outside the package."""
    return {
        "tmp_dirs": len(os.listdir(rundir / "tmp")),
        "memo_entries": sum(
            len(getattr(sys.modules[mod], name, ()))
            for mod, names in MEMOS.items() if mod in sys.modules
            for name in names
        ),
    }


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and every live
    descendant (the JVM, the pyspark daemon and its Python workers),
    each with the CPU of the dead children it has waited for."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we listed
        parent[int(entry)] = int(fields[1])
        cpu[int(entry)] = sum(int(x) for x in fields[11:15]) / tick
    me, total = os.getpid(), 0.0
    for pid, c in cpu.items():
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p == me:
            total += c
    return total


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of the driver Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid is not None:
        try:
            with open(f"/proc/{jvm_pid}/status", encoding="ascii") as f:
                jvm_kb = next(
                    (int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0
                )
        except OSError:
            jvm_kb = 0
    return (py_kb + jvm_kb) / 1024.0


# ---------------------------------------------------------------------------
# the closed loop
# ---------------------------------------------------------------------------


@dataclass
class Call:
    cls: str
    seconds: float
    ok: bool


@dataclass
class LoopResult:
    calls: list[Call] = field(default_factory=list)
    wall_s: float = 0.0
    start: float = 0.0  # epoch seconds, for the trace window
    end: float = 0.0
    errors: dict[str, str] = field(default_factory=dict)

    @property
    def attempted(self) -> int:
        return len(self.calls)

    @property
    def failed(self) -> int:
        return sum(not c.ok for c in self.calls)

    def latencies(self, classes=None) -> list[float]:
        return [c.seconds for c in self.calls
                if c.ok and (classes is None or c.cls in classes)]

    def failures(self, classes=None) -> int:
        return sum(not c.ok for c in self.calls
                   if classes is None or c.cls in classes)

    def classes(self) -> list[str]:
        return sorted({c.cls for c in self.calls})


def cycles_for(seconds: float, cycle_s: float) -> int:
    """Whole cycles that take about ``seconds`` at the workload's nominal
    cycle time. The count does not depend on how fast this run goes, so
    every run of a workload measures the same calls."""
    return max(1, round(seconds / cycle_s))


def closed_loop(next_op, cycle: int, cycles: int, tracer=None, first_op: int = 1) -> LoopResult:
    """One client: call ``next_op(i)`` for ``(cls, fn)`` and run ``fn``,
    waiting for each reply, for ``cycles`` whole cycles of ``cycle``
    calls. A call that raises is counted as failed, with its first error
    kept per class."""
    out = LoopResult(start=time.time())
    for i in range(cycle * cycles):
        cls, fn = next_op(i)
        if tracer is not None:
            tracer.op = first_op + i
        t0 = time.perf_counter()
        try:
            if tracer is not None and tracer.enabled:
                with tracer.span(f"bench.{cls}", "bench"):
                    fn()
            else:
                fn()
            ok = True
        except Exception:  # noqa: BLE001 - a failed call is a measured outcome
            ok = False
            out.errors.setdefault(cls, traceback.format_exc(limit=3)[-600:])
        out.calls.append(Call(cls, time.perf_counter() - t0, ok))
    out.end = time.time()
    out.wall_s = out.end - out.start
    if tracer is not None:
        tracer.op = 0
    return out


def loop_metrics(loop: LoopResult) -> dict[str, float]:
    """Throughput of the one client (completed calls per second spent in
    calls; a failed call's time counts) and the geometric mean over call
    classes of each class's median latency. A failed call counts as
    slower than every completed one; a class whose median is a failure
    reads as the whole loop's wall time."""
    p50s = []
    for c in loop.classes():
        p50 = median_with_failures(loop.latencies({c}), loop.failures({c}))
        p50s.append((p50 if p50 != float("inf") else loop.wall_s) * 1000.0)
    return {
        "calls_per_s": len(loop.latencies()) / sum(c.seconds for c in loop.calls),
        "class_p50_geomean_ms": geomean(p50s),
    }


def pooled_latency(loop: LoopResult) -> dict[str, float]:
    """Median and tail over every call of the loop, with the sample count."""
    lat = loop.latencies()
    t, pct, n = tail(lat, loop.failed)
    return {"call_p50_ms": median(lat) * 1000.0,
            "call_tail_ms": (t if t != float("inf") else loop.wall_s) * 1000.0,
            "call_tail_pct": pct * 100.0, "calls": n}


def class_summary(loop: LoopResult) -> dict[str, dict]:
    out = {}
    for c in loop.classes():
        lat = loop.latencies({c})
        t, pct, n = tail(lat, loop.failures({c}))
        out[c] = {
            "n": n, "failed": loop.failures({c}),
            "p50_ms": round(median(lat) * 1000.0, 3) if lat else None,
            "tail_ms": round(t * 1000.0, 3) if t != float("inf") else None,
            "tail_pct": round(pct * 100.0, 1),
        }
    return out
