"""Shared pieces of the benchmark: the session set-up, spans for the
traced run, statistics, memory peaks and Spark's own job counters.

All measurement is taken from outside the package: spans wrap calls
into its public functions, and counters come from Spark's status store.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

import numpy as np


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pct(values, q: float) -> float:
    """Linear-interpolated percentile; 0.0 for an empty sample."""
    if len(values) == 0:
        return 0.0
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return float(statistics.median(values)) if len(values) else 0.0


class Tracer:
    """In-memory spans (name, start, end, parent). Off unless the run
    is traced; ``span`` then costs one ``perf_counter`` pair. Spans are
    written out once, when the benchmark ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def cost_s(self) -> float:
        """Estimated time the recorded spans cost: their count times the
        cost of one span, timed here on an empty body."""
        probe = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(2000):
            with probe.span("probe"):
                pass
        return len(self.spans) * (time.perf_counter() - t0) / 2000

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def host_cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters from ``/proc/stat`` (user,
    nice, system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time taken by other guests between
    two ``host_cpu_ticks`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids = [int(k) for k in f.read().split()]
        except OSError:
            continue
        for k in kids:
            out.append(k)
            out.extend(_descendants(k))
    return out


def mem_peak_mb(spark) -> float:
    """Sum of ``VmHWM`` (peak resident set) over this Python driver, the
    JVM and the JVM's Python workers still alive."""
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
        pids.extend(_descendants(proc.pid))
    return sum(_status_kb(p, "VmHWM") for p in set(pids)) / 1024.0


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _wait_gone(pids, timeout: float) -> list[int]:
    end = time.monotonic() + timeout
    pids = [p for p in pids if _alive(p)]
    while pids and time.monotonic() < end:
        time.sleep(0.05)
        pids = [p for p in pids if _alive(p)]
    return pids


def stop_spark() -> None:
    """Stop the active session, then the JVM and every process it
    started, and wait until each has ended. Without this the JVM
    outlives the benchmark by a few seconds. Safe to call when no JVM
    was started."""
    import signal

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:  # noqa: BLE001 — the JVM is killed below anyway
            pass
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    # the JVM's Python workers first, while the JVM can still reap them
    kids = _descendants(proc.pid)
    for sig, wait in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        for pid in kids:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        kids = _wait_gone(kids, wait)
        if not kids:
            break
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001
        pass
    # the JVM exits when its stdin closes
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(20)
    except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
        proc.kill()
        proc.wait()
    _wait_gone(kids, 5.0)
    SparkContext._gateway = None
    SparkContext._jvm = None


def start_session(cpus: int):
    """``get_spark`` with Spark's console noise turned down."""
    from bolson_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(warm_up, *, repeats: int = 3):
    """Start a session and warm it up ``repeats`` times; the last session
    is kept. Returns (spark, per-set-up seconds). The first set-up also
    launches the JVM; the repeats are what ``setup_s`` reports as a
    median, and they double as extra warm-up for the JIT."""
    times = []
    spark = None
    for _ in range(repeats):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(cores())
        warm_up(spark)
        times.append(time.perf_counter() - t0)
    return spark, times


class JobCounters:
    """Spark job and stage counters read from the status store, for the
    jobs whose id lies in a window ``[first, last)``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def _job_ids(self) -> list[int]:
        seq = self.store.jobsList(None)  # a Scala Seq over py4j
        return [seq.apply(i).jobId() for i in range(seq.size())]

    def next_job_id(self) -> int:
        return max(self._job_ids(), default=-1) + 1

    def jobs(self, first: int) -> list[int]:
        return sorted(j for j in self._job_ids() if j >= first)

    def stage_totals(self, job_ids) -> dict:
        tot = {"cpu_s": 0.0, "run_s": 0.0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
        seen = set()
        tracker = self.sc.statusTracker()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                    continue
                tot["cpu_s"] += sd.executorCpuTime() / 1e9
                tot["run_s"] += sd.executorRunTime() / 1e3
                tot["tasks"] += sd.numCompleteTasks()
                tot["shuffle_bytes"] += sd.shuffleWriteBytes()
                tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return tot


def exec_layer(counters: JobCounters, first_job: int, wall_s: float) -> dict:
    """The per-workload ``exec.*`` layer: executor CPU, tasks, shuffle
    and spill of every job since ``first_job``; ``exec.util`` is CPU
    time over (wall time x cores)."""
    tot = counters.stage_totals(counters.jobs(first_job))
    return {
        "exec.cpu_s": tot["cpu_s"],
        "exec.tasks": tot["tasks"],
        "exec.shuffle_bytes": tot["shuffle_bytes"],
        "exec.spill_bytes": tot["spill_bytes"],
        "exec.util": tot["cpu_s"] / (wall_s * cores()) if wall_s > 0 else 0.0,
    }
