"""``stream_socket``: open-loop battery JSON lines over one TCP socket
into ``run_stream_convert`` (production fused path, ``latency=None``)
with an ``IpcFileSink``, at one fixed rate.

The generator is a TCP server thread: Spark's socket source connects
to it as a client. It sends on a fixed tick whether or not the system
keeps up, and every document has a due time on that schedule. A
document's latency runs from its due time to the return of the
``PublishSink.write`` call that published its micro-batch, so a stall
is charged to every document queued behind it.
"""

from __future__ import annotations

import os
import socket
import threading
import time

import numpy as np

import gen
from common import JobCounters, exec_layer, median, pct

# A micro-batch costs about 1.1-1.8 s on 4 cores whatever its size, and
# its cost keeps falling over the first twenty seconds of streaming in
# a JVM, so the first SETTLE share of the run is not scored.
RATE = 2000  # docs/s
SETTLE = 0.3
DRAIN_S = 20.0  # a doc not published this long after the schedule ends fails
TICK_S = 0.005
GRID_S = 0.05  # backlog sampling interval
LATE_LIMIT_MS = 100.0  # generator lateness p99 above this voids the run


class OpenLoopGenerator:
    """Sends ``lines[i]`` at ``t0 + due[i]`` over one accepted
    connection, batching every doc that fell due since the last tick."""

    def __init__(self, lines: list[bytes], due: np.ndarray):
        self.lines = lines
        self.due = np.asarray(due, dtype=float)
        self.late_s: list[float] = []
        self.connected = threading.Event()
        self._go = threading.Event()
        self._stop = threading.Event()
        self.done = threading.Event()
        self.t0 = 0.0
        self.error: BaseException | None = None
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind(("127.0.0.1", 0))
        self._srv.listen(1)
        self._srv.settimeout(60)
        self.port = self._srv.getsockname()[1]
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    @property
    def abs_due(self) -> np.ndarray:
        return self.t0 + self.due

    def begin(self, t0: float) -> None:
        self.t0 = t0
        self._go.set()

    def _serve(self) -> None:
        conn = None
        try:
            conn, _ = self._srv.accept()
            self.connected.set()
            while not self._go.wait(0.1):
                if self._stop.is_set():
                    return
            due = self.abs_due
            sent = 0
            while sent < len(self.lines) and not self._stop.is_set():
                now = time.perf_counter()
                hi = int(np.searchsorted(due, now, side="right"))
                if hi > sent:
                    self.late_s.append(now - due[sent])
                    conn.sendall(b"".join(self.lines[sent:hi]))
                    sent = hi
                time.sleep(TICK_S)
            self.done.set()
            self._stop.wait()  # keep the connection open until the query stops
        except BaseException as e:  # noqa: BLE001 — reported by the caller
            self.error = e
            self.done.set()
        finally:
            if conn is not None:
                conn.close()

    def close(self) -> None:
        self._stop.set()
        self._go.set()
        self._thread.join(30)
        self._srv.close()


def _timed_sink(path: str, tracer):
    from bolson_spark.streaming import IpcFileSink

    class TimedSink(IpcFileSink):
        """Records when each micro-batch's publish returned."""

        def __init__(self):
            super().__init__(path)
            self.published: list[float] = []
            self.write_s: list[float] = []

        def write(self, serialized):
            t = time.perf_counter()
            with tracer.span("sink.write"):
                super().write(serialized)
            end = time.perf_counter()
            self.published.append(end)
            self.write_s.append(end - t)

    return TimedSink()


def run_stream(spark, lines, due, work_dir, tag, tracer):
    """One stream query over the given schedule, until every doc is
    published or ``DRAIN_S`` after the last is due. Returns the sink,
    the stream metrics, the generator and the query's progress list."""
    from bolson_spark.schemas import BATTERY_SPARK
    from bolson_spark.sources import read_socket_stream
    from bolson_spark.streaming import run_stream_convert

    genr = OpenLoopGenerator(lines, due)
    sink = _timed_sink(os.path.join(work_dir, f"topic_{tag}"), tracer)
    query = None
    try:
        raw = read_socket_stream(spark, "127.0.0.1", genr.port)
        query, metrics = run_stream_convert(
            raw,
            BATTERY_SPARK,
            sink,
            checkpoint_dir=os.path.join(work_dir, f"ckpt_{tag}"),
            available_now=False,
        )
        if not genr.connected.wait(60):
            raise RuntimeError("socket source never connected")
        genr.begin(time.perf_counter() + 0.05)
        while time.perf_counter() < genr.abs_due[-1] + DRAIN_S:
            if genr.error is not None:
                raise RuntimeError("generator failed") from genr.error
            if genr.done.is_set() and sum(metrics.batches) >= len(lines):
                break
            if query.exception() is not None:
                raise RuntimeError(f"stream failed: {query.exception()}")
            time.sleep(0.02)
        progress = list(query.recentProgress)
    finally:
        if query is not None:
            query.stop()
        genr.close()
    return sink, metrics, genr, progress


def warm_up(spark, work_dir: str, seed: int, count: list[int]) -> None:
    """A short stream: 500 docs at once, drained."""
    count[0] += 1
    lines = gen.battery_lines(500, seed + 1000 + count[0])
    due = np.zeros(len(lines))
    from common import Tracer

    run_stream(spark, lines, due, work_dir, f"warm{count[0]}", Tracer(False))


def _verify(spark, sink, metrics, lines) -> tuple[int, int]:
    """Per micro-batch: the docs published with seqs in the batch's
    range are exactly the docs that arrived in that range, once each,
    with identical content; seqs are contiguous from 0. Returns (failed
    docs, docs whose seq differs from their arrival position)."""
    from bolson_spark.operators import deserialize_ipc

    if not metrics.batches:
        return len(lines), 0
    out = deserialize_ipc(
        sink.read(spark), "bolson_seq bigint, voltage array<bigint>"
    ).toArrow()
    seq = out.column("bolson_seq").to_numpy()
    order = np.argsort(seq, kind="stable")
    seq = seq[order]
    volts = out.column("voltage").take(order).to_pylist()
    published = sum(metrics.batches)
    failed = len(lines) - published
    if len(seq) != published or not np.array_equal(seq, np.arange(published)):
        return len(lines), 0
    rendered = [
        ('{"voltage":[' + ",".join(map(str, v)) + "]}\n").encode() for v in volts
    ]
    out_of_order = 0
    lo = 0
    for n in metrics.batches:
        got = rendered[lo : lo + n]
        sent = lines[lo : lo + n]
        if sorted(got) != sorted(sent):
            failed += n
        out_of_order += sum(a != b for a, b in zip(got, sent))
        lo += n
    return failed, out_of_order


def _backlog(abs_due, pub_t, cum, t):
    """Docs due by each time in ``t`` minus docs published by then."""
    due = np.searchsorted(abs_due, t, side="right")
    return due - cum[np.searchsorted(pub_t, t, side="right")]


def measure(spark, seconds: float, seed: int, work_dir: str, tracer, tag: str) -> dict:
    """One run at ``RATE`` for ``seconds``, then the output checks."""
    counters = JobCounters(spark)
    due = np.arange(int(RATE * seconds)) / RATE
    lines = gen.battery_lines(len(due), seed)
    first_job = counters.next_job_id()
    t_start = time.perf_counter()
    with tracer.span("stream.run"):
        sink, metrics, genr, progress = run_stream(spark, lines, due, work_dir, tag, tracer)
    wall = time.perf_counter() - t_start
    with tracer.span("stream.verify"):
        failed, out_of_order = _verify(spark, sink, metrics, lines)

    late_ms_p99 = pct(genr.late_s, 99) * 1000
    # per-doc latency: publish time of the doc's batch minus its due time
    abs_due = genr.abs_due
    # an unpublished doc is charged the whole drain bound
    done = np.full(len(due), float(abs_due[-1]) + DRAIN_S)
    pub_t = np.asarray(sink.published)
    cum = np.concatenate([[0], np.cumsum(metrics.batches)]).astype(int)
    for k in range(len(metrics.batches)):
        done[cum[k] : cum[k + 1]] = pub_t[k]
    lat = done - abs_due
    last = max(abs_due[-1], pub_t[-1] if len(pub_t) else 0.0)
    grid = np.arange(genr.t0, last + GRID_S, GRID_S)
    scored = lat[due >= SETTLE * seconds] * 1000
    # backlog trend over the scored window, fitted on a dense time grid
    # so the sawtooth of the micro-batches averages out
    t = grid[(grid >= genr.t0 + SETTLE * seconds) & (grid < genr.t0 + seconds)]
    slope = float(np.polyfit(t, _backlog(abs_due, pub_t, cum, t), 1)[0])
    add_batch = [p["durationMs"].get("addBatch", 0) for p in progress if p["numInputRows"]]
    trig = [
        p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)
        for p in progress
        if p["numInputRows"]
    ]
    jobs = counters.jobs(first_job)
    layers = {
        "gen.late_ms_p99": late_ms_p99,
        "sources.backlog_docs_max": int(_backlog(abs_due, pub_t, cum, grid).max(initial=0)),
        "sources.backlog_slope_dps": slope,
        "pipeline.add_batch_ms_p50": median(add_batch),
        "pipeline.trigger_overhead_ms_p50": median(trig),
        "pipeline.jobs_per_batch": len(jobs) / max(1, len(metrics.batches)),
        "pipeline.rows_per_batch_p50": median(metrics.batches),
        "pipeline.seq_out_of_order": out_of_order,
        "sink.write_ms_p50": median(sink.write_s) * 1000,
        "sink.ipc_messages": metrics.num_ipc,
        "sink.ipc_bytes_per_json": metrics.ipc_bytes / max(1, metrics.num_jsons),
    }
    layers.update(exec_layer(counters, first_job, wall))
    if tracer.enabled:
        layers["trace.overhead_frac"] = tracer.cost_s() / wall
    return {
        "attempted": len(lines),
        "failed": failed,
        "correct": failed == 0 and late_ms_p99 <= LATE_LIMIT_MS,
        "e2e": {"latency_p50_ms": pct(scored, 50)},
        "layers": layers,
        "detail": {"docs_scored": len(scored), "p90_ms": pct(scored, 90),
                   "p99_ms": pct(scored, 99), "batches": metrics.batches,
                   "published_s": (pub_t - genr.t0).tolist()},
    }
