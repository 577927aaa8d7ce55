"""M1/M2 — metrics aggregation and latency tracking.

Reference: per-thread convert::Metrics / publish::Metrics reduced with
operator+= (convert/metrics.h:26-56, publish/metrics.h:23-38), plus a
6-time-point latency CSV (Received, Parsed, Resized, Serialized,
Popped, Published — latency.h:30-47, latency.cpp:24-56) and a stats CSV
(metrics.cpp:26-63).

Spark mapping:
- throughput counters are reduced on the driver in the foreachBatch
  body (``StreamMetrics``), after each successful publish;
- per-batch latency points are wall-clock stamps taken in the
  foreachBatch body around each stage. The reference's six points
  (latency.h:30-47) map to: Receive = micro-batch handed to
  foreachBatch; Parse = parse job materialized; Resize = seq +
  coalesce materialized (per-partition numbering, no re-partition);
  Serialize = the batch's numbered rows collected and cut into IPC
  messages on the driver; Pop = the seq-base record written and the
  messages handed to the publisher (the reference's IPC-queue pop);
  Publish = ``sink.write`` of those messages returned. When latency
  tracking is OFF the pipeline runs parse, seq and coalesce as one
  job — stamping them separately requires per-stage
  materialization barriers, so (like the reference's --latency flag)
  the staged path only runs when asked;
- ``save_latency_csv``/``save_metrics_csv`` write the reference's
  column layout so downstream tooling can diff them.
"""

from __future__ import annotations

import csv
import time
from dataclasses import dataclass, field

#: latency.h:30-47 — point names, in stamp order.
TIME_POINTS = ("Receive", "Parse", "Resize", "Serialize", "Pop", "Publish")


@dataclass
class BatchLatency:
    """The reference's TimePoints for one published batch: six epoch-
    second stamps (latency.h:30-47) plus the batch seq range."""

    seq_first: int
    seq_last: int
    time: tuple[float, float, float, float, float, float]

    def diff_ns(self, i: int) -> int:
        """GetDiff analog (latency.h:50-55): time[i]-time[i-1] in ns."""
        assert 0 < i < len(self.time)
        return round((self.time[i] - self.time[i - 1]) * 1e9)


@dataclass
class LatencyTracker:
    points: list[BatchLatency] = field(default_factory=list)

    def stamp(
        self,
        seq_first: int,
        seq_last: int,
        received: float,
        parsed: float,
        resized: float,
        serialized: float,
        popped: float,
        published: float | None = None,
    ) -> None:
        self.points.append(
            BatchLatency(
                seq_first,
                seq_last,
                (
                    received,
                    parsed,
                    resized,
                    serialized,
                    popped,
                    published if published is not None else time.time(),
                ),
            )
        )

    def save_latency_csv(
        self,
        path: str,
        from_point: int = 1,
        to_point: int = 5,
        with_seq: bool = True,
    ) -> None:
        """Exact CSV layout of SaveLatencyMetrics (latency.cpp:24-56):
        optional ``First,Last`` seq columns, then one column per point
        name in [from_point, to_point] holding the NANOSECOND diff from
        the previous point. Defaults mirror the reference's
        (from=parsed, to=published, with_seq=true)."""
        assert 0 < from_point <= to_point < len(TIME_POINTS)
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            head = ["First", "Last"] if with_seq else []
            w.writerow(head + list(TIME_POINTS[from_point : to_point + 1]))
            for p in self.points:
                row = [p.seq_first, p.seq_last] if with_seq else []
                w.writerow(
                    row
                    + [p.diff_ns(i) for i in range(from_point, to_point + 1)]
                )


def save_metrics_csv(path: str, metrics, elapsed_sec: float) -> None:
    """Stats CSV after metrics.cpp:26-63: counts, bytes, rates."""
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(
            ["num_jsons", "json_bytes", "num_ipc", "ipc_bytes", "elapsed_sec",
             "json_mbs", "ipc_mbs", "mjs"]
        )
        mb = 1e6
        w.writerow(
            [
                metrics.num_jsons,
                metrics.json_bytes,
                metrics.num_ipc,
                metrics.ipc_bytes,
                f"{elapsed_sec:.3f}",
                f"{metrics.json_bytes / mb / elapsed_sec:.3f}" if elapsed_sec else "",
                f"{metrics.ipc_bytes / mb / elapsed_sec:.3f}" if elapsed_sec else "",
                f"{metrics.num_jsons / 1e6 / elapsed_sec:.6f}" if elapsed_sec else "",
            ]
        )

