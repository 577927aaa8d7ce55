"""The `bolson stream` analog — Structured Streaming end to end.

Reference trace (stream.cpp:121-188): TCP line-framed JSON source ->
parse -> seq -> resize -> serialize -> publish; runs until the source
ends; main thread drains until received == published.

Spark mapping:
- source: any line-framed streaming DataFrame with a single string
  column (``readStream.format("socket")`` for the TCP analog,
  ``format("text")`` for replayable tests, Kafka in production);
- convert: the batch operators applied inside ``foreachBatch``, with
  no exchange and no Python worker. A micro-batch in one source
  partition (a socket's) is one Spark job: it parses (strict,
  Catalyst), numbers the rows from a driver-maintained base
  (replay-stable: a replayed batch resolves to its original base and
  renumbers identically), and collects the numbered rows to the driver
  as Arrow; an ``Observation`` on the source sums the JSON bytes in
  the same job. A micro-batch in several source partitions (file,
  Kafka) or in quarantine mode first runs a stats job (each
  partition's row count and JSON bytes), and ``partition_layout``
  numbers each partition from its offset and coalesces;
- serialize: the driver cuts the collected rows into IPC messages with
  ``serialize_table``, which runs the kernel that ``serialize_ipc``
  runs in Spark tasks for ``convert()``, as the reference's serializer
  feeds the publisher's queue in-process (serializer.cpp:19-44);
- sink: the driver publishes the messages (the reference's IPC queue
  pop, publisher.h:43-47); IpcFileSink writes one parquet file per
  batch after the schema handshake at start;
- drain: ``trigger(availableNow=True)`` + ``awaitTermination`` ==
  "process everything the source has, then stop" — the
  ``jsons_received == publish_count`` spin-loop without the spin.

Ordering: seq is per-partition contiguous + a batch base — the
documented semantics of §1.4 (consumers re-sort by seq) — so it is the
source's total arrival order exactly when each micro-batch is one
partition. ``sources.read_socket_stream`` reads each micro-batch into
one partition, so a socket stream numbers in arrival order, as the
reference's single TCP client does (stream.cpp:70 "TCP clients: 1"); a
file or Kafka source numbers each partition's rows in their own order,
partitions in id order.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bolson_spark import MAX_IPC_SIZE, MAX_ROWS_DEFAULT
from bolson_spark.operators.parse import as_declared, parse_json, parse_json_quarantine
from bolson_spark.operators.seq import add_seq_by_partition, partition_layout
from bolson_spark.operators.serialize import serialize_table
from bolson_spark.schemas import spark_to_arrow_schema
from bolson_spark.streaming.sink import PublishSink
from bolson_spark.streaming.util import (
    require_run_partitioned,
    run_id_for_checkpoint,
    write_run_batch,
)


def _num_partitions(df: DataFrame) -> int:
    """The partition count of ``df``'s physical plan, read without
    running a job (``df.rdd`` would also build a Python RDD)."""
    return df._jdf.queryExecution().toRdd().getNumPartitions()


def _read_seq_base(base_file: str | None) -> tuple[str | None, int, int, int]:
    """Read the persisted seq-base record ``v3 <run> <batch> <base> <n>``:
    (run_id, last_batch_id, base_of_last_batch, n_of_last_batch). A
    missing file is a fresh lineage, (None, -1, 0, 0). Anything else
    refuses: reading a damaged record as a base would renumber over
    seqs the stream has already published."""
    import os

    if not base_file or not os.path.exists(base_file):
        return (None, -1, 0, 0)
    with open(base_file) as f:
        parts = f.read().split()
    if len(parts) == 5 and parts[0] == "v3":
        try:
            return (parts[1], int(parts[2]), int(parts[3]), int(parts[4]))
        except ValueError:
            pass
    raise ValueError(
        f"seq-base record {base_file!r} is not a v3 record; start a fresh "
        "checkpoint"
    )


def _lineage_checked_rec(
    rec: tuple[str | None, int, int, int],
    checkpoint_dir: str | None,
) -> tuple[str | None, int, int, int]:
    """Validate a freshly-read seq-base record against the checkpoint's
    OWN offsets log at stream start. The run-id guard in
    _resolve_seq_base cannot catch the realistic reset (deleting
    offsets/ + commits/ to force reprocessing leaves the sidecar
    bolson_run_id AND bolson_seq_base behind, so the ids still match),
    but the offsets log can: a batch id only legitimately replays if
    its offsets entry exists. If the record's batch id is ABOVE the
    offsets horizon, no incarnation of THIS lineage ever planned that
    batch — the record is a survivor from before a wipe, and the new
    batch ids (restarting at 0) may collide with it. Coerce it to
    pure-advance form (batch -1, base already summed) so the total
    sequence continues past everything published, never overlapping.
    A crash-before-commit replay keeps its record untouched: its
    offsets entry exists, so horizon >= last_bid."""
    run, last_bid, last_base, last_n = rec
    if checkpoint_dir is None or last_bid < 0:
        return rec
    from bolson_spark.streaming.util import offsets_horizon

    if offsets_horizon(checkpoint_dir) < last_bid:
        return (run, -1, last_base + last_n, 0)
    return rec


def _resolve_seq_base(
    rec: tuple[str | None, int, int, int],
    batch_id: int,
    run_id: str,
) -> int:
    """The replay-stable base rule: a REPLAYED batch (same batch id,
    SAME checkpoint lineage) reuses its original base, so its rows are
    renumbered IDENTICALLY — a replay then produces byte-identical
    messages (duplicates a seq-keyed consumer can drop), never the
    silently shifted sequence range that advancing the base before the
    epoch commit used to produce. Any newer batch starts after the
    last batch's rows.

    The lineage guard: batch ids are only comparable WITHIN one
    checkpoint lineage. If the record's run id differs from the
    current lineage's (a seq-base file surviving into a different /
    reset checkpoint), a first batch whose id collides with the stored
    one is a DIFFERENT payload — reusing the base would publish
    overlapping seq ranges for different data, so a mismatch always
    ADVANCES."""
    rec_run, last_bid, last_base, last_n = rec
    if rec_run == run_id and batch_id == last_bid:
        return last_base
    return last_base + last_n


def _write_seq_base(
    base_file: str, run_id: str, batch_id: int, base: int, n: int
) -> None:
    """Atomic (write-tmp + os.replace) so a crash mid-write cannot
    leave a truncated record. Written BEFORE the publish: a replay
    recomputes the identical record, so early persistence is safe and
    both crash windows (before/after publish) renumber identically."""
    import os

    tmp = base_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(f"v3 {run_id} {batch_id} {base} {n}")
    os.replace(tmp, base_file)


@dataclass
class StreamMetrics:
    """M1 analog (convert/metrics.h:26-56): counts reduced across
    micro-batches on the driver."""

    num_jsons: int = 0
    json_bytes: int = 0
    num_ipc: int = 0
    ipc_bytes: int = 0
    num_quarantined: int = 0
    batches: list[int] = field(default_factory=list)


def run_stream_convert(
    raw: DataFrame,
    schema: T.StructType,
    sink: PublishSink,
    json_col: str = "value",
    *,
    max_rows: int = MAX_ROWS_DEFAULT,
    max_ipc_size: int = MAX_IPC_SIZE,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    latency=None,
    on_error: str = "fail",
    quarantine_dir: str | None = None,
):
    """Start the convert stream; returns (query, metrics).

    Each micro-batch parses with Catalyst (``parse_json``). A batch in
    one source partition is numbered from its base in the job that
    collects it, its only job. Any other batch runs a stats job first,
    and ``partition_layout`` numbers it over the per-partition row
    counts and coalesces it to one partition per ``4 * max_rows`` rows.
    The last job collects the numbered rows to the driver and runs no
    Python worker; the driver cuts them into IPC messages
    (``serialize_table``: at seq gaps and every ``max_rows`` rows, an
    error above ``max_ipc_size``), and ``sink.write`` publishes them.

    ``on_error`` selects the failure posture: ``"fail"`` reproduces the
    reference's hard error on the first bad document
    (parse/arrow.cpp:87); ``"quarantine"`` routes bad documents (with
    their raw bytes + reason) to ``quarantine_dir`` as append-only
    parquet and keeps the stream alive — the 100 TB ingest posture.
    Quarantined rows are excluded from the sequence numbering, so
    published seqs stay contiguous over CLEAN documents.

    The sequence base is maintained per epoch: batch N's seqs start at
    the total row count of batches < N, persisted as a
    (batch_id, base, n) record next to the checkpoint. The record is
    REPLAY-STABLE: a replayed batch resolves to its original base and
    renumbers identically, so a crash in any window around the publish
    re-emits byte-identical messages — duplicates a seq-keyed consumer
    drops — never a silently shifted seq range. (True exactly-once
    additionally needs an idempotent sink; the append-only file sink
    documents at-least-once with stable payloads.) The handshake runs
    once at start (K2).
    """
    # bolson_seq is prepended at field index 0 (parse/arrow.cpp:155)
    arrow_schema = spark_to_arrow_schema(
        T.StructType(
            [T.StructField("bolson_seq", T.LongType(), False)] + schema.fields
        )
    )
    if on_error not in ("fail", "quarantine"):
        raise ValueError(f"unknown on_error {on_error!r}")
    if on_error == "quarantine" and not quarantine_dir:
        # preserving the raw bad documents IS the point of the mode —
        # silently discarding them would be worse than failing
        raise ValueError(
            "on_error='quarantine' requires quarantine_dir (the "
            "dead-letter evidence sink)"
        )
    import os

    if on_error == "quarantine":
        require_run_partitioned(quarantine_dir)
    # Sequence base: the reference's seq counter is process-lifetime
    # (restarts from 0 with the process). For an exactly-once sink we do
    # better: persist the base next to the checkpoint so a restarted
    # query continues the global sequence instead of overlapping it.
    # foreachBatch bodies run serially on the driver, so plain file I/O
    # is race-free.
    base_file = (
        os.path.join(checkpoint_dir, "bolson_seq_base") if checkpoint_dir else None
    )
    # (run_id, last_batch_id, base, n) — see _resolve_seq_base for the
    # replay-stable numbering rule this record enables; the record is
    # read (or refused) before anything is written, and lineage-validated
    # against the checkpoint's offsets log (see _lineage_checked_rec: an
    # offsets/commits wipe restarts batch ids while this sidecar survives)
    state = {
        "rec": _lineage_checked_rec(_read_seq_base(base_file), checkpoint_dir)
    }
    # One run id per checkpoint lineage (minted-or-read), shared by the
    # quarantine partitions AND the seq-base record: same-checkpoint
    # replays overwrite their own (run, batch) partition idempotently /
    # reuse their original seq base, while a fresh checkpoint's batch 0
    # cannot clobber a prior run's batch-0 dead-letter evidence — nor
    # silently reuse a surviving seq-base record from a different
    # lineage (see _resolve_seq_base's lineage guard).
    run_id = run_id_for_checkpoint(checkpoint_dir, "bolson_run_id")
    sink.handshake(arrow_schema)
    metrics = StreamMetrics()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        import time as _time

        received_ts = _time.time()
        # one source partition (a socket micro-batch) is numbered from
        # the base alone, so it needs no stats job and no cache: the
        # collect of its numbered rows is the batch's only job
        single = on_error == "fail" and _num_partitions(batch_df) <= 1
        if not single:
            batch_df = batch_df.cache()
        routed = parsed = ordered = None
        try:
            # order inside the micro-batch: each source partition's own
            # row order, partitions in id order; each partition numbers
            # its rows from its own offset, so no job sorts them
            nq = 0
            if single:
                # the JSON bytes ride on the collect
                obs = Observation()
                parsed = parse_json(
                    batch_df.observe(
                        obs, F.sum(F.octet_length(json_col)).alias("b")
                    ),
                    schema,
                    json_col,
                )
            elif on_error == "quarantine":
                routed = parse_json_quarantine(
                    batch_df.withColumn("_b", F.octet_length(json_col)),
                    schema,
                    json_col,
                    keep=["_b"],
                ).cache()
                # one shuffle-free job over routed: each row's source
                # partition, whether it is clean, and its JSON bytes; it
                # also fills both caches, whose partitions every later
                # job of the batch reads
                stats = routed.select(
                    F.spark_partition_id().alias("p"),
                    F.col("quarantine_reason").isNull().alias("clean"),
                    F.col("_b").alias("b"),
                ).toArrow()
                clean = stats.filter(stats.column("clean"))
                nq = stats.num_rows - clean.num_rows
                if nq and quarantine_dir:
                    # a replay rewrites its own (run, batch) partition
                    # instead of duplicating rows, and a fresh-checkpoint
                    # restart cannot clobber a prior run's evidence
                    write_run_batch(
                        routed.where(
                            F.col("quarantine_reason").isNotNull()
                        ).select(
                            "raw",
                            F.col("quarantine_reason").alias("reason"),
                        ),
                        quarantine_dir,
                        run_id,
                        batch_id,
                    )
                parsed = as_declared(
                    routed.where(F.col("quarantine_reason").isNull()), schema
                )
                # keep per-doc metrics consistent: num_jsons AND
                # json_bytes both count only the converted (clean) docs
                stats = clean
            else:
                # one shuffle-free job: each row's source partition and
                # JSON bytes (12 B a row to the driver); it also fills
                # the cache, whose partitions every later job reads
                stats = batch_df.select(
                    F.spark_partition_id().alias("p"),
                    F.octet_length(json_col).alias("b"),
                ).toArrow()
                parsed = parse_json(batch_df, schema, json_col)
            if not single:
                n = stats.num_rows
                if n == 0:
                    # nothing to publish: the batch is complete once the
                    # (idempotent) quarantine write landed, so counting
                    # here cannot be replayed-and-recounted
                    metrics.num_quarantined += nq
                    return  # finally unpersists the caches
                jb = pc.sum(stats.column("b")).as_py() or 0
                counts = np.bincount(stats.column("p").to_numpy())
            # replay-stable base: a replayed batch id reuses its
            # original base (identical renumbering -> byte-identical
            # republished messages); persisted BEFORE the publish
            base = _resolve_seq_base(state["rec"], batch_id, run_id)
            # When latency tracking is on, materialize each stage so the
            # six reference time points (latency.h:30-47) are observable;
            # otherwise parse, seq and coalesce run as one job, and the
            # driver serializes what it collects (see metrics.py).
            staged = latency is not None
            if staged:
                parsed = parsed.cache()
                parsed.count()
                parsed_ts = _time.time()
            if single:
                ordered = add_seq_by_partition(parsed, [], start=base)
            else:
                ordered = partition_layout(parsed, counts, base, max_rows)
            if staged:
                ordered = ordered.cache()
                ordered.count()
                resized_ts = _time.time()
            # the batch's last job collects the numbered rows with no
            # Python worker, and the driver cuts them into the IPC
            # messages, the publisher's queue item (publisher.h:43-47); a
            # strict-parse failure or an over-size message raises here,
            # before anything below records or publishes the batch
            messages = serialize_table(ordered.toArrow(), max_rows, max_ipc_size)
            serialized_ts = _time.time()
            if single:
                n = pc.sum(messages.column("num_rows")).as_py() or 0
                if n == 0:
                    return
                jb = obs.get["b"] or 0
            # persist the (batch_id, base, n) record BEFORE publishing:
            # a replay recomputes the identical record, so whichever
            # side of the publish a crash lands on, the replayed batch
            # renumbers identically (see _resolve_seq_base)
            if base_file:
                _write_seq_base(base_file, run_id, batch_id, base, n)
            state["rec"] = (run_id, batch_id, base, n)
            popped_ts = _time.time()  # handoff to the publisher (queue pop)
            sink.write(messages)
            published_ts = _time.time()
            if staged:
                latency.stamp(
                    base,
                    base + n - 1,
                    received_ts,
                    parsed_ts,
                    resized_ts,
                    serialized_ts,
                    popped_ts,
                    published_ts,
                )
            # All counters update only after a successful publish: if
            # sink.write raises and Spark replays the micro-batch,
            # counting nq earlier would double-count quarantined docs
            # while num_jsons/num_ipc counted the batch once — the
            # counters would silently drift apart on every retry.
            metrics.num_quarantined += nq
            metrics.num_jsons += n
            metrics.json_bytes += jb
            metrics.num_ipc += messages.num_rows
            metrics.ipc_bytes += pc.sum(messages.column("ipc_bytes")).as_py() or 0
            metrics.batches.append(n)
        finally:
            # unpersist in finally: an exception mid-batch (e.g. a
            # transient sink failure followed by a streaming retry)
            # must not leak a cached copy of the micro-batch per attempt
            cached = [routed]
            if latency is not None:
                cached += [parsed, ordered]
            if not single:
                cached.append(batch_df)
            for df in cached:
                if df is not None:
                    df.unpersist()

    writer = raw.writeStream.foreachBatch(process)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    return query, metrics
