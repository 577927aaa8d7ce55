"""Z1 — serialize to Arrow IPC.

Reference semantics (convert/serializer.cpp:19-44): each resized
RecordBatch is serialized to one Arrow IPC message; if the message
exceeds ``max_ipc_size`` (default 5 MiB - 10 KiB = 5232640, the Pulsar
broker limit, publish/publisher.h:39-41) it is a HARD ERROR — the
serializer does not split further (FNC10).

One pyarrow kernel, ``ipc_messages``, cuts and serializes: it slices
each Arrow batch within its contiguous seq runs to ``max_rows`` (the
zero-copy ``RecordBatch.slice`` the reference's Resizer uses,
resizer.cpp:29-41) and writes one IPC message per slice. Its rows are
``(payload BINARY, seq_first, seq_last, num_rows, ipc_bytes)`` — the
SerializedBatch/IpcQueueItem shape (convert/serializer.h:24-38) ready
for a pub/sub sink. It runs in two places:

- in Spark tasks: ``serialize_ipc`` maps it over each partition's Arrow
  batches with ``mapInArrow`` (the registry queries), and
  ``convert(..., serialize=True)`` maps it over the Arrow parse's
  output batches in the parse's own ``mapInArrow`` task. No shuffle is
  introduced here; upstream ``partition_layout``'s ``coalesce`` or
  ``add_seq``'s window fixed the partitioning, so at 100 TB scale it is
  embarrassingly parallel;
- on the driver: ``serialize_table`` runs it over a collected table.
  The stream collects each micro-batch's numbered rows with a JVM-only
  job and serializes them here, as the reference's serializer feeds the
  publisher's queue in-process (publisher.h:43-47), so a micro-batch
  starts no Python worker.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

from bolson_spark import MAX_IPC_SIZE, MAX_ROWS_DEFAULT, SEQ_COL

# one row per IPC message, as pyarrow and as Spark type it
SERIALIZED_ARROW_SCHEMA = pa.schema(
    [("payload", pa.binary())]
    + [(c, pa.int64()) for c in ("seq_first", "seq_last", "num_rows", "ipc_bytes")]
)
SERIALIZED_SCHEMA = from_arrow_schema(SERIALIZED_ARROW_SCHEMA)


def _ipc_bytes(batch: pa.RecordBatch) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, batch.schema) as writer:
        writer.write_batch(batch)
    return sink.getvalue().to_pybytes()


def ipc_messages(
    batches: Iterable[pa.RecordBatch],
    max_rows: int = MAX_ROWS_DEFAULT,
    max_ipc_size: int = MAX_IPC_SIZE,
    seq_col: str = SEQ_COL,
    seq_mode: str = "column",
) -> Iterator[pa.RecordBatch]:
    """The cut-and-serialize kernel: one ``SERIALIZED_ARROW_SCHEMA`` row
    per IPC message. Each batch is cut at its seq gaps and every
    ``max_rows`` rows; a message larger than ``max_ipc_size`` raises.
    See ``serialize_ipc`` for ``seq_mode``."""
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        # slice WITHIN contiguous seq runs: the envelope contract
        # (FNC02) is that every message covers a contiguous,
        # non-overlapping seq range. A batch can legitimately hold
        # several non-adjacent runs (partition_layout's coalesce merges
        # source partitions' runs) — a blind [off, off+max_rows) slice
        # would span the gap and publish a message whose
        # [seq_first, seq_last] covers rows it does not contain.
        seqs_np = batch.column(seq_col).to_numpy(zero_copy_only=False)
        jumps = (np.nonzero(np.diff(seqs_np) != 1)[0] + 1).tolist()
        cuts = [0] + jumps + [n]
        offsets = [
            (off, min(max_rows, b - off))
            for a, b in zip(cuts, cuts[1:])
            for off in range(a, b, max_rows)
        ]
        for off, length in offsets:
            sl = batch.slice(off, length)  # zero-copy
            seqs = sl.column(seq_col)
            lo = pc.min(seqs).as_py()
            hi = pc.max(seqs).as_py()
            if seq_mode == "metadata":
                meta = dict(sl.schema.metadata or {})
                meta[b"bolson_seq_first"] = str(lo).encode()
                meta[b"bolson_seq_last"] = str(hi).encode()
                sl = sl.drop_columns([seq_col]).replace_schema_metadata(meta)
            payload = _ipc_bytes(sl)
            if len(payload) > max_ipc_size:
                # FNC10: error, never auto-split (serializer.cpp:33-37)
                raise ValueError(
                    f"bolson_spark: IPC message size {len(payload)} "
                    f"exceeds maximum {max_ipc_size}"
                )
            yield pa.RecordBatch.from_pydict(
                {
                    "payload": [payload],
                    "seq_first": [lo],
                    "seq_last": [hi],
                    "num_rows": [sl.num_rows],
                    "ipc_bytes": [len(payload)],
                },
                schema=SERIALIZED_ARROW_SCHEMA,
            )


def serialize_table(
    table: pa.Table,
    max_rows: int = MAX_ROWS_DEFAULT,
    max_ipc_size: int = MAX_IPC_SIZE,
) -> pa.Table:
    """``ipc_messages`` over a driver-side table of numbered rows: the
    messages of a collected micro-batch. The chunks are combined first,
    so messages break only at seq gaps and every ``max_rows`` rows,
    never where the collect happened to split the table."""
    return pa.Table.from_batches(
        ipc_messages(table.combine_chunks().to_batches(), max_rows, max_ipc_size),
        schema=SERIALIZED_ARROW_SCHEMA,
    )


def serialize_ipc(
    df: DataFrame,
    max_rows: int = MAX_ROWS_DEFAULT,
    max_ipc_size: int = MAX_IPC_SIZE,
    seq_col: str = SEQ_COL,
    seq_mode: str = "column",
) -> DataFrame:
    """DataFrame -> one row per IPC message (sliced to <= max_rows), by
    ``ipc_messages`` over each partition's Arrow batches.

    ``seq_mode`` mirrors the reference's ``--*-seq-col`` switch:
    ``"column"`` keeps the physical bolson_seq column in the payload;
    ``"metadata"`` drops it and instead stamps ``bolson_seq_first`` /
    ``bolson_seq_last`` into the payload's Arrow schema metadata
    (parse/parser.cpp:34-47, AddSeqAsSchemaMeta).
    """
    if seq_mode not in ("column", "metadata"):
        raise ValueError(f"seq_mode must be column|metadata, got {seq_mode}")

    # validate EAGERLY on the driver, before a job fails in a task
    if seq_col not in df.columns:
        raise ValueError(
            f"serialize_ipc: seq column {seq_col!r} not in DataFrame "
            f"(columns: {df.columns}) — run add_seq/add_seq_scalable "
            "first or pass seq_col"
        )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return ipc_messages(batches, max_rows, max_ipc_size, seq_col, seq_mode)

    return df.mapInArrow(fn, SERIALIZED_SCHEMA)


def deserialize_ipc(
    df: DataFrame, out_schema: str, payload_col: str = "payload"
) -> DataFrame:
    """Inverse of ``serialize_ipc`` for round-trip verification: payload
    BINARY -> the original rows (schema supplied as a DDL string, since
    a streaming plan needs its schema up front). Tests use it to assert
    FNC03 information equality (test_convert.h:172-174)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            idx = batch.schema.get_field_index(payload_col)
            for payload in batch.column(idx):
                with pa.ipc.open_stream(payload.as_py()) as reader:
                    yield from reader

    return df.mapInArrow(fn, out_schema)
