"""The composed convert pipeline — parse -> seq -> rebatch [-> serialize].

This is the reference's converter thread loop (convert/converter.cpp:
96-171: Parse -> Resize -> Serialize) as a declarative DataFrame
composition; Spark tasks replace converter threads, Catalyst fuses the
parse/seq/rebatch projections into one whole-stage-codegen span.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from bolson_spark import MAX_IPC_SIZE, MAX_ROWS_DEFAULT
from bolson_spark.operators.parse import parse_json, parse_json_arrow
from bolson_spark.operators.rebatch import rebatch
from bolson_spark.operators.seq import add_seq, add_seq_scalable
from bolson_spark.operators.serialize import serialize_ipc


def convert(
    df: DataFrame,
    schema: T.StructType,
    json_col: str,
    order_by: str,
    *,
    max_rows: int = MAX_ROWS_DEFAULT,
    max_ipc_size: int = MAX_IPC_SIZE,
    strict: bool = True,
    serialize: bool = False,
    seq_mode: str = "exact",
    parser: str = "catalyst",
) -> DataFrame:
    """Raw JSON rows -> parsed + sequenced + rebatched [+ serialized].

    The output rows (and each IPC payload) are ``bolson_seq`` followed
    by the schema fields — the reference's layout (parse/arrow.cpp:155)
    and the stream's. ``order_by`` only orders the seq; it is dropped
    after numbering. Rows are laid out by ``rebatch``'s seq blocks.

    seq_mode: "exact" (single global window — parity with the
    reference's one-TCP-stream total order) or "scalable" (range
    partition + partition-local numbering + driver offset map; same
    result, tested equal, no single-reducer sort — the 100 TB path).

    parser: "catalyst" (JVM from_json; strict=True adds a second
    key-scan guard pass) or "arrow" (Arrow C++ JSON TableReader via
    mapInArrow — strict validation is built into the single parse pass,
    ~25% faster end-to-end when strict; both impls tested equal).

    Composition note: mapInArrow is opaque to Catalyst, so downstream
    passes that only need the order key (e.g. add_seq_scalable's
    boundary/count passes) cannot column-prune an "arrow" parse and
    re-execute it; the "catalyst" parse IS prunable and thus composes
    better in multi-pass plans. Rule of thumb: arrow for a single
    materialization, catalyst when the plan is consumed repeatedly.
    """
    if seq_mode not in ("exact", "scalable"):
        raise ValueError(f"unknown seq_mode {seq_mode!r}")
    if parser not in ("catalyst", "arrow"):
        raise ValueError(f"unknown parser {parser!r}")
    seq_fn = add_seq if seq_mode == "exact" else add_seq_scalable
    parse_fn = parse_json if parser == "catalyst" else parse_json_arrow
    parsed = parse_fn(df, schema, json_col, strict=strict, keep=[order_by])
    seqd = seq_fn(parsed, order_by).drop(order_by)
    batched = rebatch(seqd, max_rows=max_rows)
    if serialize:
        return serialize_ipc(batched, max_rows=max_rows, max_ipc_size=max_ipc_size)
    return batched
