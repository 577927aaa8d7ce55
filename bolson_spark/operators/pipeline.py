"""The composed convert pipeline — parse -> seq -> rebatch [-> serialize].

This is the reference's converter thread loop (convert/converter.cpp:
96-171: Parse -> Resize -> Serialize) as a declarative DataFrame
composition; Spark tasks replace converter threads, Catalyst fuses the
parse/seq/rebatch projections into one whole-stage-codegen span.

The physical routes of the path — which parser, which seq — follow from
the row count alone (``convert_routes``); ``convert()`` and ``bench
convert`` take both from there. The stream's micro-batch takes only the
parse: it numbers each source partition from its offset
(``add_seq_by_partition``) and coalesces instead of ``rebatch``
(``streaming/pipeline.py``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from bolson_spark import MAX_IPC_SIZE, MAX_ROWS_DEFAULT
from bolson_spark.operators.parse import parse_json, parse_json_arrow
from bolson_spark.operators.rebatch import rebatch
from bolson_spark.operators.seq import add_seq, add_seq_scalable
from bolson_spark.operators.serialize import serialize_ipc

# From this many rows the seq numbers through add_seq_scalable (three
# bucket-parallel passes) instead of add_seq's single-reducer global
# window: the two are parity-tested equal, and a 10M-row batch must not
# serialize its numbering through one executor core.
SEQ_SCALABLE_ROWS = 2_000_000

# From this many rows the parse takes the Arrow C++ reader
# (parse_json_arrow) instead of Catalyst's from_json: Arrow pays a
# fixed Python-worker cost per task and wins on per-row cost. Measured
# on the stream's micro-batch body (parse, seq, rebatch, serialize and
# collect of one cached battery batch), local[4] on a 4-core VM, 8
# interleaved pairs per size in alternating order, two runs at 10k, 20k
# and 40k; median ms and pairs Arrow won:
#
#   rows   Catalyst     Arrow        Arrow won
#   2k     966          1037         3/8
#   10k    1091, 1001   1147, 928    4/8, 4/8
#   15k    1015         1073         2/8
#   20k    1111, 1034   986, 894     7/8, 7/8
#   40k    1695, 1533   1448, 1382   8/8, 7/8
#
# That body still had a global window and a hash rebatch; the stream's
# body now has neither, and the crossover has not been measured again.
ARROW_PARSE_MIN_ROWS = 20_000


def convert_routes(
    rows: int | None,
) -> tuple[Callable[..., DataFrame], Callable[..., DataFrame]]:
    """The one route policy of the convert path: the (parse, seq)
    functions for ``rows`` documents, ``None`` when unknown (bulk, where
    per-row cost dominates). The scalable seq scans its input three
    times; Catalyst's parse prunes to the order key in the key-only
    passes, while ``mapInArrow`` is opaque and would re-parse, so it
    pairs with Catalyst. Both parsers keep one strict contract, so the
    route never changes which documents pass or the payload."""
    if rows is not None and rows >= SEQ_SCALABLE_ROWS:
        return parse_json, add_seq_scalable
    if rows is None or rows >= ARROW_PARSE_MIN_ROWS:
        return parse_json_arrow, add_seq
    return parse_json, add_seq


def convert(
    df: DataFrame,
    schema: T.StructType,
    json_col: str,
    order_by: str,
    *,
    max_rows: int = MAX_ROWS_DEFAULT,
    max_ipc_size: int = MAX_IPC_SIZE,
    serialize: bool = False,
    rows: int | None = None,
) -> DataFrame:
    """Raw JSON rows -> parsed + sequenced + rebatched [+ serialized].

    The output rows (and each IPC payload) are ``bolson_seq`` followed
    by the schema fields — the reference's layout (parse/arrow.cpp:155)
    and the stream's. ``order_by`` only orders the seq; it is dropped
    after numbering. Rows are laid out by ``rebatch``'s seq blocks.

    The parse is strict (the reference's hard error on any bad
    document). ``rows`` is the document count when the caller knows it;
    ``convert_routes(rows)`` picks the parser and the seq from it. Every
    route gives the same rows and payloads.
    """
    parse_fn, seq_fn = convert_routes(rows)
    parsed = parse_fn(df, schema, json_col, keep=[order_by])
    seqd = seq_fn(parsed, order_by).drop(order_by)
    batched = rebatch(seqd, max_rows=max_rows)
    if serialize:
        return serialize_ipc(batched, max_rows=max_rows, max_ipc_size=max_ipc_size)
    return batched
