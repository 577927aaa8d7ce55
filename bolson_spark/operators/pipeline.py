"""The composed convert pipeline — seq -> parse [-> serialize].

This is the reference's converter thread loop (convert/converter.cpp:
96-171: Parse -> Resize -> Serialize) as a declarative DataFrame
composition; Spark tasks replace converter threads. Like the reference
(parse/parser.h:34-42) and the stream, ``convert()`` gives each input
partition a contiguous seq range from its row count; the parse is the
Arrow reader, where the stream's micro-batch parses with Catalyst.
With ``serialize=True`` the parse and the cut-and-serialize run in one
``mapInArrow`` task, ``parse.parse_batches`` feeding
``serialize.ipc_messages``, as the reference's thread runs them in one
loop: one Python worker per task, and the parsed columns never go back
to the JVM.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bolson_spark import MAX_IPC_SIZE, MAX_ROWS_DEFAULT, SEQ_COL
from bolson_spark.operators.parse import parse_batches, parse_json_arrow
from bolson_spark.operators.seq import add_seq, partition_layout
from bolson_spark.operators.serialize import SERIALIZED_SCHEMA, ipc_messages
from bolson_spark.schemas import spark_to_arrow_schema


def convert(
    df: DataFrame,
    schema: T.StructType,
    json_col: str,
    order_by: str,
    *,
    max_rows: int = MAX_ROWS_DEFAULT,
    max_ipc_size: int = MAX_IPC_SIZE,
    serialize: bool = False,
) -> DataFrame:
    """Raw JSON rows -> sequenced + parsed [+ serialized].

    The output rows (and each IPC payload) are ``bolson_seq`` followed
    by the schema fields — the reference's layout (parse/arrow.cpp:155)
    and the stream's. ``bolson_seq`` numbers the rows in ``order_by``
    order, nulls first; the key is then dropped. The parse is strict.

    One key-only job runs when ``convert()`` is called: each input
    partition's row count, null keys and key range. With no null key
    and each non-empty partition's keys above the previous one's (a
    file scan, a parallelized list), each partition is sorted locally
    and numbered from its offset (``partition_layout``), with no
    exchange. The input must then keep its partitioning for the job
    that runs the result, as a file scan or a cached frame does; a row
    whose key is outside its partition's measured range fails that job
    (an uncached range exchange can move rows, see
    ``add_seq_scalable``). Any other input takes ``add_seq``'s window.
    """
    key = F.col(order_by)
    stats = sorted(
        df.groupBy(F.spark_partition_id().alias("p"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(key).alias("keys"),
            F.min(key).alias("lo"),
            F.max(key).alias("hi"),
        )
        .collect(),
        key=lambda r: r.p,
    )
    rising = all(r.n == r.keys for r in stats) and all(
        a.hi < b.lo for a, b in zip(stats, stats[1:])
    )
    if rising:
        parts = stats[-1].p + 1 if stats else 0
        counts, lo, hi = [0] * parts, [None] * parts, [None] * parts
        for r in stats:
            counts[r.p], lo[r.p], hi[r.p] = r.n, r.lo, r.hi
        key_type = T.ArrayType(df.schema[order_by].dataType)
        pid = F.spark_partition_id() + 1

        def bound(values: list) -> Column:
            return F.try_element_at(
                F.array(*[F.lit(v) for v in values]).cast(key_type), pid
            )

        # a filter is never pruned, so the guard runs in every job that
        # reads the result, the key's own column dropped or not
        guarded = df.where(
            F.coalesce(
                F.assert_true(
                    key.between(bound(lo), bound(hi)),
                    "bolson_spark: convert() input partitioning changed "
                    "after its stats job (cache the input)",
                ),
                F.lit(True),
            )
        )
        seqd = partition_layout(
            guarded.sortWithinPartitions(order_by), counts, max_rows=max_rows
        )
    else:
        seqd = add_seq(df, order_by)
    # numbered before the parse, so the key never reaches Python
    cols = seqd.select(SEQ_COL, json_col)
    if not serialize:
        return parse_json_arrow(cols, schema, json_col, keep=[SEQ_COL])
    declared = spark_to_arrow_schema(
        T.StructType([cols.schema[SEQ_COL], *schema.fields])
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        parsed = parse_batches(batches, declared, json_col, [SEQ_COL])
        return ipc_messages(parsed, max_rows, max_ipc_size)

    return cols.mapInArrow(fn, SERIALIZED_SCHEMA)
