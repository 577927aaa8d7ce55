"""P4 — sequence-number generation.

Reference semantics: every JSON gets a monotonically-increasing sequence
number reflecting arrival order, carried as a physical non-nullable
``bolson_seq`` uint64 column prepended to the schema
(parse/arrow.cpp:147-163, parse/parser.cpp:34-60). Sequence numbers are
contiguous and 0-based.

Three implementations:

- ``add_seq``        — exact semantics via ``row_number() OVER (ORDER BY
  key)``. A global window is a single-reducer sort: correct and what the
  parity tests use (the reference is itself a single TCP stream,
  stream.cpp:70), but NOT the 100 TB path.
- ``add_seq_scalable`` — the scale path: explicit range buckets +
  partition-offset numbering. Bucket boundaries are computed ONCE on
  the driver (one min/max over the key column only — the upstream
  plan is column-pruned, so e.g. a JSON parse feeding the pipeline does
  NOT run for this pass) and frozen as literals; every subsequent pass
  derives the bucket id from the same literal expression, so all passes
  agree BY CONSTRUCTION. seq = exclusive-prefix-sum(bucket counts)
  [driver-side, O(buckets)] + intra-bucket row_number. The expensive
  full-width pass runs exactly once.

  Why not range partitioning + ``spark_partition_id``: range
  boundaries come from runtime reservoir sampling whose seed involves
  the RDD id, so two ACTIONS over the same plan can partition rows
  differently — a counts pass and a numbering pass may disagree and
  silently mis-number. (Observable at scale; at toy scale AQE coalesces
  the shuffle to one partition, masking it.) Literal boundaries remove
  that failure mode and any AQE dependence.
- ``add_seq_by_partition`` — the reference's per-buffer seq ranges
  (parser.h:34-42), the numbering of the stream's micro-batch and of
  ``convert()``'s partition path. Each source partition takes a
  contiguous range from its row count, which the caller measured on
  the same partitioning; no shuffle, sort or window.
  ``partition_layout`` adds the one layout step both callers share, a
  ``coalesce``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bolson_spark import MAX_ROWS_DEFAULT, SEQ_COL

_NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


def add_seq(
    df: DataFrame,
    order_by: str | list[str],
    name: str = SEQ_COL,
    start: int = 0,
) -> DataFrame:
    """Exact contiguous 0-based sequence numbers in `order_by` order."""
    keys = [order_by] if isinstance(order_by, str) else list(order_by)
    w = Window.orderBy(*[F.col(k) for k in keys])
    out = df.withColumn(name, F.row_number().over(w).cast("bigint") - 1 + start)
    # Reference prepends bolson_seq at column index 0 (parse/arrow.cpp:155)
    return out.select(name, *df.columns)


def add_seq_by_partition(
    df: DataFrame,
    counts: Sequence[int],
    name: str = SEQ_COL,
    start: int = 0,
) -> DataFrame:
    """Contiguous sequence numbers in partition-major arrival order,
    from per-partition row counts: row ``i`` of partition ``p`` gets
    ``start + sum(counts[:p]) + i``.

    ``counts[p]`` must be the row count of ``df``'s partition ``p``, as
    a job over the same partitioning measured it (the caller caches the
    input, so both jobs read the same partitions). The offsets are
    frozen as literals and the local index is the low 33 bits of
    ``monotonically_increasing_id``, so the projection is narrow: no
    shuffle, sort or window. That id counts only the rows that reach
    it, so a filter below (the quarantine's clean rows) leaves no gaps
    when ``counts`` counts the rows it keeps. Since the id is
    partition-major too, the numbering equals ``add_seq`` ordered by it.
    """
    offsets = [start]
    for c in counts[:-1]:
        offsets.append(offsets[-1] + int(c))
    pid = F.spark_partition_id()
    local = F.monotonically_increasing_id() - F.shiftleft(pid.cast("bigint"), 33)
    # the coalesce only types bolson_seq non-nullable, as add_seq's is:
    # every partition that holds a row has an offset. Its fallback is a
    # constant: codegen inlines a primitive literal, so a ``start`` there
    # would compile new code for every new base, while the offsets
    # array is passed by reference
    offset = F.coalesce(
        F.element_at(
            F.array(*[F.lit(o) for o in offsets]).cast("array<bigint>"), pid + 1
        ),
        F.lit(0).cast("bigint"),
    )
    # Reference prepends bolson_seq at column index 0 (parse/arrow.cpp:155)
    return df.select((offset + local).alias(name), *df.columns)


def partition_layout(
    df: DataFrame,
    counts: Sequence[int],
    start: int = 0,
    max_rows: int = MAX_ROWS_DEFAULT,
) -> DataFrame:
    """Each partition of ``df`` numbered from its offset after ``start``
    (``add_seq_by_partition`` over the per-partition row ``counts``),
    then coalesced to one partition per ``4 * max_rows`` rows. Both are
    narrow, so the layout makes no exchange; source partitions keep
    their rows, and the serialize kernel (``serialize.ipc_messages``)
    cuts its messages at any seq gap between the runs a coalesce merged."""
    n = int(sum(counts))
    return add_seq_by_partition(df, counts, start=start).coalesce(
        max(1, n // (4 * max_rows))
    )


def add_seq_scalable(
    df: DataFrame,
    order_by: str | list[str],
    name: str = SEQ_COL,
    start: int = 0,
    num_buckets: int | None = None,
) -> DataFrame:
    """Contiguous sequence numbers without a global sort.

    Three passes, deterministic by construction (see module docstring):

    1. frozen literal bucket boundaries over the NUMERIC key column
       (key-only scan: Catalyst prunes every other column — an upstream
       JSON parse does not execute here). Boundary placement only
       affects balance, never correctness: the per-key seq assignment
       is identical for ANY boundaries because ties share a bucket and
       bases come from exact counts. The buckets are equal-width, from
       one min/max aggregate — the cheapest correct pass, and right for
       the near-uniform arrival keys (offsets, timestamps) seq is
       normally driven by.

    2. exact per-bucket counts (key-only scan) -> exclusive prefix
       sums on the driver, O(buckets) data.
    3. the single full-width pass: shuffle by the literal bucket id,
       intra-bucket ``row_number`` + bucket base.

    Multi-key orders stay scalable when the FIRST key is numeric,
    timestamp, or date (temporal keys bucket through an
    order-preserving numeric image — epoch seconds / day ordinal):
    buckets derive from keys[0] alone (ties on it always share a
    bucket, so bucketing is order-consistent for ANY tie-breaker),
    while the intra-bucket window orders by the full key list — the
    shape q_training_order uses to make its md5-prefix order
    collision-free via a doc-id tie-break. NULL first-keys bucket
    first (the exact path's ASC NULLS FIRST placement). Any other
    FIRST key type falls back to the exact global window (`add_seq`)
    — correct, but not the scale path; pre-map such keys to a numeric
    arrival ordinal to stay scalable.
    """
    keys = [order_by] if isinstance(order_by, str) else list(order_by)
    key_cols = [F.col(k) for k in keys]
    key = keys[0]
    kdt = df.schema[key].dataType
    # the BUCKETING expression must be numeric; the intra-bucket
    # window still orders by the original column, so any
    # order-preserving numeric image works. Timestamps map to epoch
    # seconds (sub-second ties share a bucket — balance only, never
    # correctness, same as any tie) and dates to day ordinals, so the
    # arrival keys the docstring names stay on the scale path instead
    # of silently degrading to the single-reducer global window.
    if isinstance(kdt, _NUMERIC_TYPES):
        kexpr = F.col(key)
    elif isinstance(kdt, (T.TimestampType, T.TimestampNTZType)):
        kexpr = F.col(key).cast("long")
    elif isinstance(kdt, T.DateType):
        kexpr = F.datediff(F.col(key), F.lit("1970-01-01"))
    else:
        return add_seq(df, order_by, name, start)
    sc = df.sparkSession.sparkContext
    n_buckets = num_buckets or sc.defaultParallelism
    # Pass 1: frozen literal boundaries (balance only).
    mm = df.agg(F.min(kexpr).alias("lo"), F.max(kexpr).alias("hi")).first()
    lo, hi = mm["lo"], mm["hi"]
    if lo is None or hi is None or hi <= lo:
        bounds: list[float] = []
    else:
        width = (float(hi) - float(lo)) / n_buckets
        bounds = sorted({float(lo) + i * width for i in range(1, n_buckets)})
    pid_expr = F.lit(0)
    for b in bounds:
        pid_expr = pid_expr + (kexpr > F.lit(b)).cast("int")
    # NULL keys: (NULL > b) is NULL, which would poison the bucket id
    # (and crash the driver-side sorted(counts) on a None key). The
    # exact path's window is ASC NULLS FIRST, so nulls belong in
    # bucket 0 — pin them there explicitly.
    pid_expr = F.when(kexpr.isNull(), F.lit(0)).otherwise(pid_expr)
    # Pass 2: exact per-bucket counts -> exclusive prefix sums.
    counts = dict(
        df.select(pid_expr.alias("_pid"))
        .groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    # a base for every bucket id pid_expr can yield, empty ones too, so
    # the lookup never misses: the coalesce only types bolson_seq
    # non-nullable, as add_seq's is (the stream's handshake schema)
    bases: dict[int, int] = {}
    running = start
    for pid in range(len(bounds) + 1):
        bases[pid] = running
        running += counts.get(pid, 0)
    base_expr = F.coalesce(
        F.element_at(
            F.create_map(*[F.lit(x) for kv in bases.items() for x in kv]),
            F.col("_pid"),
        ),
        F.lit(start),
    )
    # Pass 3: the one full-width pass — shuffle on the literal bucket
    # id, then bucket-local numbering (identical pids in every pass).
    parts = df.withColumn("_pid", pid_expr).repartition(
        max(len(bounds) + 1, 1), F.col("_pid")
    )
    w = Window.partitionBy("_pid").orderBy(*key_cols)
    out = parts.withColumn(
        name, (base_expr + F.row_number().over(w) - 1).cast("bigint")
    )
    # Reference prepends bolson_seq at column index 0 (parse/arrow.cpp:155)
    return out.select(name, *df.columns)
