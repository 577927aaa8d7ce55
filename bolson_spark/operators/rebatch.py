"""R1 — resize / ordered re-batching.

Reference semantics (convert/resizer.cpp:21-50): a parsed batch with
more than ``max_rows`` rows is sliced (zero-copy) into consecutive
chunks of at most ``max_rows`` rows; each slice's sequence range is the
contiguous sub-range it covers; slices partition the input range in
order. Default max_rows = 1024 (cli.cpp:37-39).

Spark-first mapping: with contiguous ``bolson_seq`` starting at
``base``, every layout decision is pure arithmetic on the seq column.

- ``add_batch_id``: the logical output batch, ``floor((seq - base) /
  max_rows)`` — evaluated inside whole-stage codegen, no shuffle.
- ``rebatch``: a physical seq-block layout, on no convert path: the
  stream and ``convert()`` number each source partition from its
  offset (``seq.partition_layout``), which leaves every partition one
  contiguous seq run, or (``convert()``'s fallback) by ``add_seq``'s
  window into one partition. It stays exported for
  ``perfbench/convert.py``'s traced pass, which imports it; delete it
  once that pass stops. Rows move in blocks of ``4 * max_rows``
  consecutive seqs, ``block = floor(seq / (4 * max_rows))``,
  hash-partitioned on the block and sorted by seq within each
  partition, with no range-sampling job. Hash collisions can put
  several non-adjacent blocks in one partition; ``serialize_ipc``
  slices within contiguous seq runs, so every message still covers a
  contiguous seq range.
- ``batch_stats``: the per-slice seq-range stats that the reference's
  Resizer recomputes (resizer.cpp:27-42).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bolson_spark import MAX_ROWS_DEFAULT, SEQ_COL


def add_batch_id(
    df: DataFrame,
    max_rows: int = MAX_ROWS_DEFAULT,
    seq_col: str = SEQ_COL,
    base: int = 0,
    name: str = "batch_id",
) -> DataFrame:
    """Assign each row its output-batch id (shuffle-free arithmetic)."""
    return df.withColumn(
        name, F.floor((F.col(seq_col) - F.lit(base)) / F.lit(max_rows))
    )


def rebatch(
    df: DataFrame,
    max_rows: int = MAX_ROWS_DEFAULT,
    seq_col: str = SEQ_COL,
) -> DataFrame:
    """Co-locate contiguous seq blocks and order rows by seq.

    One hash exchange on the block id into ``defaultParallelism``
    partitions (module docstring), then a per-partition sort on
    ``seq_col``; the output has exactly the input columns.
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    block = F.floor(F.col(seq_col) / (4 * max_rows))
    return (
        df.withColumn("_block", block)
        .repartition(n_parts, F.col("_block"))
        .sortWithinPartitions(seq_col)
        .drop("_block")
    )


def batch_stats(
    df: DataFrame,
    max_rows: int = MAX_ROWS_DEFAULT,
    seq_col: str = SEQ_COL,
    base: int = 0,
) -> DataFrame:
    """Per-output-batch seq range + row count (resizer.cpp:27-42 analog).

    Invariants the tests assert: rows <= max_rows; ranges contiguous
    (seq_last - seq_first + 1 == rows); batches partition the input.
    """
    return (
        add_batch_id(df, max_rows, seq_col, base)
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.min(seq_col).alias("seq_first"),
            F.max(seq_col).alias("seq_last"),
        )
    )
