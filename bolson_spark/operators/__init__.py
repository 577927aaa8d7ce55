"""The reference's pipeline operators as pure DataFrame->DataFrame
functions (SURVEY.md §2.1): parse (P1), seq (P4) with its
per-partition layout, serialize-IPC (Z1), and the composed convert
pipeline. ``rebatch`` (R1, a hash seq-block layout) is on no convert
path any more."""

from bolson_spark.operators.parse import (
    parse_json,
    parse_json_arrow,
    validate_no_unexpected_fields,
)
from bolson_spark.operators.rebatch import add_batch_id, batch_stats, rebatch
from bolson_spark.operators.seq import (
    add_seq,
    add_seq_by_partition,
    add_seq_scalable,
    partition_layout,
)
from bolson_spark.operators.serialize import deserialize_ipc, serialize_ipc
from bolson_spark.operators.pipeline import convert
from bolson_spark.operators.skew import salted_agg, salted_join

__all__ = [
    "parse_json",
    "parse_json_arrow",
    "validate_no_unexpected_fields",
    "add_seq",
    "add_seq_scalable",
    "add_seq_by_partition",
    "partition_layout",
    "add_batch_id",
    "rebatch",
    "batch_stats",
    "serialize_ipc",
    "deserialize_ipc",
    "convert",
    "salted_join",
    "salted_agg",
]
