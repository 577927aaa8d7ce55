"""P1 — schema-driven JSON parse.

Reference semantics (parse/arrow.cpp:72-93,107-168):
- explicit schema, never inferred;
- malformed JSON is a hard error (Arrow TableReader fails the buffer);
- a document containing a field NOT in the schema is a hard error
  (``UnexpectedFieldBehavior::Error``, parse/arrow.cpp:87-88);
- output is columnar (one RecordBatch per input buffer).

Spark-first mapping: ``from_json(col, schema, mode=FAILFAST)`` gives
schema-driven parse + error-on-malformed, JVM-side inside whole-stage
codegen (no Python in the hot path). ``from_json`` silently *ignores*
unexpected fields, so strictness is restored with a JSON-key check
compiled to built-in expressions (``json_object_keys`` +
``array_except`` + ``raise_error``) — still zero Python, fully
vectorized, and Catalyst prunes it when ``strict=False``.

Both strict parsers (``parse_json``, ``parse_json_arrow``) reject the
same documents and emit the declared schema, nullability included:
bulk ``convert()`` parses with the Arrow reader, the stream's
micro-batch with Catalyst. The Arrow parse is one pyarrow kernel,
``parse_batches``: ``parse_json_arrow`` maps it over each partition,
and ``convert(..., serialize=True)`` chains it into the serialize
kernel in the same task.
"""

from __future__ import annotations

import operator
import weakref
from collections.abc import Iterable, Iterator, Sequence
from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.json as pajson
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bolson_spark.schemas import spark_to_arrow_schema


def _unexpected_keys(col: Column, schema: T.StructType) -> Column:
    """Top-level JSON keys of `col` that are not in `schema`."""
    expected = F.array(*[F.lit(f.name) for f in schema.fields])
    return F.array_except(F.json_object_keys(col), expected)


def _null_violation(parsed: Column, schema: T.StructType) -> Column:
    """True where the struct `parsed` is null (a NULL, blank or
    JSON-null document) or holds a null in a field or list element that
    `schema` declares non-nullable. ``from_json`` parses against the
    all-nullable twin of the schema, so it returns these as nulls where
    Arrow's reader raises."""
    conds = [parsed.isNull()]
    for f in schema.fields:
        c = parsed[f.name]
        if not f.nullable:
            conds.append(c.isNull())
        if isinstance(f.dataType, T.ArrayType) and not f.dataType.containsNull:
            conds.append(F.exists(c, lambda x: x.isNull()))
    return reduce(operator.or_, conds)


def _as_declared(col: Column, field: T.StructField) -> Column:
    """`col` typed with `field`'s declared nullability. Sound only where
    ``_null_violation`` has already rejected the nulls: the fallback
    value is never produced, it only tells the analyzer the value
    cannot be null. Other non-nullable types stay nullable-typed."""
    dt = field.dataType
    if isinstance(dt, T.ArrayType) and not dt.containsNull:
        col = F.array_compact(col)
    atomic = (T.StringType, T.NumericType, T.BooleanType)
    if not field.nullable and isinstance(dt, (T.ArrayType, *atomic)):
        zero = F.array() if isinstance(dt, T.ArrayType) else F.lit(0)
        col = F.coalesce(col, zero.cast(dt))
    return col.alias(field.name)


def as_declared(df: DataFrame, schema: T.StructType) -> DataFrame:
    """The fields of `schema` out of `df`, retyped to the declared
    nullability, as the strict parse emits them — for the clean rows of
    ``parse_json_quarantine``."""
    return df.select(*[_as_declared(F.col(f.name), f) for f in schema.fields])


def validate_no_unexpected_fields(
    df: DataFrame, column: str, schema: T.StructType
) -> DataFrame:
    """Rows whose JSON payload has top-level keys outside `schema`.

    Empty result == every document conforms (parse/arrow.cpp:87-88).
    Exposed separately so the check is also usable as a query/audit.
    """
    bad = _unexpected_keys(F.col(column), schema)
    return df.where(F.size(bad) > 0)


def parse_batches(
    batches: Iterable[pa.RecordBatch],
    schema: pa.Schema,
    column: str = "value",
    keep: Sequence[str] = (),
    strict: bool = True,
) -> Iterator[pa.RecordBatch]:
    """The Arrow parse kernel: each batch's JSON documents in `column`
    parsed by the Arrow C++ reader, one output batch per non-empty
    input batch. `schema` is the declared output: the `keep` columns,
    passed through, then the parsed fields, and every batch is typed
    with it, nullability included. It raises on a null, blank or
    malformed document and on a null in a non-nullable field, and, when
    `strict`, on an unexpected field. The documents are newline-joined
    (the source is line-framed JSON, stream.cpp) and handed to the
    reader in one call."""
    target = pa.schema(list(schema)[len(keep):])
    popts = pajson.ParseOptions(
        explicit_schema=target,
        unexpected_field_behavior="error" if strict else "ignore",
    )
    for batch in batches:
        if batch.num_rows == 0:
            continue
        docs = batch.column(column).cast(pa.string())
        if docs.null_count:
            raise ValueError("bolson_spark: null JSON document")
        # newline-join the documents entirely in C (one list -> one
        # string), then hand the raw utf-8 data buffer to the reader
        # zero-copy; no per-document Python objects
        joined = pc.binary_join(
            pa.ListArray.from_arrays([0, len(docs)], docs), pa.scalar("\n")
        )
        blob = joined.buffers()[2]
        ropts = pajson.ReadOptions(block_size=max(len(blob) + 1, 1 << 20))
        tbl = pajson.read_json(
            pa.BufferReader(blob), read_options=ropts, parse_options=popts
        )
        # Arrow's reader SKIPS blank lines, so an empty/whitespace
        # document silently shrinks the output: with keep columns that
        # surfaces as an opaque length-mismatch error below; with
        # keep=[] it would silently DROP the row — where the catalyst
        # twin's FAILFAST raises. Enforce the strict contract with a
        # clear error either way.
        if tbl.num_rows != batch.num_rows:
            raise ValueError(
                "bolson_spark: "
                f"{batch.num_rows - tbl.num_rows} empty/blank JSON "
                "document(s) in batch — the strict parse contract "
                "(FAILFAST twin) rejects documents that are not a "
                "JSON object"
            )
        cols = [batch.column(k) for k in keep]
        cols += [tbl.column(f.name).combine_chunks() for f in target]
        yield pa.RecordBatch.from_arrays(cols, schema=schema)


def parse_json_arrow(
    df: DataFrame,
    schema: T.StructType,
    column: str = "value",
    *,
    strict: bool = True,
    keep: list[str] | None = None,
) -> DataFrame:
    """Second physical implementation of P1: the Arrow C++ JSON
    TableReader via ``mapInArrow`` — the very parser the reference's CPU
    path wraps (parse/arrow.cpp:72-93: ``arrow::json::TableReader`` with
    ``UnexpectedFieldBehavior::Error``). The reference ships two physical
    parsers behind one logical operator (CPU Arrow vs FPGA battery/trip)
    and differential-tests them (test/convert/test_opae_battery.cpp:73-88);
    ``parse_json`` (Catalyst ``from_json``) vs this function is the same
    pattern, tested equal in tests/test_operators.py.

    Scale shape: narrow map, zero shuffle; Arrow batches stream through
    ``parse_batches`` in the Python worker without a pandas detour.
    """
    keep = list(keep or [])
    out_schema = T.StructType([df.schema[k] for k in keep] + list(schema.fields))
    declared = spark_to_arrow_schema(out_schema)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return parse_batches(batches, declared, column, keep, strict)

    return df.mapInArrow(fn, out_schema)


def parse_json(
    df: DataFrame,
    schema: T.StructType,
    column: str = "value",
    *,
    strict: bool = True,
    keep: list[str] | None = None,
) -> DataFrame:
    """Parse a string column of JSON documents against an explicit schema.

    strict=True reproduces the reference's UnexpectedFieldBehavior::Error:
    any row with an out-of-schema top-level key raises at execution time
    via the built-in ``raise_error`` expression (no Python, no collect),
    and so does every other breach of the strict contract (module
    docstring); the output then carries the declared nullability.
    ``keep`` lists pass-through columns to retain next to the parsed
    fields (e.g. the arrival key used for sequence numbers).
    """
    if strict:
        staged, guarded, declared = _strict_selects(
            df.sparkSession.sparkContext, schema, column, tuple(keep or [])
        )
        return df.select(*staged).select(*guarded).select(*declared)
    keep_cols = [F.col(c) for c in (keep or [])]
    parsed = F.from_json(F.col(column), schema, {"mode": "FAILFAST"})
    return df.select(*keep_cols, parsed.alias("_parsed")).select(
        *keep_cols, "_parsed.*"
    )


# The strict parse's three select lists, per SparkContext and
# (schema, column, keep). Every Column call is a py4j round trip (about
# 450 to build the battery lists, 2700 for trip, against 20 and 40 for
# the selects alone) and a stream builds the same lists every
# micro-batch, so they are built once. The Columns are unresolved
# expressions, valid in any plan of their context's JVM; the weak key
# drops an entry with its context.
_STRICT_SELECTS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _strict_selects(
    sc, schema: T.StructType, column: str, keep: tuple[str, ...]
) -> tuple[list[Column], list[Column], list[Column]]:
    memo = _STRICT_SELECTS.setdefault(sc, {})
    key = (schema.json(), column, keep)
    if key not in memo:
        memo[key] = _build_strict_selects(schema, column, keep)
    return memo[key]


def _build_strict_selects(
    schema: T.StructType, column: str, keep: tuple[str, ...]
) -> tuple[list[Column], list[Column], list[Column]]:
    src = F.col(column)
    parsed = F.from_json(src, schema, {"mode": "FAILFAST"})
    keep_cols = [F.col(c) for c in keep]
    # STAGE the parse result under an alias, then guard on the aliased
    # COLUMN: referencing the from_json expression in both the
    # when-condition and the otherwise branch would parse every
    # document twice (measured ~1.8x on the battery parse —
    # CollapseProject keeps the stage boundary precisely because the
    # alias is consumed more than once).
    staged = [*keep_cols, src.alias("_src"), parsed.alias("_p")]
    p = F.col("_p")
    guard = F.when(
        # from_json's FAILFAST quirks: a NULL, empty/whitespace or
        # JSON-literal-null document yields a NULL struct, and a null in
        # a non-nullable field or list element passes, where the
        # reference's reader (and the Arrow twin) raise. Found from the
        # parse RESULT — not a trim() scan, which would re-walk every
        # document string for the rare blank one.
        _null_violation(p, schema),
        F.raise_error(
            F.concat(
                F.lit(
                    "bolson_spark: null/empty/blank JSON document or "
                    "null in a non-nullable field: "
                ),
                F.coalesce(F.col("_src"), F.lit("NULL")),
            )
        ),
    ).when(
        F.size(_unexpected_keys(F.col("_src"), schema)) > 0,
        F.raise_error(
            F.concat(
                F.lit("bolson_spark: unexpected JSON field(s) "),
                F.to_json(_unexpected_keys(F.col("_src"), schema)),
                F.lit(" in document: "),
                F.col("_src"),
            )
        ),
    ).otherwise(p)
    guarded = [*keep_cols, guard.alias("_parsed")]
    declared = [
        *keep_cols,
        *[_as_declared(F.col("_parsed")[f.name], f) for f in schema.fields],
    ]
    return staged, guarded, declared


def parse_json_quarantine(
    df: DataFrame,
    schema: T.StructType,
    column: str = "value",
    *,
    keep: list[str] | None = None,
) -> DataFrame:
    """Dead-letter variant of P1: instead of failing the job on the
    first bad document (the reference's semantics, parse/arrow.cpp:87),
    classify each row and let the caller route it. Production ingest
    pipelines at 100 TB need this — one malformed crawl record must
    not kill a 10-hour job; the reference can afford hard errors only
    because its unit of work is a single TCP stream.

    Adds two columns next to the parsed fields:

    - ``quarantine_reason``: null for clean rows, ``'malformed'`` for
      documents the parser rejects (invalid JSON, schema-type mismatch,
      or a null where the schema declares a non-nullable field or list
      element), ``'unexpected_field'`` for valid documents carrying
      out-of-schema top-level keys (UnexpectedFieldBehavior::Error
      re-expressed as routing instead of raising);
    - ``raw`` — the original document for quarantined rows (null
      otherwise), so the dead-letter sink keeps the evidence.

    Parsed fields are NULL on quarantined rows, so they stay
    nullable-typed; ``as_declared`` retypes the clean rows. Single pass, all
    built-in expressions (PERMISSIVE ``from_json`` with a corrupt
    record column + ``json_object_keys``), zero Python.
    """
    src = F.col(column)
    ext = T.StructType(
        list(schema.fields)
        + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    parsed = F.from_json(
        src,
        ext,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
    )
    keep_cols = [F.col(c) for c in (keep or [])]
    step = df.select(
        *keep_cols,
        src.alias("_src"),
        parsed.alias("_parsed"),
        _unexpected_keys(src, schema).alias("_extra"),
    )
    reason = (
        F.when(
            F.col("_parsed._corrupt_record").isNotNull(), F.lit("malformed")
        )
        .when(F.col("_extra").isNull(), F.lit("malformed"))
        .when(_null_violation(F.col("_parsed"), schema), F.lit("malformed"))
        .when(F.size("_extra") > 0, F.lit("unexpected_field"))
        .otherwise(F.lit(None).cast("string"))
    )
    out = step.select(
        *[c for c in (keep or [])],
        *[
            F.when(reason.isNull(), F.col(f"_parsed.{f.name}")).alias(f.name)
            for f in schema.fields
        ],
        reason.alias("quarantine_reason"),
        F.when(reason.isNotNull(), F.col("_src")).alias("raw"),
    )
    return out
