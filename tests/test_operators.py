"""Core conversion operator tests, mirroring the reference's FNC
requirements (test/bolson/convert/test_convert.h tags cited inline)."""

from __future__ import annotations

import json
import os
import random
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bolson_spark import MAX_IPC_SIZE, MAX_ROWS_DEFAULT
from bolson_spark.operators import (
    add_seq,
    add_seq_by_partition,
    add_seq_scalable,
    batch_stats,
    deserialize_ipc,
    parse_json,
    parse_json_arrow,
    serialize_ipc,
    validate_no_unexpected_fields,
)
from bolson_spark.schemas import (
    BATTERY_SPARK,
    EVENT_PROPS_SPARK,
    TRIP_FIXED_LIST_SIZES,
    TRIP_SPARK,
)


# --- P1 parse -------------------------------------------------------------


def _battery_doc(rng):
    return {"voltage": [rng.randint(0, 2047) for _ in range(rng.randint(1, 16))]}


def _trip_doc(rng):
    d = {}
    for f in TRIP_SPARK.fields:
        n = TRIP_FIXED_LIST_SIZES.get(f.name)
        if n is not None:
            d[f.name] = [rng.randint(1, 99) for _ in range(n)]
        elif f.dataType.typeName() == "boolean":
            d[f.name] = rng.random() < 0.5
        elif f.name == "timestamp":
            d[f.name] = "2005-09-09 11:59:06"
        else:
            d[f.name] = rng.randint(1, 99)
    return d


def _row_key(row, schema):
    return tuple(
        tuple(row[f.name]) if isinstance(row[f.name], list) else row[f.name]
        for f in schema.fields
    )


def test_parse_battery_schema(spark):
    """FNC02: one row per JSON; battery list field parsed losslessly."""
    rng = random.Random(0)
    docs = [
        {"voltage": [rng.randint(0, 2047) for _ in range(rng.randint(1, 16))]}
        for _ in range(100)
    ]
    df = spark.createDataFrame([(json.dumps(d),) for d in docs], ["value"])
    out = parse_json(df, BATTERY_SPARK, "value").collect()
    assert len(out) == len(docs)  # FNC02
    got = sorted(tuple(r.voltage) for r in out)
    want = sorted(tuple(d["voltage"]) for d in docs)
    assert got == want  # FNC03 information equality


def test_parse_trip_schema_and_fixed_list_sizes(spark):
    """FNC04/05/07: trip types; fixed_size_list lengths enforced in test."""
    rng = random.Random(1)
    docs = [_trip_doc(rng) for _ in range(20)]
    df = spark.createDataFrame([(json.dumps(d),) for d in docs], ["value"])
    out = parse_json(df, TRIP_SPARK, "value")
    # timestamp stays a string (FNC05)
    assert dict(out.dtypes)["timestamp"] == "string"
    rows = out.collect()
    assert len(rows) == 20
    for name, size in TRIP_FIXED_LIST_SIZES.items():
        lens = out.select(F.size(name).alias("n")).distinct().collect()
        assert [r.n for r in lens] == [size], name


def test_parse_strict_rejects_unexpected_field(spark):
    """parse/arrow.cpp:87-88 — out-of-schema key is a hard error."""
    df = spark.createDataFrame([('{"k": 1}',), ('{"k": 2, "zz": 3}',)], ["value"])
    with pytest.raises(Exception, match="unexpected JSON field"):
        parse_json(df, EVENT_PROPS_SPARK, "value", strict=True).collect()
    # lenient mode ignores it
    assert sorted(
        r.k for r in parse_json(df, EVENT_PROPS_SPARK, "value", strict=False).collect()
    ) == [1, 2]
    # and the audit query pinpoints the offender
    bad = validate_no_unexpected_fields(df, "value", EVENT_PROPS_SPARK).collect()
    assert len(bad) == 1


def test_parse_failfast_on_malformed(spark):
    df = spark.createDataFrame([('{"k": 1}',), ("{broken",)], ["value"])
    with pytest.raises(Exception):
        parse_json(df, EVENT_PROPS_SPARK, "value", strict=False).collect()


def test_parse_dual_execution_equal(spark):
    """P1 dual execution: the Catalyst from_json impl and the Arrow C++
    JSON TableReader impl (parse/arrow.cpp:72-93) produce identical
    rows and the same declared schema, on the narrow battery and the
    wide trip schema — the reference's CPU-vs-FPGA differential pattern
    (test/bolson/convert/test_opae_battery.cpp:73-88)."""
    rng = random.Random(7)
    for schema, make in ((BATTERY_SPARK, _battery_doc), (TRIP_SPARK, _trip_doc)):
        docs = [make(rng) for _ in range(500)]
        df = spark.createDataFrame(
            [(i, json.dumps(d)) for i, d in enumerate(docs)], ["doc_id", "value"]
        ).repartition(4)
        a = parse_json(df, schema, "value", strict=True, keep=["doc_id"])
        b = parse_json_arrow(df, schema, "value", strict=True, keep=["doc_id"])
        assert a.schema == b.schema
        assert [f for f in a.schema.fields if f.name != "doc_id"] == schema.fields
        ra = sorted((r.doc_id, _row_key(r, schema)) for r in a.collect())
        rb = sorted((r.doc_id, _row_key(r, schema)) for r in b.collect())
        assert ra == rb


def test_parse_arrow_strict_and_malformed(spark):
    """The Arrow twin enforces the same hard-error semantics: unexpected
    top-level field (UnexpectedFieldBehavior::Error) and malformed JSON
    both fail the batch."""
    bad = spark.createDataFrame([('{"k": 2, "zz": 3}',)], ["value"])
    with pytest.raises(Exception, match="JSON parse error|unexpected"):
        parse_json_arrow(bad, EVENT_PROPS_SPARK, "value", strict=True).collect()
    # lenient mode ignores the extra field
    assert [
        r.k
        for r in parse_json_arrow(
            bad, EVENT_PROPS_SPARK, "value", strict=False
        ).collect()
    ] == [2]
    broken = spark.createDataFrame([("{broken",)], ["value"])
    with pytest.raises(Exception):
        parse_json_arrow(broken, EVENT_PROPS_SPARK, "value").collect()


# Documents outside the strict contract that a parser could mistake for
# data: blank ones (Arrow's reader skips blank lines), a NULL document,
# and nulls where BATTERY_SPARK declares the field and its list
# elements non-nullable (from_json parses against the nullable schema).
CONTRACT_BREAKING_DOCS = (
    "",
    "   ",
    None,
    "{}",
    '{"voltage": null}',
    '{"voltage": [1, null]}',
)


def test_parse_arrow_rejects_blank_documents(spark):
    """Arrow's JSON reader silently SKIPS blank lines, shrinking the
    batch: with keep columns that used to surface as an opaque
    from_arrays length mismatch, with keep=[] it silently DROPPED the
    row. from_json, for its part, turns a NULL document, `{}` and
    nulls in non-nullable fields or list elements into nulls. Both
    parsers must reject every such document loudly."""
    for doc in CONTRACT_BREAKING_DOCS:
        # coalesce(1): the mixed batch exercises the row-count check
        # (an all-blank batch trips Arrow's own "Empty JSON file")
        bad = spark.createDataFrame(
            [('{"voltage": [1]}',), (doc,)], "value string"
        ).coalesce(1)
        with pytest.raises(
            Exception,
            match="empty/blank|null JSON document|JSON parse|Empty JSON",
        ):
            parse_json_arrow(bad, BATTERY_SPARK, "value").collect()
        with pytest.raises(Exception, match="null/empty/blank JSON document"):
            parse_json(bad, BATTERY_SPARK, "value").collect()


def test_parse_strict_selects_memoized_per_context(spark):
    """parse_json builds its strict select lists once per (SparkContext,
    schema, column, keep). Two schemas and two keep lists in one session
    give four entries, each with its own plan, schema and rows; a repeat
    call reuses its entry; the strict errors read as before; and an
    entry goes with its context."""
    import gc

    from bolson_spark.operators import parse as parse_mod

    rng = random.Random(5)
    memo = parse_mod._STRICT_SELECTS
    plans = set()
    for schema, make in ((BATTERY_SPARK, _battery_doc), (TRIP_SPARK, _trip_doc)):
        df = spark.createDataFrame(
            [(i, json.dumps(make(rng))) for i in range(20)], "_ln long, value string"
        )
        lenient = parse_json(df, schema, "value", strict=False).collect()
        for keep in (None, ["_ln"]):
            out = parse_json(df, schema, "value", keep=keep)
            entry = memo[spark.sparkContext][(schema.json(), "value", tuple(keep or []))]
            again = parse_json(df, schema, "value", keep=keep)
            assert memo[spark.sparkContext][
                (schema.json(), "value", tuple(keep or []))
            ] is entry
            keep_fields = [df.schema[k] for k in keep or []]
            assert out.schema == T.StructType(keep_fields + schema.fields)
            rows = again.collect()
            assert sorted(_row_key(r, schema) for r in rows) == sorted(
                _row_key(r, schema) for r in lenient
            )
            if keep:
                assert sorted(r._ln for r in rows) == list(range(20))
            plans.add(out._jdf.queryExecution().optimizedPlan().toString())
    assert len(plans) == 4
    # the strict errors, from memoized lists
    for doc, message in (
        ('{"voltage": [1], "zz": 3}', 'unexpected JSON field(s) ["zz"] in document: '),
        ('{"voltage": [1, null]}', "null/empty/blank JSON document or null in a "
         "non-nullable field: "),
    ):
        bad = spark.createDataFrame([(0, doc)], "_ln long, value string")
        for keep in (None, ["_ln"]):
            with pytest.raises(Exception) as err:
                parse_json(bad, BATTERY_SPARK, "value", keep=keep).collect()
            assert "bolson_spark: " + message + doc in str(err.value)

    class Context:
        """A stand-in for a SparkContext that is dropped."""

    n_contexts = len(memo)
    ctx = Context()
    parse_mod._strict_selects(ctx, BATTERY_SPARK, "value", ())
    assert len(memo) == n_contexts + 1
    del ctx
    gc.collect()
    assert len(memo) == n_contexts and spark.sparkContext in memo


# --- P4 seq ---------------------------------------------------------------


def test_add_seq_contiguous(spark):
    df = spark.range(0, 5000).select((F.col("id") * 7 % 4999).alias("key"))
    out = add_seq(df, "key").select("bolson_seq").collect()
    seqs = sorted(r.bolson_seq for r in out)
    assert seqs == list(range(len(seqs)))


def test_add_seq_scalable_matches_global(spark):
    df = spark.range(0, 20000).select(F.col("id").alias("key")).repartition(16)
    a = add_seq(df, "key").select("key", "bolson_seq").collect()
    b = add_seq_scalable(df, "key").select("key", "bolson_seq").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_add_seq_by_partition_matches_window(spark):
    """add_seq_by_partition numbers each partition from its offset: the
    doc->seq mapping equals add_seq over monotonically_increasing_id on
    the same cached partitions, an empty partition included, and
    bolson_seq is non-nullable as add_seq's is."""
    df = (
        spark.range(0, 5000, 1, 5)
        .where((F.col("id") < 1000) | (F.col("id") >= 2000))
        .where(F.col("id") % 7 != 3)
        .cache()
    )
    try:
        pids = df.select(F.spark_partition_id().alias("p")).toArrow()
        counts = [0] * 5
        for p in pids.column("p").to_pylist():
            counts[p] += 1
        assert counts[1] == 0
        got = add_seq_by_partition(df, counts, start=7)
        want = add_seq(
            df.withColumn("_a", F.monotonically_increasing_id()), "_a", start=7
        ).drop("_a")
        assert got.columns == ["bolson_seq", "id"]
        assert not got.schema["bolson_seq"].nullable
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
        assert sorted(r.bolson_seq for r in got.collect()) == list(
            range(7, 7 + sum(counts))
        )
    finally:
        df.unpersist()


def test_add_seq_by_partition_compiles_once_across_bases(spark):
    """A stream numbers every micro-batch from a new base. The base must
    not reach the generated code: after one layout, a layout with a
    different ``start`` (and so different offsets) compiles nothing,
    counted by Spark's codegen compilation metric."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    batch = (
        spark.range(0, 1200, 1, 2)
        .selectExpr("concat('{\"voltage\": [', id, ']}') AS value")
        .cache()
    )
    try:
        parsed = parse_json(batch, BATTERY_SPARK, "value")
        compiles = []
        for start in (0, 123_456):
            before = codegen.METRIC_COMPILATION_TIME().getCount()
            msgs = serialize_ipc(
                add_seq_by_partition(parsed, [600, 600], start=start)
            ).toArrow()
            compiles.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
            assert msgs.column("seq_first").to_pylist() == [start, start + 600]
        assert compiles[1] == 0, compiles
    finally:
        batch.unpersist()


def test_add_seq_scalable_deterministic_without_aqe(spark):
    """Regression: the bucket ids MUST be identical across the counts
    pass and the numbering pass. A repartitionByRange-based scheme
    breaks here — runtime range-sampling reseeds per action, so two
    actions can partition rows differently (masked at toy scale by AQE
    coalescing every shuffle to one partition). Literal boundaries make
    the passes agree by construction, so this holds with AQE off and
    skewed, shuffled input."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = spark.range(0, 50000).select(
            ((F.col("id") * F.col("id")) % 999983).alias("key")
        ).distinct().repartition(16)
        for _ in range(2):
            out = add_seq_scalable(df, "key").select("key", "bolson_seq")
            rows = out.collect()
            seqs = sorted(r.bolson_seq for r in rows)
            assert seqs == list(range(len(rows)))  # contiguous, 0-based
            # seq order == key order
            by_seq = sorted(rows, key=lambda r: r.bolson_seq)
            keys = [r.key for r in by_seq]
            assert keys == sorted(keys)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_seq_column_prepended_at_index_zero(spark):
    """parse/arrow.cpp:155 — bolson_seq is ADDED AT COLUMN INDEX 0, not
    appended, in both physical implementations."""
    df = spark.range(0, 100).select(
        F.col("id").alias("key"), F.lit("x").alias("payload")
    )
    assert add_seq(df, "key").columns == ["bolson_seq", "key", "payload"]
    assert add_seq_scalable(df, "key").columns == [
        "bolson_seq",
        "key",
        "payload",
    ]


def test_seq_metadata_mode(spark):
    """parse/parser.cpp:34-47 (AddSeqAsSchemaMeta) — with seq_column
    off, each outgoing IPC message carries bolson_seq_first/last as
    Arrow schema metadata instead of a physical column."""
    import pyarrow as pa

    df = (
        add_seq(spark.range(1000).select(F.col("id").alias("key")), "key")
        .repartitionByRange(2, "bolson_seq")
        .sortWithinPartitions("bolson_seq")
    )
    msgs = serialize_ipc(df, max_rows=256, seq_mode="metadata").collect()
    assert sum(m.num_rows for m in msgs) == 1000
    spans = []
    for m in msgs:
        with pa.ipc.open_stream(m.payload) as reader:
            batches = list(reader)
            meta = reader.schema.metadata
        assert reader.schema.names == ["key"]  # seq column dropped
        lo = int(meta[b"bolson_seq_first"])
        hi = int(meta[b"bolson_seq_last"])
        assert (lo, hi) == (m.seq_first, m.seq_last)
        assert sum(b.num_rows for b in batches) == hi - lo + 1
        spans.append((lo, hi))
    spans.sort()
    assert spans[0][0] == 0 and spans[-1][1] == 999
    for (_, a1), (b0, _) in zip(spans, spans[1:]):
        assert b0 == a1 + 1


# --- R1 rebatch -----------------------------------------------------------


def test_rebatch_invariants(spark):
    """resizer.cpp:21-50: slices <= max_rows, contiguous, partition the
    input seq range."""
    n = 10_000
    df = add_seq(spark.range(n).select(F.col("id").alias("key")), "key")
    stats = batch_stats(df, max_rows=MAX_ROWS_DEFAULT).collect()
    assert all(r.rows <= MAX_ROWS_DEFAULT for r in stats)
    assert all(r.seq_last - r.seq_first + 1 == r.rows for r in stats)
    ordered = sorted(stats, key=lambda r: r.seq_first)
    assert ordered[0].seq_first == 0
    for prev, cur in zip(ordered, ordered[1:]):
        assert cur.seq_first == prev.seq_last + 1
    assert sum(r.rows for r in stats) == n


def _convert_input(spark, keys, shape="ordered", docs=None):
    """(arrival key, JSON doc) rows, one per key: "ordered" is a
    parallelized list, whose four slices are contiguous in list order;
    "shuffled" deals the same rows round-robin over three partitions."""
    keys = list(keys)
    docs = docs or ['{"voltage": [1]}'] * len(keys)
    raw = spark.createDataFrame(
        spark.sparkContext.parallelize(list(zip(keys, docs)), 4),
        "arrival bigint, value string",
    )
    return raw.repartition(3) if shape == "shuffled" else raw


def test_convert_routes_policy(spark):
    """convert() numbers by partition offset exactly when its input's
    non-empty partitions hold strictly rising ranges of non-null keys
    (a tie inside a partition is fine); any other input takes
    add_seq's window."""
    from bolson_spark.operators import convert
    from bolson_spark.plans import formatted_plan

    ordered = list(range(40))  # slices 0-9, 10-19, 20-29, 30-39
    inside_tie = ordered[:5] + [4] + ordered[6:]
    boundary_tie = ordered[:10] + [9] + ordered[11:]
    null_key = ordered[:15] + [None] + ordered[16:]
    table = [
        (ordered, "ordered", False),
        (inside_tie, "ordered", False),
        ([], "ordered", False),
        (ordered, "shuffled", True),
        (ordered[::-1], "ordered", True),
        (boundary_tie, "ordered", True),
        (null_key, "ordered", True),
    ]
    for keys, shape, window in table:
        df = convert(
            _convert_input(spark, keys, shape), BATTERY_SPARK, "value", "arrival"
        )
        plan = formatted_plan(df)
        assert ("Window" in plan) == window, (keys, shape)
        assert ("Exchange" in plan) == window, (keys, shape)


def _convert_payloads(spark, docs, schema, shape, max_rows):
    """convert(..., serialize=True) of `docs` in arrival order from an
    input of `shape`: the message rows and their decoded tables."""
    import pyarrow as pa

    from bolson_spark.operators import convert

    raw = _convert_input(spark, range(len(docs)), shape, docs)
    out = convert(
        raw, schema, "value", "arrival", max_rows=max_rows, serialize=True
    ).collect()
    return raw, out, [pa.ipc.open_stream(r.payload).read_all() for r in out]


@pytest.mark.parametrize("shape", ["ordered", "shuffled"])
def test_convert_serialize_layout_and_content(spark, shape):
    """convert(..., serialize=True): the payload is bolson_seq plus the
    schema fields, typed as the stream's handshake declares; every
    message covers a contiguous seq run of at most max_rows; the runs
    tile 0..n-1; the rows equal a from_json parse. Ordered input is
    numbered by partition offset, shuffled input by add_seq's window."""
    from bolson_spark.schemas import spark_to_arrow_schema

    n, max_rows = 3000, 256
    rng = random.Random(5)
    docs = [
        json.dumps({"voltage": [rng.randint(0, 9999) for _ in range(i % 4)]})
        for i in range(n)
    ]
    raw, out, tables = _convert_payloads(spark, docs, BATTERY_SPARK, shape, max_rows)
    handshake = spark_to_arrow_schema(
        T.StructType(
            [T.StructField("bolson_seq", T.LongType(), False)]
            + BATTERY_SPARK.fields
        )
    )
    assert all(t.schema == handshake for t in tables)
    for r, t in zip(out, tables):
        assert r.num_rows == t.num_rows <= max_rows
        assert r.seq_last - r.seq_first + 1 == r.num_rows
        assert t.column("bolson_seq").to_pylist() == list(
            range(r.seq_first, r.seq_last + 1)
        )
    spans = sorted((r.seq_first, r.seq_last) for r in out)
    assert spans[0][0] == 0 and spans[-1][1] == n - 1
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert lo == hi + 1
    got = {
        s: v
        for t in tables
        for s, v in zip(
            t.column("bolson_seq").to_pylist(), t.column("voltage").to_pylist()
        )
    }
    # arrival is 0..n-1, so each doc's seq equals its arrival id
    want = {
        r.arrival: r.p.voltage
        for r in raw.select(
            "arrival", F.from_json("value", BATTERY_SPARK).alias("p")
        ).collect()
    }
    assert got == want


def test_convert_routes_give_equal_payloads(spark):
    """The wide trip schema from ordered input (numbered by partition
    offset) and from shuffled input (add_seq's window): every payload
    carries the handshake schema, and the decoded tables are equal."""
    import pyarrow as pa

    from bolson_spark.schemas import spark_to_arrow_schema

    rng = random.Random(9)
    docs = [json.dumps(_trip_doc(rng)) for _ in range(3000)]
    handshake = spark_to_arrow_schema(
        T.StructType(
            [T.StructField("bolson_seq", T.LongType(), False)] + TRIP_SPARK.fields
        )
    )
    decoded = []
    for shape in ("ordered", "shuffled"):
        _, _, tables = _convert_payloads(spark, docs, TRIP_SPARK, shape, 512)
        assert all(t.schema == handshake for t in tables), shape
        decoded.append(pa.concat_tables(tables).sort_by("bolson_seq"))
    assert decoded[0].num_rows == 3000
    assert decoded[0].equals(decoded[1])


def test_convert_ordered_input_runs_three_jobs(spark):
    """A convert(..., serialize=True) pass over ordered input runs at
    most three Spark jobs: the stats aggregate (its map stage and its
    result) and the job that consumes the output."""
    from bolson_spark.operators import convert

    sc = spark.sparkContext
    group = "convert-ordered-jobs"
    raw = _convert_input(spark, range(3000))
    sc.setJobGroup(group, "convert() job count")
    try:
        convert(raw, BATTERY_SPARK, "value", "arrival", serialize=True).write.format(
            "noop"
        ).mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 3, sorted(jobs)


def test_convert_refuses_changed_partitioning(spark, tmp_path):
    """The partition path numbers rows from the counts its stats job
    measured. When a key leaves its partition's measured range before
    the numbering job runs (here the key flips sign once a flag file
    exists, created after convert() returns), that job fails instead of
    publishing wrong seqs — even though the key column is dropped."""
    from bolson_spark.operators import convert

    flag = str(tmp_path / "flip")

    def flip(i):
        return -i if os.path.exists(flag) else i

    key = F.udf(flip, "bigint").asNondeterministic()
    raw = _convert_input(spark, range(100)).withColumn("k", key("arrival"))
    out = convert(raw, BATTERY_SPARK, "value", "k", serialize=True)
    open(flag, "w").close()
    with pytest.raises(Exception, match="partitioning changed"):
        out.select("seq_first").collect()


@pytest.mark.parametrize("schema", ["battery", "trip"])
def test_convert_serialize_matches_parse_then_serialize(spark, schema):
    """convert(..., serialize=True) parses and serializes in one Python
    task. Its messages equal, byte for byte, those of the parse and the
    serialize run as two nodes over the same numbered input
    (``serialize_ipc`` over ``convert(..., serialize=False)``), for
    ordered four-partition input at max_rows 128 and 1024. Arrow
    batches of 200 rows cut the partitions' 300-row runs, so messages
    also break where the kernel's input batches do."""
    from bolson_spark.operators import convert

    spark_schema, make = {
        "battery": (BATTERY_SPARK, _battery_doc),
        "trip": (TRIP_SPARK, _trip_doc),
    }[schema]
    rng = random.Random(13)
    docs = [json.dumps(make(rng)) for _ in range(1200)]
    raw = _convert_input(spark, range(len(docs)), "ordered", docs)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(conf)
    spark.conf.set(conf, "200")
    try:
        for max_rows in (128, 1024):
            got = convert(
                raw, spark_schema, "value", "arrival", max_rows=max_rows,
                serialize=True,
            ).toArrow()
            want = serialize_ipc(
                convert(raw, spark_schema, "value", "arrival", max_rows=max_rows),
                max_rows=max_rows,
            ).toArrow()
            assert got.equals(want), max_rows
            sizes = got.column("num_rows").to_pylist()
            assert sum(sizes) == len(docs), sizes
            assert max(sizes) <= min(max_rows, 200), sizes
    finally:
        spark.conf.set(conf, prior)


def _error_line(run) -> str:
    """The last ``<type>: <message>`` line of the error that `run` raises:
    the Python exception a worker raised, out of Spark's wrapping."""
    with pytest.raises(Exception) as err:
        run()
    lines = re.findall(r"^[\w.]+(?:Error|Invalid): .+$", str(err.value), re.M)
    assert lines, str(err.value)
    return lines[-1]


@pytest.mark.parametrize(
    "bad, max_ipc_size, want",
    [
        ('{"voltage": [1], "zz": 3}', MAX_IPC_SIZE, "JSON parse error: unexpected field"),
        ("   ", MAX_IPC_SIZE, "1 empty/blank JSON document(s)"),
        ('{"voltage": [1', MAX_IPC_SIZE, "JSON parse error: Missing a comma"),
        ('{"voltage": [1]}', 100, "IPC message size"),
    ],
    ids=["unexpected_field", "blank", "malformed", "oversize"],
)
def test_convert_serialize_errors_match_parse_then_serialize(
    spark, bad, max_ipc_size, want
):
    """A bad input fails convert(..., serialize=True) with the error that
    ``parse_json_arrow`` or ``serialize_ipc`` raises for it: an
    unexpected field, a blank and a malformed document in the parse, a
    message over ``max_ipc_size`` in the serialize (FNC10)."""
    from bolson_spark.operators import convert

    raw = _convert_input(spark, range(8), docs=['{"voltage": [1, 2]}'] * 7 + [bad])
    fused = _error_line(
        lambda: convert(
            raw, BATTERY_SPARK, "value", "arrival", max_ipc_size=max_ipc_size,
            serialize=True,
        ).collect()
    )
    two_nodes = _error_line(
        lambda: serialize_ipc(
            convert(raw, BATTERY_SPARK, "value", "arrival"),
            max_ipc_size=max_ipc_size,
        ).collect()
    )
    assert fused == two_nodes and want in fused, (fused, two_nodes)


# --- Z1 serialize ---------------------------------------------------------


def test_ipc_roundtrip_and_size_cap(spark):
    n = 5000
    df = (
        add_seq(spark.range(n).select(F.col("id").alias("key")), "key")
        .repartitionByRange(4, "bolson_seq")
        .sortWithinPartitions("bolson_seq")
    )
    ser = serialize_ipc(df).cache()
    msgs = ser.collect()
    # FNC02/slicing: every message <= max_rows; rows conserved
    assert all(m.num_rows <= MAX_ROWS_DEFAULT for m in msgs)
    assert sum(m.num_rows for m in msgs) == n
    # seq ranges contiguous within a message and non-overlapping overall
    assert all(m.seq_last - m.seq_first + 1 == m.num_rows for m in msgs)
    spans = sorted((m.seq_first, m.seq_last) for m in msgs)
    for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
        assert b0 == a1 + 1
    # FNC03: deserialize restores the exact rows
    back = deserialize_ipc(ser, "bolson_seq bigint, key bigint").collect()
    assert sorted((r.key, r.bolson_seq) for r in back) == [(i, i) for i in range(n)]
    ser.unpersist()


def test_ipc_size_cap_errors_not_splits(spark):
    """serializer.cpp:33-37 — FNC10: exceeding max_ipc is an error."""
    df = (
        add_seq(
            spark.range(2000).selectExpr("id", "repeat('x', 4000) AS pad"), "id"
        )
    )
    with pytest.raises(Exception, match="IPC message size"):
        serialize_ipc(df, max_rows=2000, max_ipc_size=1000).collect()


@pytest.mark.parametrize("schema", ["battery", "trip"])
def test_driver_kernel_matches_serialize_ipc(spark, schema):
    """The stream serializes a collected micro-batch on the driver with
    the kernel ``serialize_ipc`` runs in its tasks. For a one-partition
    batch numbered from its base, and for a four-partition
    ``partition_layout`` batch with seq gaps between its partitions,
    ``serialize_table`` over ``ordered.toArrow()`` equals
    ``serialize_ipc(ordered).toArrow()`` byte for byte: messages break at
    the gaps and every ``max_rows`` rows. An over-size message raises
    the same error on both paths, and an empty table gives no messages
    in ``SERIALIZED_ARROW_SCHEMA``, the schema of ``serialize_ipc``'s
    collect."""
    from bolson_spark.operators.seq import partition_layout
    from bolson_spark.operators.serialize import (
        SERIALIZED_ARROW_SCHEMA,
        serialize_table,
    )

    spark_schema, make = {
        "battery": (BATTERY_SPARK, _battery_doc),
        "trip": (TRIP_SPARK, _trip_doc),
    }[schema]
    max_rows = 100
    rng = random.Random(11)
    docs = [(json.dumps(make(rng)),) for _ in range(700)]
    one = spark.createDataFrame(docs, "value string").coalesce(1).cache()
    four = spark.createDataFrame(docs[:440], "value string").coalesce(4).cache()
    try:
        pids = four.select(F.spark_partition_id().alias("p")).toArrow()
        counts = [0] * 4
        for p in pids.column("p").to_pylist():
            counts[p] += 1
        assert all(c > max_rows for c in counts), counts
        batches = {
            "one_partition": add_seq_by_partition(
                parse_json(one, spark_schema, "value"), [], start=5000
            ),
            # three seqs of gap after each partition's run
            "four_partitions": partition_layout(
                parse_json(four, spark_schema, "value"),
                [c + 3 for c in counts],
                start=77,
                max_rows=max_rows,
            ),
        }
        for name, ordered in batches.items():
            want = serialize_ipc(ordered, max_rows=max_rows).toArrow()
            got = serialize_table(ordered.toArrow(), max_rows=max_rows)
            assert got.equals(want), name
            if name == "four_partitions":
                offsets = [77]
                for c in counts[:-1]:
                    offsets.append(offsets[-1] + c + 3)
                assert got.column("seq_first").to_pylist() == [
                    x for o in offsets for x in (o, o + max_rows)
                ]
            limit = min(got.column("ipc_bytes").to_pylist()) - 1
            errors = []
            for run in (
                lambda: serialize_ipc(
                    ordered, max_rows=max_rows, max_ipc_size=limit
                ).toArrow(),
                lambda: serialize_table(
                    ordered.toArrow(), max_rows=max_rows, max_ipc_size=limit
                ),
            ):
                with pytest.raises(Exception, match="exceeds maximum") as err:
                    run()
                errors.append(str(err.value))
            want_error = "bolson_spark: IPC message size {} exceeds maximum {}".format(
                got.column("ipc_bytes")[0], limit
            )
            assert all(want_error in e for e in errors), errors
        empty = batches["one_partition"].limit(0)
        got = serialize_table(empty.toArrow())
        assert got.num_rows == 0 and got.schema == SERIALIZED_ARROW_SCHEMA
        assert got.equals(serialize_ipc(empty).toArrow())
    finally:
        one.unpersist()
        four.unpersist()


# --- skew utilities -------------------------------------------------------


def test_salted_join_equals_plain_join(spark):
    """Salting changes only the shuffle key distribution, never the
    result — verified on a pathologically skewed fact table."""
    from bolson_spark.operators import salted_join

    rng = random.Random(5)
    # 90% of fact rows share one hot key
    fact = spark.createDataFrame(
        [(0 if rng.random() < 0.9 else rng.randint(1, 50), i) for i in range(20_000)],
        ["k", "v"],
    )
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(40)], ["k", "name"])
    for how in ("inner", "left"):
        plain = {tuple(r) for r in fact.join(dim, "k", how).collect()}
        salted = {tuple(r) for r in salted_join(fact, dim, "k", how, salt=8).collect()}
        assert salted == plain, how


def test_salted_agg_equals_plain_agg(spark):
    from bolson_spark.operators import salted_agg
    from pyspark.sql import functions as F

    rng = random.Random(6)
    df = spark.createDataFrame(
        [(0 if rng.random() < 0.8 else rng.randint(1, 5), rng.randint(0, 1000))
         for _ in range(20_000)],
        ["k", "v"],
    )
    plain = {
        (r.k, r.s, r.n, r.mn, r.mx)
        for r in df.groupBy("k")
        .agg(
            F.sum("v").alias("s"),
            F.count("v").alias("n"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    out = salted_agg(df, ["k"], {"v": "sum"}, salt=8)
    # count via a second call (distinct agg fns per column in one call)
    cnt = salted_agg(df.withColumn("one", F.lit(1)), ["k"], {"one": "count"}, salt=8)
    mnx = salted_agg(df, ["k"], {"v": "min"}, salt=4).join(
        salted_agg(df, ["k"], {"v": "max"}, salt=4), "k"
    )
    merged = {
        (r.k, r.sum_v, c.count_one, m.min_v, m.max_v)
        for r in out.collect()
        for c in cnt.collect()
        if c.k == r.k
        for m in mnx.collect()
        if m.k == r.k
    }
    assert merged == plain


def test_parse_json_quarantine_routes_instead_of_failing(spark):
    """Dead-letter parse: malformed docs and out-of-schema docs are
    CLASSIFIED (reason + raw evidence) while clean docs parse, in one
    pass — no job failure, parsed fields null on quarantined rows."""
    from bolson_spark.operators.parse import parse_json_quarantine
    from bolson_spark.schemas import EVENT_PROPS_SPARK

    df = spark.createDataFrame(
        [
            (1, '{"k": 7}'),
            (2, '{"k": 7'),  # truncated -> malformed
            (3, '{"k": 1, "intruder": 2}'),  # out-of-schema key
            (4, "not json at all"),
            (5, '{"k": "not-a-long"}'),  # schema-type mismatch
        ],
        ["event_id", "value"],
    )
    out = {
        r.event_id: r
        for r in parse_json_quarantine(
            df, EVENT_PROPS_SPARK, "value", keep=["event_id"]
        ).collect()
    }
    assert out[1].quarantine_reason is None
    assert out[1].k == 7 and out[1].raw is None
    assert out[2].quarantine_reason == "malformed"
    assert out[2].k is None and out[2].raw == '{"k": 7'
    assert out[3].quarantine_reason == "unexpected_field"
    assert out[3].k is None and out[3].raw == '{"k": 1, "intruder": 2}'
    assert out[4].quarantine_reason == "malformed"
    assert out[5].quarantine_reason == "malformed"
    # what the strict parsers reject is malformed here, nulls included
    docs = list(enumerate(CONTRACT_BREAKING_DOCS)) + [(99, '{"voltage": [1]}')]
    df = spark.createDataFrame(docs, "event_id bigint, value string")
    got = {
        r.event_id: r.quarantine_reason
        for r in parse_json_quarantine(
            df, BATTERY_SPARK, "value", keep=["event_id"]
        ).collect()
    }
    assert got == {i: "malformed" for i, _ in docs[:-1]} | {99: None}


def test_add_seq_scalable_two_key_tiebreak(spark):
    """Multi-key scalable path: buckets derive from the numeric FIRST
    key; the second key breaks ties so the assignment is a collision-
    free total order — must equal the exact global window on the same
    two keys, including heavy first-key ties landing in one bucket."""
    import random

    from pyspark.sql import functions as F

    from bolson_spark.operators.seq import add_seq, add_seq_scalable

    rng = random.Random(11)
    rows = [(rng.randint(0, 9), i) for i in range(500)]  # many _k ties
    df = spark.createDataFrame(rows, "k bigint, doc_id bigint")
    got = add_seq_scalable(df, ["k", "doc_id"], name="seq", num_buckets=8)
    want = add_seq(df, ["k", "doc_id"], name="seq")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # contiguity + determinism across re-execution
    seqs = sorted(r.seq for r in got.collect())
    assert seqs == list(range(500))
    # non-numeric first key still falls back to the exact window
    sdf = df.select(F.col("k").cast("string").alias("ks"), "doc_id")
    fb = add_seq_scalable(sdf, ["ks", "doc_id"], name="seq")
    assert sorted(r.seq for r in fb.collect()) == list(range(500))


def test_add_seq_scalable_null_keys_number_first(spark):
    """NULL order keys must not crash the driver-side prefix-sum pass
    ((NULL > bound) poisons the bucket id into None) and must number
    FIRST — the exact path's ASC NULLS FIRST placement, so the two
    implementations stay semantically equal on nullable keys."""
    from bolson_spark.operators import add_seq, add_seq_scalable

    rows = [(None,), (5,), (1,), (None,), (9,), (3,)]
    df = spark.createDataFrame(rows, "key int").repartition(3)
    a = sorted(
        (r.key, r.bolson_seq)
        for r in add_seq(df, "key", start=0).collect()
        if r.key is not None
    )
    b = sorted(
        (r.key, r.bolson_seq)
        for r in add_seq_scalable(df, "key", num_buckets=4).collect()
        if r.key is not None
    )
    assert a == b
    # the two NULL rows take seq 0 and 1 on both paths
    for fn in (add_seq, add_seq_scalable):
        null_seqs = sorted(
            r.bolson_seq for r in fn(df, "key").collect() if r.key is None
        )
        assert null_seqs == [0, 1], fn.__name__


def test_add_seq_scalable_timestamp_key_stays_scalable(spark):
    """A timestamp arrival key — the docstring's own normal case —
    must bucket through the epoch-seconds image instead of silently
    degrading to the single-reducer global window: same numbering as
    add_seq, and the plan partitions by the bucket id."""
    import datetime as dt

    from bolson_spark.operators import add_seq, add_seq_scalable

    base = dt.datetime(2026, 1, 1)
    rows = [(base + dt.timedelta(seconds=s),) for s in (30, 5, 90, 60, 0)]
    df = spark.createDataFrame(rows, "ts timestamp").repartition(3)
    a = {
        (r.ts, r.bolson_seq) for r in add_seq(df, "ts").collect()
    }
    out = add_seq_scalable(df, "ts", num_buckets=3)
    assert {(r.ts, r.bolson_seq) for r in out.collect()} == a
    # scale-path evidence: the one full-width pass shuffles on the
    # literal bucket id, not a global single-partition sort
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(_pid" in plan


def test_serialize_ipc_rejects_missing_seq_column(spark):
    """serialize_ipc on a frame WITHOUT the seq column must raise at
    call time: pyarrow's get_field_index returns -1 for a missing
    column and column(-1) is Python negative indexing, so the old
    behavior emitted garbage seq_first/seq_last from whatever column
    happened to be last — silently."""
    import pytest as _pytest

    from bolson_spark.operators import serialize_ipc

    df = spark.createDataFrame([(1, "a")], "x bigint, y string")
    with _pytest.raises(ValueError, match="seq column 'bolson_seq'"):
        serialize_ipc(df)
