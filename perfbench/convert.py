"""``convert_bulk``: pre-generated battery and trip JSON-lines files
through ``operators.pipeline.convert(..., serialize=True)`` with the
default parser (catalyst, strict) and seq mode (exact).

Battery docs are narrow (one short list) and trip docs wide (19 fields,
eleven fixed-size lists), so the two stress per-row parse and serialize
work differently. Each pass converts one whole file and is consumed by a
``noop`` write, which materializes every output column.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.json as pj

import gen
from common import JobCounters, exec_layer, median

# Small enough for three or more passes of each file in a 12 s window
# on a busy host. On 4 cores a pass costs about 1.9 s (battery) and
# 1.3 s (trip) of fixed cost plus 5.6 us and 30 us per doc (README.md).
BATTERY_DOCS = 100_000
TRIP_DOCS = 10_000
CHECK_SHARE = 10  # the checked files hold 1/CHECK_SHARE of the timed docs
WARM_DOCS = 500


def _schema(kind: str):
    from bolson_spark.schemas import BATTERY_SPARK, TRIP_SPARK

    return BATTERY_SPARK if kind == "battery" else TRIP_SPARK


def write_inputs(work_dir: str, seed: int) -> dict[str, dict[str, tuple[str, int]]]:
    """Write the timed and the checked input files once per seed;
    returns {"timed"|"checked": kind -> (path, docs)}."""
    out = {"timed": {}, "checked": {}}
    for kind, n, make in (
        ("battery", BATTERY_DOCS, gen.battery_lines),
        ("trip", TRIP_DOCS, gen.trip_lines),
    ):
        for use, docs, sub in (("timed", n, 0), ("checked", n // CHECK_SHARE, 1)):
            path = os.path.join(work_dir, f"{kind}_{use}.jsonl")
            gen.write_lines(path, make(docs, seed * 2 + sub))
            out[use][kind] = (path, docs)
    return out


def _raw(spark, path):
    from pyspark.sql import functions as F

    # a single file's splits are numbered in file order, so this id is
    # the line's arrival order
    return spark.read.text(path).withColumn("_ln", F.monotonically_increasing_id())


def _convert(spark, kind, path):
    from bolson_spark.operators import convert

    return convert(_raw(spark, path), _schema(kind), "value", "_ln", serialize=True)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, work_dir: str, seed: int) -> None:
    """One untimed pass over a small trip file. The checked passes that
    open ``measure`` finish the warm-up of both schemas."""
    path = os.path.join(work_dir, "warm_trip.jsonl")
    if not os.path.exists(path):
        gen.write_lines(path, gen.trip_lines(WARM_DOCS, seed + 7))
    _noop(_convert(spark, "trip", path))


def _traced_pass(spark, kind, path, tracer) -> int:
    """Materialize each operator's output in turn, one span each.
    Returns the IPC message count."""
    from pyspark.sql import functions as F

    from bolson_spark.operators import add_seq, parse_json, rebatch, serialize_ipc

    cached = []
    try:
        with tracer.span("parse", kind=kind):
            parsed = parse_json(_raw(spark, path), _schema(kind), "value", keep=["_ln"]).cache()
            cached.append(parsed)
            parsed.count()
        with tracer.span("seq", kind=kind):
            seqd = add_seq(parsed, "_ln").cache()
            cached.append(seqd)
            seqd.count()
        with tracer.span("rebatch", kind=kind):
            batched = rebatch(seqd).cache()
            cached.append(batched)
            batched.count()
        with tracer.span("serialize", kind=kind):
            ser = serialize_ipc(batched).cache()
            cached.append(ser)
            return ser.select(F.count(F.lit(1))).first()[0]
    finally:
        for df in cached:
            df.unpersist()


def _verify(spark, kind, path, n) -> bool:
    """Converted content equals an independent pyarrow.json parse of the
    same file, row for row in seq order; seqs are 0..n-1. The IPC
    payloads are decoded here with pyarrow, on the driver."""
    from bolson_spark.schemas import spark_to_arrow_schema

    payloads = _convert(spark, kind, path).select("payload").toArrow().column(0)
    got = pa.concat_tables(
        [pa.ipc.open_stream(p.as_buffer()).read_all() for p in payloads]
    ).sort_by("bolson_seq")
    if got.num_rows != n or got.column("bolson_seq").to_pylist() != list(range(n)):
        return False
    schema = spark_to_arrow_schema(_schema(kind))
    want = pj.read_json(
        path, parse_options=pj.ParseOptions(explicit_schema=schema, unexpected_field_behavior="error")
    )
    # the payload also carries the order key and batch id; compare the
    # schema's own columns
    got = got.select(want.schema.names).cast(want.schema)
    return got.equals(pa.Table.from_batches(want.to_batches(), want.schema))


def measure(spark, seconds: float, files, tracer) -> dict:
    """One pass over each checked file, whose output is compared with an
    independent parse, and one over each timed file (both untimed: the
    first pass over a large file runs about 1.5 times slower than the
    rest), then whole-file passes over the timed files, alternating, for
    ``seconds``. With tracing on, also one staged pass per timed file."""
    t_verify = time.perf_counter()
    checked = files["checked"]
    failed = sum(n for kind, (path, n) in checked.items() if not _verify(spark, kind, path, n))
    verify_s = time.perf_counter() - t_verify
    inputs = files["timed"]
    for kind, (path, _) in inputs.items():
        _noop(_convert(spark, kind, path))
    counters = JobCounters(spark)
    first_job = counters.next_job_id()
    passes: dict[str, list[float]] = {"battery": [], "trip": []}
    docs = 0
    t_start = time.perf_counter()
    kinds = ("battery", "trip")
    i = 0
    # alternate the two files until the window is spent, and end on a
    # trip pass so both files get the same number of passes
    while i % 2 or i == 0 or time.perf_counter() - t_start < seconds:
        kind = kinds[i % 2]
        path, n = inputs[kind]
        t0 = time.perf_counter()
        with tracer.span("convert.pass", kind=kind):
            _noop(_convert(spark, kind, path))
        passes[kind].append(time.perf_counter() - t0)
        docs += n
        i += 1
    wall = time.perf_counter() - t_start
    layers = exec_layer(counters, first_job, wall)

    ipc_messages = 0
    if tracer.enabled:
        for kind in kinds:
            ipc_messages += _traced_pass(spark, kind, inputs[kind][0], tracer)
    layers.update(
        {
            "parse.busy_s": tracer.total("parse"),
            "seq.busy_s": tracer.total("seq"),
            "rebatch.busy_s": tracer.total("rebatch"),
            "serialize.busy_s": tracer.total("serialize"),
            "serialize.ipc_messages": ipc_messages,
        }
    )
    # one battery pass and one trip pass, whatever the number of passes
    fused = median(passes["battery"]) + median(passes["trip"])
    if tracer.enabled:
        staged = sum(tracer.total(s) for s in ("parse", "seq", "rebatch", "serialize"))
        layers["trace.overhead_frac"] = tracer.cost_s() / wall
        layers["trace.staging_frac"] = staged / fused - 1.0
    return {
        "attempted": sum(n for _, n in checked.values()),
        "failed": failed,
        "correct": failed == 0,
        "e2e": {"latency_p50_ms": fused * 1000},
        "layers": layers,
        "detail": {"passes": passes, "docs_per_s": docs / wall, "verify_s": verify_s},
    }
