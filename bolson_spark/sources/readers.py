"""S1 — sources.

The reference's only data source is a TCP stream of newline-delimited
JSON documents parsed against an explicit, user-supplied schema
(stream.cpp:127-161; framing doc/src/design-overview.md:110-123). The
Spark-native equivalents, all schema-explicit (never inferred — the
reference never infers, parse/arrow.cpp:31-58):

- ``read_json_lines``         batch: text lines -> strict parse
- ``read_json_lines_stream``  streaming: the `bolson stream` source
  (``format("text")`` for files, ``format("socket")`` for the literal
  TCP analog — pass a DataFrame from either into the stream pipeline)
- ``read_csv_with_schema``    extension surface: explicit-schema CSV
- ``read_parquet_table``      the testdata tables (see session.py)

Scale notes: the text reader splits files at line boundaries across
tasks (the same whole-documents-per-buffer contract the reference's
client enforces by reverse-scanning for '\\n'); FAILFAST + the strict
key check preserve error-on-malformed/unexpected semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bolson_spark.operators.parse import parse_json
from bolson_spark.session import load_table


def read_json_lines(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    strict: bool = True,
) -> DataFrame:
    """Newline-delimited JSON file(s) -> parsed DataFrame.

    Implemented as text-scan + ``from_json`` (not ``spark.read.json``)
    so strictness semantics are identical between the batch and
    streaming paths, and the raw line is available for error messages.
    """
    raw = spark.read.text(path)
    return parse_json(raw, schema, "value", strict=strict)


def read_json_lines_stream(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming line-framed source over a directory (each line = one
    JSON document). Returns the raw `value STRING` stream to feed
    ``streaming.run_stream_convert`` (parse happens there, per
    micro-batch, exactly like the reference's converter threads)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def read_socket_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """The literal TCP analog of the reference's illex client
    (stream.cpp:127): one line per JSON document over a socket. Each
    micro-batch is one partition (Spark's default deals its lines
    round-robin over ``defaultParallelism``), so the stream's
    partition-major seq is the socket's arrival order."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .option("numPartitions", 1)
        .load()
    )


def read_csv_with_schema(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    header: bool = True,
) -> DataFrame:
    """Explicit-schema CSV (FAILFAST — malformed rows error, matching
    the engine's parse philosophy)."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", "FAILFAST")
        .csv(path)
    )


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    *,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Kafka streaming-source option mapping (the production partner
    of streaming/sink.py::KafkaSink): subscribe + offset posture +
    per-micro-batch rate cap (``maxOffsetsPerTrigger`` is the
    micro-batch analog of the reference client's bounded in-flight
    buffers)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    *,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka topic -> line-framed JSON stream shaped for
    ``run_stream_convert`` (string ``value`` plus partition/offset for
    the per-partition seq semantics of SURVEY §1.4). Requires the
    spark-sql-kafka connector — absent in this sandbox, so this fails
    fast with a clear env-missing error; the option mapping above is
    the unit-tested surface."""
    opts = kafka_source_options(
        bootstrap_servers,
        topic,
        starting_offsets=starting_offsets,
        max_offsets_per_trigger=max_offsets_per_trigger,
    )
    try:
        raw = spark.readStream.format("kafka").options(**opts).load()
    except Exception as e:  # noqa: BLE001 — connector/classpath missing
        raise RuntimeError(
            "kafka source unavailable: the spark-sql-kafka connector is "
            "not on the classpath in this environment; add the connector "
            "jar and a reachable broker to use read_kafka_stream"
        ) from e
    return raw.selectExpr(
        "CAST(value AS STRING) AS value", "partition", "offset"
    )
