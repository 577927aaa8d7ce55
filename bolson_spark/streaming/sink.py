"""K1/K2/K3 — publish sinks with schema handshake and producer batching.

The reference publishes serialized batches to Pulsar (publisher.cpp:
185-250) and, on startup, performs a schema handshake with the topic:
if the topic is empty it publishes the serialized Arrow schema as
message #1; otherwise it reads message #1 and errors if the schema
differs from the expected one (publisher.cpp:81-143). Producer batching
is configured with max messages / max bytes / max delay
(publisher.cpp:63-69, CLI defaults publisher.cpp:265-277).

Spark mapping: the pub/sub boundary is ``foreachBatch`` + a
``PublishSink``. The driver serializes each micro-batch's collected
rows into its IPC messages, one Arrow table (the reference's IPC queue
item, publisher.h:43-47), and ``write`` publishes that table from the
driver. Three backends share the handshake protocol:

- ``IpcFileSink`` — directory-backed topic stand-in (the only backend
  that can run in this environment; fully end-to-end tested): one
  parquet file per micro-batch, written with pyarrow and renamed into
  place, so publishing runs no Spark job;
- ``KafkaSink`` — the production path: ``df.write.format("kafka")``
  with the batching options mapped onto the Kafka producer
  (``kafka.batch.size`` <- max_bytes, ``kafka.linger.ms`` <-
  max_delay_ms; Kafka has no max-messages-per-batch knob, the byte cap
  bounds it). No broker exists in this sandbox, so the Kafka calls are
  exercised up to the network boundary in tests (message assembly,
  option mapping, handshake verify logic) and documented as the
  swap-in production backend;
- ``PulsarSink`` — the reference's own transport, same
  tested-to-the-boundary posture (no pulsar-spark connector in this
  sandbox): ``BatchingOptions`` -> ``pulsar.producer.batching*``, and
  the 5 MiB - 10 KiB default message-size cap (publisher.h:39-41).
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class SchemaMismatchError(RuntimeError):
    """Topic's registered schema differs from the producer's schema
    (publisher.cpp:132-140 analog)."""


@dataclass
class BatchingOptions:
    """Producer batching (K3) — fields and defaults mirror the
    reference's Pulsar batching CLI (publisher.cpp:265-277)."""

    enable: bool = False
    max_messages: int = 1000
    max_bytes: int = 128 * 1024
    max_delay_ms: int = 10


class PublishSink:
    """Shared publish-or-verify schema handshake (K2). Backends
    implement ``_read_topic_schema`` / ``_publish_schema`` / ``write``.
    """

    def _read_topic_schema(self) -> pa.Schema | None:
        raise NotImplementedError

    def _publish_schema(self, schema: pa.Schema) -> None:
        raise NotImplementedError

    def handshake(self, expected: pa.Schema) -> None:
        """Empty topic -> publish the serialized schema as message #1;
        else verify message #1 equals `expected` (publisher.cpp:81-143).
        """
        existing = self._read_topic_schema()
        if existing is None:
            self._publish_schema(expected)
        elif not existing.equals(expected):
            raise SchemaMismatchError(
                f"topic schema {existing} != producer schema {expected}"
            )

    def write(self, messages: pa.Table) -> None:
        """Publish one micro-batch's IPC messages: a driver-side table
        with ``serialize.SERIALIZED_SCHEMA``'s columns (payload, seq_first,
        seq_last, num_rows, ipc_bytes), one row per message."""
        raise NotImplementedError


class IpcFileSink(PublishSink):
    """Directory-backed stand-in for a pub/sub topic: `_schema.arrow`
    plays the role of message #1; each micro-batch's message rows land
    as one parquet file under `messages/`."""

    def __init__(self, path: str):
        self.path = path
        self.data_path = os.path.join(path, "messages")
        self.schema_path = os.path.join(path, "_schema.arrow")
        os.makedirs(self.path, exist_ok=True)

    def _read_topic_schema(self) -> pa.Schema | None:
        if not os.path.exists(self.schema_path):
            return None
        with pa.memory_map(self.schema_path) as f:
            return pa.ipc.read_schema(f)

    def _publish_schema(self, schema: pa.Schema) -> None:
        with open(self.schema_path, "wb") as f:
            f.write(schema.serialize())

    def write(self, messages: pa.Table) -> None:
        """Append one micro-batch of IPC-message rows as one parquet
        file. It is written under a hidden name, which Spark's readers
        skip, and renamed into place, so no reader sees a partial
        file."""
        os.makedirs(self.data_path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.data_path, f".{name}.tmp")
        pq.write_table(messages, tmp)
        os.replace(tmp, os.path.join(self.data_path, name))

    def read(self, spark) -> DataFrame:
        return spark.read.parquet(self.data_path)


class KafkaSink(PublishSink):
    """Kafka producer backend (K1): one Kafka message per IPC message,
    key = seq_first (orders within a partition; consumers re-sort by
    seq — SURVEY.md §1.4), value = the Arrow IPC payload.

    Requires the spark-sql-kafka connector and a reachable broker —
    neither exists in this sandbox, so ``write``/``_read_topic_schema``
    reach the network boundary and fail there; everything up to that
    boundary (message assembly, producer options, handshake logic) is
    unit-tested.
    """

    def __init__(
        self,
        spark,
        bootstrap_servers: str,
        topic: str,
        *,
        batching: BatchingOptions | None = None,
        max_msg_size: int | None = None,
    ):
        self.spark = spark
        self.bootstrap_servers = bootstrap_servers
        self.topic = topic
        self.batching = batching or BatchingOptions()
        self.max_msg_size = max_msg_size

    def producer_options(self) -> dict[str, str]:
        """Kafka options implementing the reference's batching config
        (publisher.cpp:63-69): max_bytes -> kafka.batch.size,
        max_delay_ms -> kafka.linger.ms. Kafka has no per-batch message
        cap; the byte cap bounds batch size instead."""
        opts = {
            "kafka.bootstrap.servers": self.bootstrap_servers,
            "topic": self.topic,
        }
        if self.batching.enable:
            opts["kafka.batch.size"] = str(self.batching.max_bytes)
            opts["kafka.linger.ms"] = str(self.batching.max_delay_ms)
        if self.max_msg_size is not None:
            # producer-side cap, the broker-side analog of Pulsar's
            # --pulsar-max-msg-size (publisher.cpp:268)
            opts["kafka.max.request.size"] = str(self.max_msg_size)
        return opts

    @staticmethod
    def to_messages(serialized: DataFrame) -> DataFrame:
        """IPC-message rows -> Kafka producer records: binary `value` =
        IPC payload, `key` = seq_first (string bytes), seq range carried
        as message headers."""
        return serialized.select(
            F.col("payload").alias("value"),
            F.col("seq_first").cast("string").cast("binary").alias("key"),
            F.array(
                F.struct(
                    F.lit("seq_first").alias("key"),
                    F.col("seq_first").cast("string").cast("binary").alias("value"),
                ),
                F.struct(
                    F.lit("seq_last").alias("key"),
                    F.col("seq_last").cast("string").cast("binary").alias("value"),
                ),
            ).alias("headers"),
        )

    def _read_topic_schema(self) -> pa.Schema | None:
        """Read message #1 from the topic (batch Kafka read of offset 0
        on partition 0) and parse it as a serialized Arrow schema."""
        first = (
            self.spark.read.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap_servers)
            .option("subscribe", self.topic)
            .option("startingOffsets", "earliest")
            .load()
            .where("partition = 0 and offset = 0")
            .select("value")
            .limit(1)
            .collect()
        )
        if not first:
            return None
        return pa.ipc.read_schema(pa.BufferReader(first[0].value))

    def _schema_message_df(self, schema: pa.Schema):
        """The schema handshake record, PINNED to partition 0: the
        verify side reads exactly (partition 0, offset 0), so an
        unpinned publish on a multi-partition topic could land the
        schema on any partition — the restarted producer's handshake
        would then find nothing at p0/o0, publish a SECOND schema
        message interleaved among data, and the documented
        skip-message-#1 consumer protocol would deserialize garbage.
        (Spark's Kafka sink honors an integer ``partition`` column.)"""
        return self.spark.createDataFrame(
            [(bytes(schema.serialize()), 0)], "value binary, partition int"
        )

    def _publish_schema(self, schema: pa.Schema) -> None:
        (
            self._schema_message_df(schema)
            .write.format("kafka")
            .options(**self.producer_options())
            .save()
        )

    def write(self, messages: pa.Table) -> None:
        (
            self.to_messages(self.spark.createDataFrame(messages))
            .write.format("kafka")
            .options(**self.producer_options())
            .option("includeHeaders", "true")
            .save()
        )


# Reference default: Pulsar's 5 MiB broker max minus 10 KiB of message
# envelope headroom (publisher.h:39-41).
PULSAR_DEFAULT_MAX_MSG_SIZE = 5 * 1024 * 1024 - 10 * 1024


class PulsarSink(PublishSink):
    """Pulsar producer backend — the reference's actual transport
    (publisher.cpp:185-250). Maps ``BatchingOptions`` onto the public
    Pulsar producer batching config (publisher.cpp:63-69: max messages /
    max bytes / max publish delay) using the pulsar-spark connector's
    ``pulsar.producer.*`` option namespace, and defaults the FNC10
    message-size cap to 5 MiB - 10 KiB (publisher.h:39-41).

    The read/write methods issue REAL ``format("pulsar")`` calls (the
    connector's documented batch/producer API), so the backend works
    as-is once the connector jar and a broker are present; in this
    sandbox neither exists, so ``make_sink("pulsar://...")`` fails
    fast and the methods translate the connector's absence into the
    same clear env-missing error. Option mapping, message assembly and
    handshake logic are unit-tested directly (the same
    tested-to-the-network-boundary posture as ``KafkaSink``).
    """

    def __init__(
        self,
        spark,
        service_url: str,
        topic: str,
        *,
        batching: BatchingOptions | None = None,
        max_msg_size: int | None = None,
    ):
        self.spark = spark
        self.service_url = service_url
        self.topic = topic
        self.batching = batching or BatchingOptions()
        self.max_msg_size = (
            PULSAR_DEFAULT_MAX_MSG_SIZE if max_msg_size is None else max_msg_size
        )

    def producer_options(self) -> dict[str, str]:
        """Pulsar producer config implementing the reference's batching
        CLI (publisher.cpp:265-277): max_messages ->
        batchingMaxMessages, max_bytes -> batchingMaxBytes, max_delay_ms
        -> batchingMaxPublishDelayMicros (ms -> us)."""
        opts = {
            "service.url": self.service_url,
            "topic": self.topic,
            "pulsar.producer.batchingEnabled": str(
                self.batching.enable
            ).lower(),
        }
        if self.batching.enable:
            opts["pulsar.producer.batchingMaxMessages"] = str(
                self.batching.max_messages
            )
            opts["pulsar.producer.batchingMaxBytes"] = str(
                self.batching.max_bytes
            )
            opts["pulsar.producer.batchingMaxPublishDelayMicros"] = str(
                self.batching.max_delay_ms * 1000
            )
        return opts

    # message assembly is transport-agnostic: same (value, key, headers)
    # shape as Kafka — Pulsar carries seq range as message properties
    to_messages = staticmethod(KafkaSink.to_messages)

    def _read_topic_schema(self) -> pa.Schema | None:
        """Read message #1 from the topic via the pulsar-spark batch
        reader and parse it as a serialized Arrow schema."""
        try:
            first = (
                self.spark.read.format("pulsar")
                .option("service.url", self.service_url)
                .option("topics", self.topic)
                .option("startingOffsets", "earliest")
                .load()
                .orderBy("publishTime")
                .select("value")
                .limit(1)
                .collect()
            )
        except Exception as e:  # noqa: BLE001 — see _translate
            raise _translate_pulsar_error(e) from e
        if not first:
            return None
        return pa.ipc.read_schema(pa.BufferReader(first[0].value))

    def _publish_schema(self, schema: pa.Schema) -> None:
        df = self.spark.createDataFrame(
            [(bytes(schema.serialize()),)], "value binary"
        )
        try:
            df.write.format("pulsar").options(
                **self.producer_options()
            ).save()
        except Exception as e:  # noqa: BLE001 — see _translate
            raise _translate_pulsar_error(e) from e

    def _capped_messages(self, serialized: DataFrame) -> DataFrame:
        """Producer records with the FNC10 size cap ENFORCED client-side
        (error-not-split, matching serialize_ipc's semantics): Pulsar
        has no producer-side max-request knob like Kafka's, so a
        payload above the 5 MiB - 10 KiB broker budget raises here
        instead of bouncing off the broker at publish time."""
        msgs = self.to_messages(serialized)
        guard = F.when(
            F.octet_length("value") > self.max_msg_size,
            F.raise_error(
                F.concat(
                    F.lit(
                        "bolson_spark: IPC message exceeds pulsar "
                        "max message size "
                    ),
                    F.lit(str(self.max_msg_size)),
                )
            ),
        ).otherwise(F.col("value"))
        return msgs.withColumn("value", guard)

    def write(self, messages: pa.Table) -> None:
        try:
            (
                self._capped_messages(self.spark.createDataFrame(messages))
                .write.format("pulsar")
                .options(**self.producer_options())
                .save()
            )
        except Exception as e:  # noqa: BLE001 — see _translate
            raise _translate_pulsar_error(e) from e


def _translate_pulsar_error(e: Exception) -> Exception:
    """Map CONNECTOR-ABSENCE failures to the clear env-missing error;
    anything else (the FNC10 size-cap raise_error, broker auth/topic
    errors on a live cluster) must propagate untranslated — masking a
    cap violation as 'backend unavailable' would be a wrong diagnosis."""
    msg = str(e)
    markers = (
        "Failed to find data source: pulsar",
        "DATA_SOURCE_NOT_FOUND",
        # scoped to the data-source lookup: a bare ClassNotFoundException
        # marker would also match missing transitive deps (codecs etc.)
        # on a connector-present cluster and misdiagnose them
        "ClassNotFoundException: pulsar",
    )
    if any(m in msg for m in markers):
        return _pulsar_env_missing()
    return e


def _pulsar_env_missing() -> RuntimeError:
    return RuntimeError(
        "pulsar backend unavailable: the pulsar-spark connector and a "
        "reachable broker are required, and neither exists in this "
        "environment. The PulsarSink option mapping and handshake are "
        "unit-tested; swap in a real cluster by adding the connector "
        "jar and a pulsar://host:6650/topic URL."
    )


def _pulsar_connector_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.pulsar.client.api.PulsarClient"
        )
        return True
    except Exception:  # noqa: BLE001 — absent class/jvm == unavailable
        return False


def make_sink(
    spark,
    url: str,
    *,
    batching: BatchingOptions | None = None,
    max_msg_size: int | None = None,
) -> PublishSink:
    """Sink factory: ``kafka://host:port/topic`` -> KafkaSink,
    ``pulsar://host:port/topic`` -> PulsarSink (requires the
    pulsar-spark connector on the classpath), anything else is a
    directory path -> IpcFileSink."""
    if url.startswith("kafka://"):
        rest = url[len("kafka://") :]
        servers, _, topic = rest.partition("/")
        if not servers or not topic:
            raise ValueError(
                f"kafka sink url must be kafka://host:port/topic, got {url!r}"
            )
        return KafkaSink(
            spark, servers, topic, batching=batching, max_msg_size=max_msg_size
        )
    if url.startswith("pulsar://"):
        rest = url[len("pulsar://") :]
        servers, _, topic = rest.partition("/")
        if not servers or not topic:
            raise ValueError(
                f"pulsar sink url must be pulsar://host:port/topic, got {url!r}"
            )
        if not _pulsar_connector_available(spark):
            raise _pulsar_env_missing()
        return PulsarSink(
            spark,
            f"pulsar://{servers}",
            topic,
            batching=batching,
            max_msg_size=max_msg_size,
        )
    return IpcFileSink(url)
