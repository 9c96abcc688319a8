"""Stream readers — the "server" half of the reference's transports.

| reference server | here |
|---|---|
| kafka-consumer (kafka.clj:92-119) | ``read_kafka_events`` — native Kafka source + JSON codec; broker-less correctness signal via ``sources.kafka_codec`` (RecordBatch-v2 byte codec, oracle-gated by ``kafka_codec_roundtrip``) |
| tcp/udp protobuf servers (transport/tcp.clj:246-296) | ``sources.servers`` — in-process loopback servers (int32-framed TCP w/ ack+query, UDP datagrams) that decode each frame once, on arrival, and lift the spooled events into a local relation; at deploy scale ``read_kafka_msg_frames`` bridges the same ``Msg`` frames through Kafka, decoded inside Spark by ``sources.protobuf.msg_binary_to_events`` (pure-Python wire codec, no protobuf lib needed); both build rows with ``sources.protobuf.event_columns`` |
| ws-server ingest (websockets.clj:94-133) | socket/file source + JSON codec |
| graphite/opentsdb servers | ``read_socket_lines`` + the line parsers |

``sources.servers.TcpMsgServer`` also serves the protocol's ack and
query halves (ack Msg per frame; query Msg answered through the query
-language compiler over an index snapshot), matching the reference's
handle-request split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from riemann_spark.schema import EVENT_SCHEMA
from riemann_spark.sources.json_codec import events_from_json


def read_events_stream(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """File-based streaming source over event-schema data (the test
    and replay path; also the 100 TB backfill path — the same topology
    runs over historical parquet)."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    return reader.format(fmt).load(path)


def read_kafka_events(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "latest",
    keep_extra: bool = False,
) -> DataFrame:
    """Kafka JSON events → event frame (kafka-consumer parity).

    Requires the spark-sql-kafka package on the cluster; this builds
    the plan only (nothing to connect to in this container)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return events_from_json(raw, "value", keep_extra=keep_extra)


def read_kafka_msg_frames(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka binary ``Msg`` frames → event frame: the tcp/udp protobuf
    ingest path (transport.clj:107-132) with Kafka as the wire bridge.
    The record value is one protobuf Msg (possibly multi-event); the
    pure-Python wire codec fans it out to event rows."""
    from riemann_spark.sources.protobuf import msg_binary_to_events

    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return msg_binary_to_events(raw, "value")


def read_socket_lines(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Raw text lines from a socket (dev-mode graphite/opentsdb
    ingest); pipe through the line parsers."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
        .withColumnRenamed("value", "line")
    )
