"""Kafka source/sink builders (S1 / K1 / K2 in SURVEY.md §2).

The reference consumes topic ``orders`` with group ``order-consumer-group``
(auto.offset.reset=earliest, manual commit — consumer.py:26-32) and
produces to ``orders`` / ``orders-dlq``. In Spark, group management and
offset commits are subsumed by structured-streaming checkpoints; these
builders translate the reference's client config onto the Kafka source/
sink options.

This container has neither a broker nor the spark-sql-kafka jar, so
everything here is import-safe config plumbing: ``kafka_available()``
gates usage, and the streaming tests run against the file-source twin
(streaming/pipeline.py) which exercises identical logic downstream of
the source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DEFAULT_BOOTSTRAP = "localhost:9092"
ORDERS_TOPIC = "orders"  # producer.py:112
DLQ_TOPIC = "orders-dlq"  # consumer.py:40


def kafka_available(spark: SparkSession) -> bool:
    """True if the spark-sql-kafka data source is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def read_orders_stream(
    spark: SparkSession,
    bootstrap: str = DEFAULT_BOOTSTRAP,
    topic: str = ORDERS_TOPIC,
    starting_offsets: str = "earliest",  # auto.offset.reset=earliest (consumer.py:28)
) -> DataFrame:
    """Kafka source with the reference consumer's semantics. Returns the
    envelope columns (key/value/topic/partition/offset/timestamp/headers)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("includeHeaders", "true")
        .load()
    )


def write_kafka_batch(
    df: DataFrame,
    topic: str,
    bootstrap: str = DEFAULT_BOOTSTRAP,
) -> None:
    """Batch Kafka sink (used inside foreachBatch): expects ``key`` and
    ``value`` binary columns, optionally ``headers``.

    Unlike the file sinks, a topic cannot replace a replayed batch's
    records: Spark's Kafka sink is at-least-once, so a replay appends
    again. Exactly-once on topics needs a transactional producer whose
    transaction is keyed on (query id, batch_id), or readers that dedupe
    on topic/partition/offset."""
    (
        df.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .save()
    )
