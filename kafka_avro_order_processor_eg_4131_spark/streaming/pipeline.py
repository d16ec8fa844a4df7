"""The flagship streaming pipeline — the reference's live consumer loop
(consumer.py:126-211) restated as Structured Streaming (SURVEY.md §3.2):

    envelope stream -> OCF decode (E2) -> 3-way route (P3-P5)
      -> foreachBatch:
           success   -> running aggregate (A1-A3) + success sink
           permanent -> DLQ sink with 5 metadata headers (P6/K2)
           transient -> retry sink (F2 policy: NOT committed to
                        success/DLQ; surfaced for redelivery)

Delivery semantics: each micro-batch either fully commits (checkpoint
advances after all three sinks succeed) or is replayed — at-least-once
per batch. This is deliberately stronger than the reference, whose
per-record manual commit can silently skip past uncommitted transient
offsets (the F2 lost-retry bug, SURVEY.md §2.6 — documented, not
reproduced).

Broker-free twin: the same pipeline runs from a file (parquet) envelope
source so tests and CI need no Kafka; the logic downstream of the
source is byte-identical.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.avro_ocf import ocf_decode_udf
from ..functions.routing import status_expr
from ..schemas import (
    ORDER_AVRO_SCHEMA_JSON,
    STATUS_PERMANENT,
    STATUS_SUCCESS,
    STATUS_TRANSIENT,
)
from .retry import with_retry

ORDER_DDL = "orderId string, product string, price float"


class _ProgressTap:
    """StreamingQueryListener that accumulates every progress event as a
    plain dict, uncapped — ``recentProgress`` retains only the newest
    ``spark.sql.streaming.numRecentProgressUpdates`` (default 100)
    entries, so a long availableNow run's early batches would otherwise
    vanish from the latency percentiles (round-7 advice). Deferred
    subclassing: pyspark's StreamingQueryListener is imported lazily so
    merely importing this module never touches the listener machinery.
    """

    def __new__(cls):
        from pyspark.sql.streaming import StreamingQueryListener

        class _Impl(StreamingQueryListener):
            def __init__(self) -> None:
                import threading

                self._lock = threading.Lock()
                self._events: list[dict] = []

            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                import json

                p = json.loads(event.progress.json)
                with self._lock:
                    self._events.append(p)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

            def progress_for(self, query_id: str) -> list[dict]:
                with self._lock:
                    return [p for p in self._events if p.get("id") == query_id]

        return _Impl()


# ---------------------------------------------------------------------------
# stages (each usable on batch or streaming DataFrames)
# ---------------------------------------------------------------------------


def decode_orders(envelope: DataFrame) -> DataFrame:
    """E2: OCF container bytes -> order struct. Corrupt payloads decode to
    an all-null struct and route to the permanent/DLQ branch, mirroring
    the reference's catch-all (consumer.py:272-276)."""
    decode = ocf_decode_udf(ORDER_AVRO_SCHEMA_JSON, ORDER_DDL)
    return envelope.withColumn("order", decode(F.col("value")))


def route_orders(decoded: DataFrame) -> DataFrame:
    """P3-P5: status tag per record."""
    return decoded.withColumn("status", status_expr(F.col("order.price")))


def dlq_enrich(batch: DataFrame, error_reason_col) -> DataFrame:
    """P6: build the DLQ record — ORIGINAL raw bytes + key (consumer.py:
    99-105) and the 5 reference headers (consumer.py:90-96) in Spark's
    Kafka-sink headers shape."""

    def hdr(k: str, v):
        return F.struct(F.lit(k).alias("key"), v.cast("binary").alias("value"))

    return batch.select(
        F.col("value"),  # original serialized bytes, unmodified
        F.col("key"),
        F.array(
            hdr("error_reason", error_reason_col),
            hdr("original_topic", F.col("topic")),
            hdr("original_partition", F.col("partition").cast("string")),
            hdr("original_offset", F.col("offset").cast("string")),
            hdr("timestamp", F.unix_timestamp().cast("string")),
        ).alias("headers"),
    )


# ---------------------------------------------------------------------------
# foreachBatch router (the multi-sink write, SURVEY.md §4.2)
# ---------------------------------------------------------------------------


@dataclass
class PipelineSinks:
    """File-based sinks for the broker-free twin. With Kafka available,
    success/dlq/retry would be topics via sources.kafka.write_kafka_batch
    — same batch DataFrames, different format.

    Every sink is append-only and delivery is at-least-once: a
    micro-batch replayed N times (a failed write, a restart before the
    checkpoint commit) appends N copies to every sink that wrote in
    those attempts, healthy ones included, since the four writes run
    concurrently and a failing one does not stop the others. Readers of
    ``agg_dir`` must dedupe on ``batch_id`` before summing; the
    success/DLQ/retry rows carry topic/partition/offset to dedupe on."""

    success_dir: str
    dlq_dir: str
    retry_dir: str
    agg_dir: str


def process_batch(batch: DataFrame, batch_id: int, sinks: PipelineSinks) -> None:
    """One micro-batch through the 3-way router. The batch is persisted
    once so the four writes (success, DLQ, retry, agg) don't recompute
    the decode UDF.

    Round 13 (optimization guide §2.6 — overlap independent jobs): the
    four sink writes are independent jobs over the SAME persisted batch,
    so they are submitted from concurrent driver threads instead of
    sequentially — each write's straggler tail back-fills the others'
    tasks, cutting per-batch wall clock without touching what is
    written. Delivery semantics are unchanged: the checkpoint advances
    only after process_batch RETURNS, and warm_concurrently joins every
    thread and re-raises on any failure, so a batch still either fully
    commits (all four sinks succeeded) or is replayed — the
    at-least-once contract is that all-or-replay property; the sinks
    are separate directories with no cross-sink ordering guarantee to
    preserve. Each write keeps its own bounded with_retry (F3), inside
    its thread. Concurrent first-touch of the lazy persist is safe:
    BlockManager's per-block locks make racing tasks compute-or-wait,
    never double-cache."""
    from ..operators.cache import warm_concurrently

    batch.persist()
    try:
        success = batch.filter(F.col("status") == STATUS_SUCCESS)
        permanent = batch.filter(F.col("status") == STATUS_PERMANENT)
        transient = batch.filter(F.col("status") == STATUS_TRANSIENT)

        # A1-A3: per-batch aggregate contribution (count/sum over successes);
        # the running totals are the sum over batch outputs — same values the
        # reference prints at each message, observed at batch boundaries.
        agg = success.groupBy().agg(
            F.lit(batch_id).alias("batch_id"),
            F.count("*").alias("order_count"),
            F.sum(F.col("order.price").cast("double")).alias("total_price"),
        )

        warm_concurrently(
            [
                lambda: with_retry(
                    lambda: success.select(
                        "key", "value", "topic", "partition", "offset"
                    )
                    .write.mode("append")
                    .parquet(sinks.success_dir)
                ),
                lambda: with_retry(
                    lambda: dlq_enrich(
                        permanent,
                        F.when(
                            F.col("order.price").isNotNull(),
                            F.format_string(
                                "Price exceeds threshold: %.2f > 1000.0",
                                F.col("order.price").cast("double"),
                            ),
                        ).otherwise(
                            F.lit("Processing error: deserialization failed")
                        ),
                    )
                    .write.mode("append")
                    .parquet(sinks.dlq_dir)
                ),
                lambda: with_retry(
                    lambda: transient.select(
                        "key", "value", "topic", "partition", "offset"
                    )
                    .write.mode("append")
                    .parquet(sinks.retry_dir)
                ),
                lambda: with_retry(
                    lambda: agg.write.mode("append").parquet(sinks.agg_dir)
                ),
            ]
        )
    finally:
        batch.unpersist()


OBSERVE_NAME = "route_metrics"


def observe_routing(routed: DataFrame) -> DataFrame:
    """The reference's in-memory counters (consumer.py:137-145) as
    Spark observed metrics: message_count, order_count, transient/
    permanent failure counts and the success-price sum are computed
    ON the stream per micro-batch — accumulator-style, no extra job,
    no shuffle — and surface in every ``StreamingQueryProgress`` under
    ``observedMetrics[OBSERVE_NAME]``. The reference prints these after
    each message; the engine reports them at each batch boundary, where
    the running totals coincide (SURVEY.md §2.5 A1-A5)."""
    s = F.col("status")
    return routed.observe(
        OBSERVE_NAME,
        F.count(F.lit(1)).alias("message_count"),
        F.count(F.when(s == STATUS_SUCCESS, 1)).alias("order_count"),
        F.count(F.when(s == STATUS_TRANSIENT, 1)).alias("transient_failure_count"),
        F.count(F.when(s == STATUS_PERMANENT, 1)).alias("permanent_failure_count"),
        F.sum(
            F.when(s == STATUS_SUCCESS, F.col("order.price").cast("double"))
        ).alias("total_price"),
    )


def run_order_pipeline(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    available_now: bool = True,
    observed_metrics: list | None = None,
    max_files_per_trigger: int | None = None,
    progress_out: list | None = None,
) -> PipelineSinks:
    """Broker-free flagship pipeline: parquet envelope stream in
    ``input_dir`` (columns: key binary, value binary, topic string,
    partition int, offset long) -> routed multi-sink under ``work_dir``.

    ``available_now=True`` processes everything present then stops —
    the batch-bounded mode tests use; with False it runs continuously
    (production shape). ``max_files_per_trigger`` bounds each
    micro-batch to that many input files — perfbench's ``stream_drain``
    uses it to force a fixed trigger count so the throughput number
    includes per-batch commit overhead, like a live Kafka consumer
    would."""
    from ..shipping import ship_package

    ship_package(spark)
    sinks = PipelineSinks(
        success_dir=os.path.join(work_dir, "success"),
        dlq_dir=os.path.join(work_dir, "dlq"),
        retry_dir=os.path.join(work_dir, "retry"),
        agg_dir=os.path.join(work_dir, "agg"),
    )
    reader = spark.readStream.schema(
        "key binary, value binary, topic string, partition int, offset long"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    envelope = reader.parquet(input_dir)
    routed = observe_routing(route_orders(decode_orders(envelope)))
    writer = (
        routed.writeStream.foreachBatch(
            lambda df, bid: process_batch(df, bid, sinks)
        )
        .option("checkpointLocation", os.path.join(work_dir, "checkpoint"))
    )
    if available_now:
        want_progress = observed_metrics is not None or progress_out is not None
        tap = _ProgressTap() if want_progress else None
        if tap is not None:
            spark.streams.addListener(tap)
        try:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
        finally:
            if tap is not None:
                spark.streams.removeListener(tap)
        if want_progress:
            # recentProgress alone is capped at
            # spark.sql.streaming.numRecentProgressUpdates (default 100)
            # entries, so a >100-micro-batch run would silently report
            # only the newest 100 (round-7 advice). The listener tap has
            # no cap but its bus is async — the newest event(s) may still
            # be in flight at drain time. Union by batchId: the tap
            # covers everything older than the cap, recentProgress covers
            # the newest tail; together they are complete.
            merged: dict[int, dict] = {
                p["batchId"]: p
                for p in tap.progress_for(str(q.id))
                if "batchId" in p
            }
            for p in q.recentProgress:
                if "batchId" in p:
                    merged[p["batchId"]] = p
            progresses = [merged[b] for b in sorted(merged)]
            if observed_metrics is not None:
                for p in progresses:
                    m = (p.get("observedMetrics") or {}).get(OBSERVE_NAME)
                    if m is not None:
                        observed_metrics.append(m)
            if progress_out is not None:
                # raw StreamingQueryProgress dicts — perfbench reads
                # per-batch durations (durationMs.triggerExecution and
                # its phases) for its trigger latency figures
                progress_out.extend(progresses)
    else:
        writer.start()
    return sinks
