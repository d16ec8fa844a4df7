"""End-to-end flagship pipeline test (SURVEY.md §5.2): a deterministic
order set -> OCF-framed envelope parquet -> streaming pipeline ->
assert exact branch counts, DLQ record shape (original bytes + 5
headers), and float32-faithful aggregates."""

from __future__ import annotations

import struct

import pytest

from kafka_avro_order_processor_eg_4131_spark.functions.avro_ocf import ocf_decode, ocf_encode
from kafka_avro_order_processor_eg_4131_spark.schemas import (
    DLQ_HEADER_KEYS,
    ORDER_AVRO_SCHEMA,
)

# frozen input hitting every band boundary (FIXTURES.md §1):
# 5.0/50.0 closed transient bounds, 1000.0 NOT permanent (strict >),
# 1000.01 permanent, plus interior points and a corrupt blob.
FROZEN_ORDERS = [
    ("o-01", "Amber Wallet", 4.99),     # success (below transient band)
    ("o-02", "Basic Kettle", 5.0),      # transient (closed lower bound)
    ("o-03", "Cobalt Ladder", 27.5),    # transient
    ("o-04", "Delta Mirror", 50.0),     # transient (closed upper bound)
    ("o-05", "Ember Candle", 50.01),    # success
    ("o-06", "Fancy Tablet", 822.13),   # success
    ("o-07", "Gentle Ribbon", 1000.0),  # success (strict >)
    ("o-08", "Hyper Saddle", 1000.01),  # permanent
    ("o-09", "Ivory Quartz", 1136.83),  # permanent (the screenshot's order)
    ("o-10", "Jolly Velvet", 1499.99),  # permanent
]


def f32(x: float) -> float:
    return struct.unpack("<f", struct.pack("<f", x))[0]


@pytest.fixture()
def envelope_dir(spark, tmp_path):
    rows = []
    for i, (oid, product, price) in enumerate(FROZEN_ORDERS):
        blob = ocf_encode(ORDER_AVRO_SCHEMA, [{"orderId": oid, "product": product, "price": price}])
        rows.append((oid.encode(), blob, "orders", 0, i))
    rows.append(("corrupt".encode(), b"not-an-avro-container", "orders", 0, len(rows)))
    df = spark.createDataFrame(
        rows, "key binary, value binary, topic string, partition int, offset long"
    )
    path = str(tmp_path / "input")
    df.coalesce(1).write.parquet(path)
    return path


def test_pipeline_end_to_end(spark, tmp_path, envelope_dir):
    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import run_order_pipeline

    sinks = run_order_pipeline(spark, envelope_dir, str(tmp_path / "work"))

    success = spark.read.parquet(sinks.success_dir)
    dlq = spark.read.parquet(sinks.dlq_dir)
    retry = spark.read.parquet(sinks.retry_dir)
    agg = spark.read.parquet(sinks.agg_dir)

    # branch counts: 4 success, 3 transient, 3 permanent + 1 corrupt
    assert success.count() == 4
    assert retry.count() == 3
    assert dlq.count() == 4

    # DLQ carries the ORIGINAL bytes, decodable back to the original order
    dlq_rows = dlq.collect()
    by_key = {bytes(r["key"]).decode(): r for r in dlq_rows}
    assert set(by_key) == {"o-08", "o-09", "o-10", "corrupt"}
    redecoded = ocf_decode(bytes(by_key["o-09"]["value"]))
    assert redecoded["orderId"] == "o-09"
    assert redecoded["price"] == f32(1136.83)

    # 5 headers with the reference's keys (consumer.py:90-96)
    hdrs = {h["key"]: bytes(h["value"]) for h in by_key["o-09"]["headers"]}
    assert tuple(hdrs) == DLQ_HEADER_KEYS
    assert hdrs["error_reason"] == b"Price exceeds threshold: 1136.83 > 1000.0"
    assert hdrs["original_topic"] == b"orders"
    assert hdrs["original_partition"] == b"0"
    assert hdrs["original_offset"] == b"8"
    # corrupt blob takes the catch-all reason (consumer.py:272-276)
    hdrs_c = {h["key"]: bytes(h["value"]) for h in by_key["corrupt"]["headers"]}
    assert hdrs_c["error_reason"].startswith(b"Processing error")

    # A1-A3 with float32-faithful values: sum over batch aggregates equals
    # the float64 sum of float32-decoded success prices
    totals = agg.groupBy().sum("order_count", "total_price").collect()[0]
    assert totals[0] == 4
    expected = sum(f32(p) for _, _, p in FROZEN_ORDERS if not (5.0 <= p <= 50.0) and p <= 1000.0)
    assert abs(totals[1] - expected) < 1e-9

    # replay safety: running the same pipeline again with the same
    # checkpoint processes nothing new (offsets are committed)
    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import run_order_pipeline as rerun

    rerun(spark, envelope_dir, str(tmp_path / "work"))
    assert spark.read.parquet(sinks.success_dir).count() == 4


def test_retry_wrapper_semantics():
    from kafka_avro_order_processor_eg_4131_spark.streaming.retry import with_retry

    calls = {"n": 0}
    sleeps: list[float] = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    assert with_retry(flaky, sleep=sleeps.append) == "ok"
    assert sleeps == [0.5, 1.0]  # linear 0.5*n backoff (consumer.py:307)

    # exhaustion routes to the DLQ callback (consumer.py:310-313)
    def always_fails():
        raise RuntimeError("permanent")

    out = with_retry(
        always_fails, max_retries=3, on_exhausted=lambda e: f"dlq:{e}", sleep=lambda s: None
    )
    assert out == "dlq:permanent"


def test_synthetic_generator_matches_reference_distribution(spark):
    from kafka_avro_order_processor_eg_4131_spark.sources.generator import synthetic_orders

    df = synthetic_orders(spark, n=2000, seed=42)
    rows = df.collect()
    assert len(rows) == 2000
    # deterministic across invocations
    again = synthetic_orders(spark, n=2000, seed=42).collect()
    assert rows == again
    prices = [r["price"] for r in rows]
    assert all(5.0 <= p <= 1500.0 for p in prices)
    # roughly uniform: mean near 752.5
    assert 650 < sum(prices) / len(prices) < 850
    ids = {r["orderId"] for r in rows}
    assert len(ids) == 2000
    assert all(len(r["product"].split(" ")) == 2 for r in rows)


def test_observed_metrics_match_reference_counters(spark, tmp_path, envelope_dir):
    """The observe() metrics reproduce the reference's in-memory counters
    (consumer.py:137-145) exactly: message/order/transient/permanent
    counts and the float32-faithful success price sum, summed across
    micro-batches."""
    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
        run_order_pipeline,
    )

    observed: list = []
    run_order_pipeline(
        spark, envelope_dir, str(tmp_path / "work"), observed_metrics=observed
    )
    assert observed, "no observed metrics surfaced in query progress"
    tot = {
        k: sum(m[k] for m in observed)
        for k in (
            "message_count",
            "order_count",
            "transient_failure_count",
            "permanent_failure_count",
        )
    }
    assert tot["message_count"] == len(FROZEN_ORDERS) + 1  # + corrupt blob
    assert tot["order_count"] == 4
    assert tot["transient_failure_count"] == 3
    assert tot["permanent_failure_count"] == 4  # 3 over-threshold + corrupt
    total_price = sum(m["total_price"] for m in observed if m["total_price"])
    expected = sum(
        f32(p) for _, _, p in FROZEN_ORDERS if not (5.0 <= p <= 50.0) and p <= 1000.0
    )
    assert abs(total_price - expected) < 1e-9


def test_dlq_reason_for_non_finite_prices(spark, tmp_path):
    """NaN and +Inf prices route permanent; the pipeline's DLQ header
    renders them as the reference's Python ``%.2f`` does ('nan', 'inf'),
    the same text the catalog's dlq_error_reason_expr gives."""
    from pyspark.sql import functions as F

    from kafka_avro_order_processor_eg_4131_spark.functions.routing import (
        dlq_error_reason_expr,
    )
    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
        run_order_pipeline,
    )

    prices = {"o-nan": float("nan"), "o-inf": float("inf")}
    rows = [
        (
            oid.encode(),
            ocf_encode(ORDER_AVRO_SCHEMA, [{"orderId": oid, "product": "P", "price": p}]),
            "orders",
            0,
            i,
        )
        for i, (oid, p) in enumerate(prices.items())
    ]
    input_dir = str(tmp_path / "input")
    spark.createDataFrame(
        rows, "key binary, value binary, topic string, partition int, offset long"
    ).coalesce(1).write.parquet(input_dir)

    sinks = run_order_pipeline(spark, input_dir, str(tmp_path / "work"))
    reasons = {
        bytes(r["key"]).decode(): {h["key"]: bytes(h["value"]) for h in r["headers"]}[
            "error_reason"
        ]
        for r in spark.read.parquet(sinks.dlq_dir).collect()
    }
    assert reasons == {
        "o-nan": b"Price exceeds threshold: nan > 1000.0",
        "o-inf": b"Price exceeds threshold: inf > 1000.0",
    }
    catalog_text = (
        spark.createDataFrame([(p,) for p in prices.values()], "price float")
        .select(dlq_error_reason_expr(F.col("price")).alias("r"))
        .collect()
    )
    assert sorted(r["r"].encode() for r in catalog_text) == sorted(reasons.values())


def test_replayed_batch_after_restart_replaces_its_output(spark, tmp_path):
    """A restart after a batch's sinks were written but before its
    checkpoint commit replays that batch with the same batch_id. Every
    sink keeps its rows, bytes and DLQ headers (the wall-clock timestamp
    aside), and agg keeps one row per batch_id."""
    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
        run_order_pipeline,
    )
    from tests.test_round13_ops import _sink_rows

    input_dir = str(tmp_path / "input")
    for part, chunk in enumerate((FROZEN_ORDERS[:5], FROZEN_ORDERS[5:])):
        rows = [
            (
                oid.encode(),
                ocf_encode(ORDER_AVRO_SCHEMA, [{"orderId": oid, "product": pr, "price": p}]),
                "orders",
                part,
                i,
            )
            for i, (oid, pr, p) in enumerate(chunk)
        ]
        spark.createDataFrame(
            rows, "key binary, value binary, topic string, partition int, offset long"
        ).coalesce(1).write.mode("append").parquet(input_dir)
    work = tmp_path / "work"

    def run_and_read():
        sinks = run_order_pipeline(spark, input_dir, str(work), max_files_per_trigger=1)
        return _sink_rows(spark, sinks)

    first = run_and_read()
    assert [b for b, *_ in first["agg"]] == [0, 1]
    commits = work / "checkpoint" / "commits"
    (commits / "1").unlink()
    (commits / ".1.crc").unlink()
    assert run_and_read() == first
