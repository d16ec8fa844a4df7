"""Multi-batch streaming tests: the aggregate trajectory across batch
boundaries matches the reference's per-message trajectory sampled at
the same points (SURVEY.md §5.2)."""

from __future__ import annotations

import struct

import pytest

from kafka_avro_order_processor_eg_4131_spark.functions.avro_ocf import ocf_encode
from kafka_avro_order_processor_eg_4131_spark.schemas import ORDER_AVRO_SCHEMA

BATCHES = [
    # (orderId, price) — three batches with known per-batch outcomes
    [("a-1", 100.0), ("a-2", 30.0), ("a-3", 1200.0)],   # success / transient / permanent
    [("b-1", 200.0), ("b-2", 55.5)],                     # success / success
    [("c-1", 10.0), ("c-2", 999.99), ("c-3", 2000.0)],   # transient / success / permanent
]


def f32(x):
    return struct.unpack("<f", struct.pack("<f", x))[0]


@pytest.fixture()
def batch_dirs(spark, tmp_path):
    """One parquet file per batch; maxFilesPerTrigger=1 turns them into
    three micro-batches in order."""
    path = str(tmp_path / "in")
    offset = 0
    for i, batch in enumerate(BATCHES):
        rows = []
        for oid, price in batch:
            blob = ocf_encode(
                ORDER_AVRO_SCHEMA, [{"orderId": oid, "product": "X Y", "price": price}]
            )
            rows.append((oid.encode(), blob, "orders", 0, offset))
            offset += 1
        df = spark.createDataFrame(
            rows, "key binary, value binary, topic string, partition int, offset long"
        )
        df.coalesce(1).write.mode("append").parquet(path)
    return path


def test_agg_trajectory_across_batches(spark, tmp_path, batch_dirs):
    """Cumulative (message_count, order_count, total_price) after each
    batch must equal the reference's accumulators sampled at those
    message indices, and the final running average its summary
    (consumer.py:194-206)."""
    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
        run_order_pipeline,
    )

    observed: list = []
    sinks = run_order_pipeline(
        spark,
        batch_dirs,
        str(tmp_path / "work"),
        observed_metrics=observed,
        max_files_per_trigger=1,
    )

    agg = sorted(
        spark.read.parquet(sinks.agg_dir).collect(), key=lambda r: r["batch_id"]
    )
    assert len(agg) == 3
    # per-batch success contributions (float32-decoded)
    per_batch = [
        (1, f32(100.0)),
        (2, f32(200.0) + f32(55.5)),
        (1, f32(999.99)),
    ]
    running_n, running_total = 0, 0.0
    for row, (n, total) in zip(agg, per_batch):
        assert row["order_count"] == n
        assert abs(row["total_price"] - total) < 1e-9
        running_n += n
        running_total += total
    assert running_n == 4
    # and the final totals match the whole-stream reference computation
    expected_total = f32(100.0) + f32(200.0) + f32(55.5) + f32(999.99)
    assert abs(running_total - expected_total) < 1e-9
    assert abs(running_total / running_n - expected_total / 4) < 1e-9

    # the observed metrics carry the same accumulators per batch; their
    # running message_count crosses the batch boundaries at 3, 5, 8
    trajectory, seen = [], 0
    for m in observed:
        seen += m["message_count"]
        trajectory.append(seen)
    assert trajectory == [3, 5, 8]
    obs_n = sum(m["order_count"] for m in observed)
    obs_total = sum(m["total_price"] or 0.0 for m in observed)
    assert obs_n == 4
    assert abs(obs_total / obs_n - expected_total / 4) < 1e-9
