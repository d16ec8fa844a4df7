"""OCF codec round-trip tests — the E1/E2 property tests SURVEY.md §5.2
prescribes (random records -> encode -> decode -> equality, mirroring
producer -> consumer)."""

from __future__ import annotations

import math
import struct

from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_avro_order_processor_eg_4131_spark.functions.avro_ocf import (
    MAGIC,
    ocf_decode,
    ocf_encode,
)
from kafka_avro_order_processor_eg_4131_spark.schemas import ORDER_AVRO_SCHEMA

orders = st.fixed_dictionaries(
    {
        "orderId": st.uuids().map(str),
        "product": st.text(min_size=0, max_size=40),
        "price": st.floats(min_value=0.0, max_value=1e6, allow_nan=False, width=32),
    }
)


@given(orders)
@settings(max_examples=200, deadline=None)
def test_roundtrip_single_record(order):
    blob = ocf_encode(ORDER_AVRO_SCHEMA, [order])
    decoded = ocf_decode(blob)
    assert decoded["orderId"] == order["orderId"]
    assert decoded["product"] == order["product"]
    # float32 quantization is the wire semantics (order.avsc:14-17)
    assert decoded["price"] == struct.unpack("<f", struct.pack("<f", order["price"]))[0]


@given(st.lists(orders, min_size=1, max_size=10))
@settings(max_examples=50, deadline=None)
def test_roundtrip_multi_record(batch):
    blob = ocf_encode(ORDER_AVRO_SCHEMA, batch)
    decoded = ocf_decode(blob, first_only=False)
    assert len(decoded) == len(batch)
    assert decoded[0]["orderId"] == batch[0]["orderId"]


def test_container_framing_matches_reference_shape():
    """The reference's observable frame facts (SURVEY.md §1.4): magic
    Obj\\x01, embedded schema JSON, null codec, ~296-302 bytes for a
    typical order."""
    order = {
        "orderId": "0a1b2c3d-0000-4000-8000-0123456789ab",
        "product": "Amber Wallet",
        "price": 822.13,
    }
    blob = ocf_encode(ORDER_AVRO_SCHEMA, [order])
    assert blob[:4] == MAGIC
    assert b"avro.schema" in blob
    assert b'"com.assignment"' in blob or b"com.assignment" in blob
    assert b"avro.codec" in blob and b"null" in blob
    # size envelope: reference logs 296-302 B for one record
    assert 250 <= len(blob) <= 350, len(blob)


def test_corrupt_input_raises():
    for bad in (b"", b"garbage", MAGIC + b"\x00\x00"):
        try:
            ocf_decode(bad)
            raised = False
        except Exception:
            raised = True
        assert raised, bad


def test_float32_quantization_example():
    """822.13 round-trips as ~822.1300048828125 (SURVEY.md §1.2)."""
    blob = ocf_encode(ORDER_AVRO_SCHEMA, [{"orderId": "x", "product": "y", "price": 822.13}])
    decoded = ocf_decode(blob)
    assert math.isclose(decoded["price"], 822.1300048828125, rel_tol=0, abs_tol=1e-12)


def test_schema_evolution_added_field_default():
    """Reader adds `currency` (default USD): resolution fills the
    default without touching encoded values — consumers upgrade without
    producer coordination (the point of OCF carrying writer schemas)."""
    blob = ocf_encode(
        ORDER_AVRO_SCHEMA, [{"orderId": "o1", "product": "p", "price": 9.5}]
    )
    reader = {
        "type": "record",
        "name": "Order",
        "fields": [
            {"name": "orderId", "type": "string"},
            {"name": "product", "type": "string"},
            {"name": "price", "type": "float"},
            {"name": "currency", "type": "string", "default": "USD"},
        ],
    }
    rec = ocf_decode(blob, reader_schema=reader)
    assert rec["currency"] == "USD" and rec["orderId"] == "o1"


def test_schema_evolution_dropped_field_and_promotion():
    """Reader drops `product` and promotes price float->double; the
    writer-only field is consumed (stream stays aligned) and the value
    carries through."""
    blob = ocf_encode(
        ORDER_AVRO_SCHEMA, [{"orderId": "o2", "product": "gone", "price": 822.13}]
    )
    reader = {
        "type": "record",
        "name": "Order",
        "fields": [
            {"name": "orderId", "type": "string"},
            {"name": "price", "type": "double"},
        ],
    }
    rec = ocf_decode(blob, reader_schema=reader)
    assert set(rec) == {"orderId", "price"}
    assert math.isclose(rec["price"], 822.1300048828125, abs_tol=1e-12)


def test_schema_evolution_missing_default_raises():
    blob = ocf_encode(
        ORDER_AVRO_SCHEMA, [{"orderId": "o3", "product": "p", "price": 1.0}]
    )
    reader = {
        "type": "record",
        "name": "Order",
        "fields": [
            {"name": "orderId", "type": "string"},
            {"name": "warehouse", "type": "string"},  # no default
        ],
    }
    try:
        ocf_decode(blob, reader_schema=reader)
        raised = False
    except ValueError:
        raised = True
    assert raised


def test_decode_udf_mixed_schema_batch_falls_back(spark):
    """The decode UDF's header-prefix fast path must fall back to the
    general parser whenever a row's container header differs (evolved
    writer schema mid-stream) — mixed batches decode every row
    correctly, not just rows matching the first header seen."""
    import json

    from pyspark.sql import functions as F

    from kafka_avro_order_processor_eg_4131_spark.functions.avro_ocf import (
        ocf_decode_udf,
    )
    from kafka_avro_order_processor_eg_4131_spark.schemas import (
        ORDER_AVRO_SCHEMA_JSON,
    )
    from kafka_avro_order_processor_eg_4131_spark.shipping import ship_package

    ship_package(spark)
    evolved = {
        "type": "record",
        "name": "Order",
        "fields": [
            {"name": "orderId", "type": "string"},
            {"name": "product", "type": "string"},
            {"name": "price", "type": "float"},
            {"name": "warehouse", "type": "string"},  # writer-only field
        ],
    }
    blobs = []
    for i in range(20):
        if i % 3 == 0:
            blobs.append(
                (i, ocf_encode(evolved, [{
                    "orderId": f"e{i}", "product": "evolved", "price": float(i),
                    "warehouse": "W1",
                }]))
            )
        else:
            blobs.append(
                (i, ocf_encode(ORDER_AVRO_SCHEMA, [{
                    "orderId": f"o{i}", "product": "plain", "price": float(i),
                }]))
            )
    df = spark.createDataFrame(blobs, "i int, value binary").repartition(1)
    dec = ocf_decode_udf(
        ORDER_AVRO_SCHEMA_JSON, "orderId string, product string, price float"
    )
    rows = {
        r["i"]: r
        for r in df.select(
            "i", dec(F.col("value")).alias("o")
        ).select("i", "o.*").collect()
    }
    assert len(rows) == 20
    for i in range(20):
        r = rows[i]
        if i % 3 == 0:
            assert r["orderId"] == f"e{i}" and r["product"] == "evolved"
        else:
            assert r["orderId"] == f"o{i}" and r["product"] == "plain"
        assert math.isclose(r["price"], float(i), rel_tol=1e-6)


def test_decode_udf_empty_first_block_falls_back(spark):
    """A container whose first data block holds zero records must still
    decode (general multi-block parser) instead of nulling out."""
    import io

    from pyspark.sql import functions as F

    from kafka_avro_order_processor_eg_4131_spark.functions import avro_ocf as A
    from kafka_avro_order_processor_eg_4131_spark.schemas import (
        ORDER_AVRO_SCHEMA_JSON,
    )
    from kafka_avro_order_processor_eg_4131_spark.shipping import ship_package

    ship_package(spark)
    # build a container with an EMPTY first block then a 1-record block
    normal = ocf_encode(ORDER_AVRO_SCHEMA, [{"orderId": "x", "product": "p", "price": 2.5}])
    prefix, sync, writers = A._encode_ctx(ORDER_AVRO_SCHEMA_JSON)
    header = prefix[: -len(A._varint_bytes(1))]
    body = io.BytesIO()
    for (_, w), v in zip(writers, ["x", "p", 2.5]):
        w(body, v)
    payload = body.getvalue()
    weird = (
        header
        + A._varint_bytes(0) + A._varint_bytes(0) + sync  # empty block
        + A._varint_bytes(1) + A._varint_bytes(len(payload)) + payload + sync
    )
    df = spark.createDataFrame([(normal,), (weird,)], "value binary").repartition(1)
    dec = A.ocf_decode_udf(
        ORDER_AVRO_SCHEMA_JSON, "orderId string, product string, price float"
    )
    got = sorted(
        df.select(dec(F.col("value")).alias("o")).select("o.orderId").collect()
    )
    assert [r["orderId"] for r in got] == ["x", "x"]


def test_encode_udf_bytes_equal_ocf_encode(spark):
    """ocf_encode_udf assembles the header once per batch; its bytes
    must still equal ocf_encode(schema, [row]) row by row, including
    non-ASCII text, strings of 64+ bytes (2-byte length varints) and
    the float32 edge prices: signed zeros, infinities, subnormals."""
    from pyspark.sql import functions as F

    from kafka_avro_order_processor_eg_4131_spark.functions.avro_ocf import (
        ocf_encode_udf,
    )
    from kafka_avro_order_processor_eg_4131_spark.schemas import (
        ORDER_AVRO_SCHEMA_JSON,
    )
    from kafka_avro_order_processor_eg_4131_spark.shipping import ship_package

    def f32(x: float) -> float:
        return struct.unpack("<f", struct.pack("<f", x))[0]

    min_subnormal = struct.unpack("<f", b"\x01\x00\x00\x00")[0]
    max_subnormal = struct.unpack("<f", b"\xff\xff\x7f\x00")[0]
    rows = [
        ("o-0", "Amber Wallet", f32(822.13)),
        ("ördér-ñ", "咖啡杯 ☕ mug", 0.0),
        ("o-2", "é" * 40, -0.0),  # 80 UTF-8 bytes: 2-byte varint
        ("x" * 64, "p" * 200, math.inf),
        ("o-4", "€" * 22, -math.inf),  # 66 UTF-8 bytes
        ("o-5", "", min_subnormal),
        ("o-6", "🙂" * 16, -max_subnormal),  # 64 UTF-8 bytes exactly
    ]
    ship_package(spark)
    enc = ocf_encode_udf(ORDER_AVRO_SCHEMA_JSON)
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        "i int, orderId string, product string, price float",
    ).repartition(1)
    got = {
        r["i"]: bytes(r["v"])
        for r in df.select(
            "i", enc(F.struct("orderId", "product", "price")).alias("v")
        ).collect()
    }
    assert len(got) == len(rows)
    for i, (order_id, product, price) in enumerate(rows):
        want = ocf_encode(
            ORDER_AVRO_SCHEMA,
            [{"orderId": order_id, "product": product, "price": price}],
        )
        assert got[i] == want, (i, order_id)
        # price is the last field, just before the trailing sync marker:
        # its bit pattern (sign of zero included) survives Spark and Arrow
        assert got[i][-20:-16] == struct.pack("<f", price), (i, price)
