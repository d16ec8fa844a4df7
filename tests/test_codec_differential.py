"""Differential test of the codec's Spark UDFs against the pure-Python
codec (``ocf_encode`` / ``ocf_decode``), without Spark: each UDF's own
function runs on pyarrow arrays. Floats compare by bit pattern, so a
NaN, a signed zero or a subnormal that changes on the way shows."""

from __future__ import annotations

import io
import json
import math
import struct

import pyarrow as pa
import pytest

from kafka_avro_order_processor_eg_4131_spark.functions import avro_ocf as A
from kafka_avro_order_processor_eg_4131_spark.functions.avro_ocf import (
    ocf_decode,
    ocf_encode,
    write_datum,
)
from kafka_avro_order_processor_eg_4131_spark.schemas import (
    ORDER_AVRO_SCHEMA,
    ORDER_AVRO_SCHEMA_JSON,
)


@pytest.fixture(autouse=True)
def _udf_functions(monkeypatch):
    """Each UDF factory returns its Python function, not a Spark UDF."""
    import pyspark.sql.functions as PF

    monkeypatch.setattr(PF, "arrow_udf", lambda f, returnType: f)


def _f32(x: float) -> float:
    return struct.unpack("<f", struct.pack("<f", x))[0]


def _record_schema(*fields) -> dict:
    """``fields``: ``(name, type)`` pairs, or ``(name, type, default)``."""
    return {
        "type": "record",
        "name": "Order",
        "fields": [
            {"name": n, "type": t, **{"default": d for d in default}}
            for n, t, *default in fields
        ],
    }


PRICES = [
    0.0,
    -0.0,
    math.inf,
    -math.inf,
    math.nan,
    struct.unpack("<f", b"\x01\x00\x00\x00")[0],  # smallest subnormal
    -struct.unpack("<f", b"\xff\xff\x7f\x00")[0],  # largest subnormal
    struct.unpack("<f", b"\xff\xff\x7f\x7f")[0],  # largest float32
    _f32(822.13),
]
TEXTS = [
    ("ördér-ñ", "咖啡杯 ☕ mug"),
    ("x" * 64, "é" * 40),  # 64 and 80 UTF-8 bytes: 2-byte length varints
    ("", "🙂" * 16),
    ("o-€", "€" * 22),
]
RECORDS = [
    {"orderId": TEXTS[i % len(TEXTS)][0], "product": TEXTS[i % len(TEXTS)][1], "price": p}
    for i, p in enumerate(PRICES)
]

_ID, _PRODUCT, _PRICE = ("orderId", "string"), ("product", "string"), ("price", "float")
WRITERS = [
    (ORDER_AVRO_SCHEMA, RECORDS),
    # added field on the writer side: the reader drops it
    (
        _record_schema(_ID, _PRODUCT, _PRICE, ("warehouse", "string")),
        [{**r, "warehouse": "W-ü"} for r in RECORDS[:3]],
    ),
    # int / long prices: promoted to float / double
    (_record_schema(_ID, _PRODUCT, ("price", "int")), [
        {"orderId": "i", "product": "p", "price": v} for v in (0, -7, 2**31 - 1, 16777217)
    ]),
    (_record_schema(_ID, _PRODUCT, ("price", "long")), [
        {"orderId": "l", "product": "p", "price": v} for v in (-(2**63), 2**53 + 1)
    ]),
    # a reader field the writer lacks, with no default
    (_record_schema(_ID, _PRICE), [{"orderId": "a", "price": 20.0}]),
]
READERS = [
    ORDER_AVRO_SCHEMA,
    _record_schema(_ID, _PRODUCT, _PRICE, ("currency", "string", "USD")),
    _record_schema(_ID, ("price", "double")),  # drops product, promotes price
    _record_schema(_ID, ("product", "bytes")),  # string read as bytes
]


def _empty_first_block(rec: dict) -> bytes:
    header = A._header_bytes(json.dumps(ORDER_AVRO_SCHEMA))
    sync = header[-16:]
    body = io.BytesIO()
    write_datum(body, ORDER_AVRO_SCHEMA, rec)
    payload = body.getvalue()
    return (
        header
        + A._varint_bytes(0) + A._varint_bytes(0) + sync
        + A._varint_bytes(1) + A._varint_bytes(len(payload)) + payload + sync
    )


def _containers() -> list:
    blobs = [ocf_encode(w, [r]) for w, records in WRITERS for r in records]
    good = ocf_encode(ORDER_AVRO_SCHEMA, [RECORDS[-1]])
    blobs += [
        b"Obj\x02" + good[4:],  # bad magic
        good[:-5],  # truncated inside the sync marker
        good[:20],  # truncated inside the header
        good[:-16] + bytes(16),  # wrong sync marker, cached header
        _empty_first_block(RECORDS[0]),
        good,  # a good row after the corrupt ones
        None,
        b"",
    ]
    return blobs


def _canon(value, avro_type: str):
    if value is None:
        return None
    if avro_type == "float":
        return struct.pack("<f", value)
    if avro_type == "double":
        return struct.pack("<d", value)
    return value


def _assert_decoded(out: pa.StructArray, expected: list, reader: dict) -> None:
    types = {f["name"]: f["type"] for f in reader["fields"]}
    got = out.to_pylist()
    assert len(got) == len(expected)
    for i, (g, want) in enumerate(zip(got, expected)):
        if want is None:  # the pure-Python codec raises: all-null row
            want = dict.fromkeys(types)
        canon = {n: (_canon(g[n], t), _canon(want[n], t)) for n, t in types.items()}
        assert all(a == b for a, b in canon.values()), (i, g, want)


def _reference(blob, reader: dict):
    try:
        return ocf_decode(blob, reader_schema=reader)
    except Exception:
        return None


@pytest.mark.parametrize("reader", READERS, ids=lambda r: ",".join(
    f"{f['name']}:{f['type']}" for f in r["fields"]))
def test_ocf_decode_udf_matches_ocf_decode(reader):
    blobs = _containers()
    out = A.ocf_decode_udf(json.dumps(reader))(pa.array(blobs, type=pa.binary()))
    expected = [_reference(b, reader) for b in blobs]
    _assert_decoded(out, expected, reader)


# Evolved writers resolved by hand, from the Avro spec's rules rather
# than from the codec: (writer schema, record written, reader -> record
# read, None for a reader field with no writer value and no default).
_W_EXTRA = _record_schema(_ID, _PRODUCT, _PRICE, ("warehouse", "string"))
_W_INT = _record_schema(_ID, _PRODUCT, ("price", "int"))
_W_LONG = _record_schema(_ID, _PRODUCT, ("price", "long"))
_W_NO_PRODUCT = _record_schema(_ID, _PRICE)
_R_BASE, _R_CURRENCY, _R_DOUBLE, _R_BYTES = READERS
RESOLVED = [
    (_W_EXTRA, {"orderId": "ördér-ñ", "product": "咖啡杯", "price": -0.0, "warehouse": "W"}, [
        (_R_BASE, {"orderId": "ördér-ñ", "product": "咖啡杯", "price": -0.0}),
        (_R_CURRENCY, {"orderId": "ördér-ñ", "product": "咖啡杯", "price": -0.0,
                       "currency": "USD"}),
        (_R_DOUBLE, {"orderId": "ördér-ñ", "price": -0.0}),
        (_R_BYTES, {"orderId": "ördér-ñ", "product": "咖啡杯".encode()}),
    ]),
    (_W_INT, {"orderId": "i", "product": "p", "price": 16777217}, [
        (_R_BASE, {"orderId": "i", "product": "p", "price": 16777216.0}),  # float32 rounds
        (_R_CURRENCY, {"orderId": "i", "product": "p", "price": 16777216.0,
                       "currency": "USD"}),
        (_R_DOUBLE, {"orderId": "i", "price": 16777217.0}),
    ]),
    (_W_LONG, {"orderId": "l", "product": "p", "price": -(2**63)}, [
        (_R_BASE, {"orderId": "l", "product": "p", "price": -9.223372036854775808e18}),
        (_R_DOUBLE, {"orderId": "l", "price": -9.223372036854775808e18}),
    ]),
    (_W_NO_PRODUCT, {"orderId": "a", "price": 20.0}, [
        (_R_BASE, None),
        (_R_CURRENCY, None),
        (_R_DOUBLE, {"orderId": "a", "price": 20.0}),
        (_R_BYTES, None),
    ]),
]


@pytest.mark.parametrize("writer,record,reads", RESOLVED,
                         ids=["extra-field", "int-price", "long-price", "no-product"])
def test_ocf_decode_udf_resolves_evolved_writers_to_fixed_records(writer, record, reads):
    """An oracle independent of the codec's resolution plan: each
    evolved writer's container decodes to the hand-resolved record."""
    blob = ocf_encode(writer, [record])
    for reader, want in reads:
        out = A.ocf_decode_udf(json.dumps(reader))(pa.array([blob], type=pa.binary()))
        _assert_decoded(out, [want], reader)


def test_encoders_match_pure_python_codec_and_round_trip():
    """Both encoders give ``ocf_encode``'s bytes (and the datum inside
    them) for every encodable row, NULL for a null field or a NaN
    price; both decoders give each encodable row back bit for bit."""
    records = RECORDS + [{"orderId": None, "product": "p", "price": 1.0}]
    rows = pa.StructArray.from_arrays(
        [
            pa.array([r["orderId"] for r in records], pa.string()),
            pa.array([r["product"] for r in records], pa.string()),
            pa.array([r["price"] for r in records], pa.float32()),
        ],
        names=["orderId", "product", "price"],
    )
    wire = b"\x00" + struct.pack(">I", 7)
    ocf = A.ocf_encode_udf(ORDER_AVRO_SCHEMA_JSON)(rows).to_pylist()
    datum = A.avro_datum_encode_udf(ORDER_AVRO_SCHEMA_JSON, confluent_schema_id=7)(rows)
    datum = datum.to_pylist()
    expected = []
    for rec, o, d in zip(records, ocf, datum):
        if rec["orderId"] is None or math.isnan(rec["price"]):
            assert o is None and d is None, rec
            expected.append(None)
            continue
        assert o == ocf_encode(ORDER_AVRO_SCHEMA, [rec]), rec
        body = io.BytesIO()
        write_datum(body, ORDER_AVRO_SCHEMA, rec)
        assert d == wire + body.getvalue(), rec
        expected.append(rec)
    decode_ocf = A.ocf_decode_udf(ORDER_AVRO_SCHEMA_JSON)
    decode_datum = A.avro_datum_decode_udf(ORDER_AVRO_SCHEMA_JSON, confluent_schema_id=7)
    _assert_decoded(decode_ocf(pa.array(ocf, pa.binary())), expected, ORDER_AVRO_SCHEMA)
    _assert_decoded(decode_datum(pa.array(datum, pa.binary())), expected, ORDER_AVRO_SCHEMA)


def test_datum_decode_udf_matches_pure_python_datums():
    """Raw datums with every edge record decode like ``ocf_decode`` of
    the same record; a wrong wire prefix, a truncated datum and
    trailing bytes give all-null rows."""
    wire = b"\x00" + struct.pack(">I", 7)
    datums, expected = [], []
    for rec in RECORDS:
        body = io.BytesIO()
        write_datum(body, ORDER_AVRO_SCHEMA, rec)
        datums.append(wire + body.getvalue())
        expected.append(ocf_decode(ocf_encode(ORDER_AVRO_SCHEMA, [rec])))
    good = datums[-1]
    datums += [b"\x00" + struct.pack(">I", 8) + good[5:], good[:-1], good + b"\x00", None]
    expected += [None] * 4
    out = A.avro_datum_decode_udf(ORDER_AVRO_SCHEMA_JSON, confluent_schema_id=7)(
        pa.array(datums, pa.binary())
    )
    _assert_decoded(out, expected, ORDER_AVRO_SCHEMA)
