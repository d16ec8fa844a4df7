"""Avro codec: Object-Container-File-per-message framing, pure Python.

The reference serializes every Kafka message as a complete Avro OCF
container holding exactly one record (producer.py:36-48 uses
``fastavro.writer``; consumer.py:50-65 reads back the first record) —
magic ``Obj\\x01``, embedded writer-schema JSON, null codec, 16-byte
sync marker, one data block. That framing is load-bearing for
byte-compatibility with the reference's topics (SURVEY.md §1.4), so the
engine implements it here from the Avro 1.12 spec directly (fastavro is
not available, and Spark's built-in from_avro/to_avro expects raw datum
framing anyway).

Supported schema subset: records of string / float / double / int /
long / boolean / bytes — a superset of the reference's Order schema
(order.avsc: string, string, float).

Spark integration: Arrow-batched pandas UDFs (``ocf_encode_udf`` /
``ocf_decode_udf``). The per-row Python cost is confined to the codec
boundary exactly like the reference's fastavro calls; everything
downstream of decode is JVM-side Catalyst.
"""

from __future__ import annotations

import hashlib
import io
import json
import struct
from typing import Any

try:  # pd.NA sentinel for arrow-backed nullable dtypes (advice r8)
    from pandas import NA as _PD_NA
except Exception:  # pragma: no cover - pandas always present in-container
    _PD_NA = None

# ---------------------------------------------------------------------------
# varint / zigzag primitives (Avro spec §Binary encoding)
# ---------------------------------------------------------------------------


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(out: io.BytesIO, n: int) -> None:
    n = _zigzag_encode(n)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


def read_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        byte = buf.read(1)
        if not byte:
            raise EOFError("truncated varint")
        b = byte[0]
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            return _zigzag_decode(acc)
        shift += 7


def write_bytes(out: io.BytesIO, data: bytes) -> None:
    write_long(out, len(data))
    out.write(data)


def read_bytes(buf: io.BytesIO) -> bytes:
    n = read_long(buf)
    data = buf.read(n)
    if len(data) != n:
        raise EOFError("truncated bytes")
    return data


# ---------------------------------------------------------------------------
# schema-driven datum codec
# ---------------------------------------------------------------------------

def _has_null(vals) -> bool:
    """True when any struct field is null as pandas renders it: None
    for object/string columns, NaN for float columns, pd.NA for
    arrow-backed nullable dtypes.

    NOTE on NaN prices: pandas conflates SQL NULL and float NaN in
    non-nullable float columns, so a genuinely-NaN price (a legal,
    encodable Avro float) is indistinguishable from NULL here and is
    routed to the NULL-datum/DLQ path rather than encoded. That is the
    documented engine contract (the float-edge parity fixture pins it);
    a caller that must encode NaN should pre-encode it as bits."""
    return any(
        v is None
        or v is _PD_NA
        or (isinstance(v, float) and v != v)
        for v in vals
    )


_PRIMITIVE_WRITERS = {
    "string": lambda out, v: write_bytes(out, str(v).encode("utf-8")),
    "bytes": write_bytes,
    "int": write_long,
    "long": write_long,
    "float": lambda out, v: out.write(struct.pack("<f", float(v))),
    "double": lambda out, v: out.write(struct.pack("<d", float(v))),
    "boolean": lambda out, v: out.write(b"\x01" if v else b"\x00"),
}

_PRIMITIVE_READERS = {
    "string": lambda buf: read_bytes(buf).decode("utf-8"),
    "bytes": read_bytes,
    "int": read_long,
    "long": read_long,
    "float": lambda buf: struct.unpack("<f", buf.read(4))[0],
    "double": lambda buf: struct.unpack("<d", buf.read(8))[0],
    "boolean": lambda buf: buf.read(1) == b"\x01",
}


def write_datum(out: io.BytesIO, schema: dict, record: dict[str, Any]) -> None:
    if schema.get("type") != "record":
        raise ValueError(f"unsupported top-level schema {schema.get('type')!r}")
    for field in schema["fields"]:
        ftype = field["type"]
        writer = _PRIMITIVE_WRITERS.get(ftype)
        if writer is None:
            raise ValueError(f"unsupported field type {ftype!r}")
        writer(out, record[field["name"]])


def read_datum(buf: io.BytesIO, schema: dict) -> dict[str, Any]:
    if schema.get("type") != "record":
        raise ValueError(f"unsupported top-level schema {schema.get('type')!r}")
    rec: dict[str, Any] = {}
    for field in schema["fields"]:
        reader = _PRIMITIVE_READERS.get(field["type"])
        if reader is None:
            raise ValueError(f"unsupported field type {field['type']!r}")
        rec[field["name"]] = reader(buf)
    return rec


# Avro spec §Schema Resolution: which writer->reader primitive
# re-typings are legal (value passes through; Python numerics already
# widen losslessly for these)
_PROMOTIONS = {
    "int": {"int", "long", "float", "double"},
    "long": {"long", "float", "double"},
    "float": {"float", "double"},
    "double": {"double"},
    "string": {"string", "bytes"},
    "bytes": {"bytes", "string"},
    "boolean": {"boolean"},
}


def read_datum_resolved(
    buf: io.BytesIO, writer_schema: dict, reader_schema: dict
) -> dict[str, Any]:
    """Decode a datum written with ``writer_schema`` into the shape of
    ``reader_schema`` (Avro spec §Schema Resolution, primitive-record
    subset): fields match by name; writer-only fields are decoded and
    discarded; reader-only fields take their declared ``default`` (an
    error if absent — same as fastavro/the reference, consumer.py:50-65
    where reader-schema resolution is implicit in ``fastavro.reader``);
    primitive promotions per the spec table."""
    reader_fields = {f["name"]: f for f in reader_schema["fields"]}
    rec: dict[str, Any] = {}
    for wf in writer_schema["fields"]:
        wtype = wf["type"]
        reader = _PRIMITIVE_READERS.get(wtype)
        if reader is None:
            raise ValueError(f"unsupported field type {wtype!r}")
        value = reader(buf)
        rf = reader_fields.get(wf["name"])
        if rf is None:
            continue  # writer-only field: consumed and dropped
        rtype = rf["type"]
        if rtype not in _PROMOTIONS.get(wtype, ()):  # pragma: no cover - guard
            raise ValueError(f"cannot promote {wtype!r} -> {rtype!r}")
        if wtype == "string" and rtype == "bytes":
            value = value.encode("utf-8")
        elif wtype == "bytes" and rtype == "string":
            value = value.decode("utf-8")
        rec[wf["name"]] = value
    for name, rf in reader_fields.items():
        if name not in rec:
            if "default" not in rf:
                raise ValueError(f"reader field {name!r} missing and has no default")
            rec[name] = rf["default"]
    return rec


# ---------------------------------------------------------------------------
# OCF container framing (Avro spec §Object Container Files)
# ---------------------------------------------------------------------------

MAGIC = b"Obj\x01"


def _sync_marker(schema_json: str) -> bytes:
    """Deterministic 16-byte sync marker derived from the schema — unlike
    the reference's random marker, identical inputs produce identical
    container bytes (reproducible tests; semantics unchanged)."""
    return hashlib.md5(b"sync:" + schema_json.encode("utf-8")).digest()


def _header_bytes(schema_json: str) -> bytes:
    """Container header for a normalized schema JSON: magic, a one-block
    metadata map (writer schema + null codec), then the sync marker —
    so the header's last 16 bytes are the marker every block ends with."""
    out = io.BytesIO()
    out.write(MAGIC)
    write_long(out, 2)
    write_bytes(out, b"avro.schema")
    write_bytes(out, schema_json.encode("utf-8"))
    write_bytes(out, b"avro.codec")
    write_bytes(out, b"null")
    write_long(out, 0)
    out.write(_sync_marker(schema_json))
    return out.getvalue()


def _read_header(buf: io.BytesIO) -> tuple[dict, bytes, int]:
    """Parse a container header from ``buf``'s start; returns the writer
    schema, the sync marker and the offset of the first data block
    (``buf`` is left there)."""
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        count = read_long(buf)
        if count == 0:
            break
        if count < 0:  # spec: negative count prefixes a byte size
            read_long(buf)
            count = -count
        for _ in range(count):
            k = read_bytes(buf).decode("utf-8")
            meta[k] = read_bytes(buf)
    if meta.get("avro.codec", b"null") not in (b"null", b""):
        raise ValueError(f"unsupported codec {meta.get('avro.codec')!r}")
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    sync = buf.read(16)
    return schema, sync, buf.tell()


def ocf_encode(schema: dict | str, records: list[dict[str, Any]]) -> bytes:
    """records -> one OCF container (the reference writes exactly one
    record per container; this accepts any count for generality)."""
    schema_dict = json.loads(schema) if isinstance(schema, str) else schema
    header = _header_bytes(json.dumps(schema_dict))
    sync = header[-16:]

    out = io.BytesIO()
    out.write(header)

    body = io.BytesIO()
    for rec in records:
        write_datum(body, schema_dict, rec)
    payload = body.getvalue()
    write_long(out, len(records))
    write_bytes(out, payload)
    out.write(sync)
    return out.getvalue()


def ocf_decode(
    data: bytes,
    first_only: bool = True,
    reader_schema: dict | str | None = None,
) -> dict[str, Any] | list[dict[str, Any]]:
    """OCF container bytes -> decoded record(s), writer schema taken
    from the container metadata (mirrors consumer.py:50-65: reader over
    BytesIO, first record returned). Pass ``reader_schema`` to resolve
    into an evolved schema (added-with-default / dropped fields,
    primitive promotions) — the consumer can upgrade its schema without
    coordinating with producers, which is the entire point of OCF
    carrying the writer schema per message."""
    buf = io.BytesIO(data)
    schema, sync, _ = _read_header(buf)
    if isinstance(reader_schema, str):
        reader_schema = json.loads(reader_schema)

    records: list[dict[str, Any]] = []
    while True:
        try:
            n = read_long(buf)
        except EOFError:
            break
        block = io.BytesIO(read_bytes(buf))
        if buf.read(16) != sync:
            raise ValueError("sync marker mismatch")
        for _ in range(n):
            if reader_schema is None:
                records.append(read_datum(block, schema))
            else:
                records.append(read_datum_resolved(block, schema, reader_schema))
            if first_only:
                return records[0]
    if first_only:
        raise ValueError("empty container")
    return records


# ---------------------------------------------------------------------------
# Spark pandas-UDF bindings (Arrow-batched; no row-at-a-time pickling)
# ---------------------------------------------------------------------------


def _varint_bytes(n: int) -> bytes:
    out = io.BytesIO()
    write_long(out, n)
    return out.getvalue()


def _encode_ctx(schema_json: str):
    """Per-schema encode context: the container header + sync marker are
    identical for every row (same schema, deterministic marker), so they
    are assembled once per batch instead of once per row — the per-row
    work reduces to the datum bytes plus three concatenations."""
    schema_dict = json.loads(schema_json)
    header = _header_bytes(json.dumps(schema_dict))
    sync = header[-16:]
    prefix = header + _varint_bytes(1)  # header + record count 1
    writers = [
        (f["name"], _PRIMITIVE_WRITERS[f["type"]]) for f in schema_dict["fields"]
    ]
    return prefix, sync, writers


def ocf_encode_udf(schema_json: str):
    """pandas UDF: struct column -> OCF container bytes per row. The
    produced bytes are identical to ``ocf_encode(schema, [row])``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    prefix, sync, writers = _encode_ctx(schema_json)
    names = [n for n, _ in writers]

    def _encode(rows):
        cols = [rows[n] for n in names]
        out = []
        for vals in zip(*cols):
            if _has_null(vals):
                # this schema's primitives are all non-nullable: a null
                # field is UNENCODABLE — emit NULL rather than silently
                # stringifying (str(None) wrote a literal "None" until
                # the round-8 edge probe caught it); downstream decode
                # of NULL yields a null struct -> the DLQ route
                out.append(None)
                continue
            body = io.BytesIO()
            for (_, writer), v in zip(writers, vals):
                writer(body, v)
            payload = body.getvalue()
            out.append(prefix + _varint_bytes(len(payload)) + payload + sync)
        return pd.Series(out, dtype=object)

    # hint-less form: PySpark 4 rejects DataFrame/struct signatures as
    # type hints but accepts them with an explicit returnType
    return pandas_udf(_encode, "binary")


def ocf_decode_udf(schema_json: str, spark_type: str):
    """pandas UDF: OCF bytes -> struct column (``spark_type`` is the DDL
    string, e.g. ``orderId string, product string, price float``).
    Corrupt input decodes to null — the DataFrame-level null check routes
    it to the DLQ branch exactly like the reference's catch-all
    (consumer.py:272-276).

    Header cache: every container ``ocf_encode`` writes for one schema
    starts with the same header bytes (embedded schema, codec,
    deterministic sync marker), so the decoder keeps the last header it
    parsed. A row whose bytes start with it skips straight to its data
    block; any other row parses its own header, which replaces the
    cached one. Containers from the reference's producer carry a random
    sync marker each, so every one of them parses its header.

    Float fields leave as Arrow arrays: a pandas float column would
    turn a NaN price (a legal Avro float) into null on its way into
    Spark, and the row would read as undecodable."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.functions import pandas_udf

    fields = json.loads(schema_json)["fields"]
    field_names = [f["name"] for f in fields]
    arrow_floats = {
        f["name"]: pa.float32() if f["type"] == "float" else pa.float64()
        for f in fields
        if f["type"] in ("float", "double")
    }

    def _decode(col):
        columns: dict[str, list] = {n: [] for n in field_names}
        last = b""  # header bytes of the last parsed container
        readers: list = []
        sync = b""
        for blob in col:
            try:
                b = bytes(blob)
                if not (last and b.startswith(last)):
                    schema, new_sync, header_end = _read_header(io.BytesIO(b))
                    readers = [
                        (f["name"], _PRIMITIVE_READERS[f["type"]])
                        for f in schema["fields"]
                    ]
                    sync, last = new_sync, b[:header_end]
                buf = io.BytesIO(b)
                buf.seek(len(last))
                n_rec = read_long(buf)
                block = io.BytesIO(read_bytes(buf))
                if buf.read(16) != sync:
                    raise ValueError("sync marker mismatch")
                if n_rec >= 1:
                    rec = {name: reader(block) for name, reader in readers}
                else:  # empty first block: general multi-block parser
                    rec = ocf_decode(b)
                for n in field_names:
                    columns[n].append(rec.get(n))
            except Exception:
                for n in field_names:  # all-null row -> DLQ branch downstream
                    columns[n].append(None)
        return pd.DataFrame(
            {
                n: pd.arrays.ArrowExtensionArray(pa.array(v, type=arrow_floats[n]))
                if n in arrow_floats
                else v
                for n, v in columns.items()
            }
        )

    return pandas_udf(_decode, spark_type)


# ---------------------------------------------------------------------------
# raw binary-datum codec (the spark-avro from_avro/to_avro twin)
# ---------------------------------------------------------------------------
#
# The reference ships OCF containers per message (producer.py:46-48 —
# fastavro.writer to a BytesIO per record), which the OCF UDFs above
# mirror. Kafka deployments that use a schema registry ship the OTHER
# framing instead: a bare Avro binary datum, optionally prefixed with
# the Confluent wire format (magic 0x00 + big-endian 4-byte schema id).
# spark-avro's from_avro/to_avro handle the bare-datum case on the JVM;
# that jar is absent in this container, so these Arrow-batched UDFs are
# the engine's native path for both framings. ~6x smaller on the wire
# than OCF for the reference's ~50 B record (BASELINE.md: 296-302 B
# OCF vs ~20 B datum).

_CONFLUENT_MAGIC = b"\x00"


def avro_datum_encode_udf(schema_json: str, confluent_schema_id: int | None = None):
    """pandas UDF: struct column -> raw Avro binary datum per row (no
    container; optional Confluent 5-byte wire prefix)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    schema_dict = json.loads(schema_json)
    writers = [
        (f["name"], _PRIMITIVE_WRITERS[f["type"]]) for f in schema_dict["fields"]
    ]
    names = [n for n, _ in writers]
    prefix = (
        _CONFLUENT_MAGIC + struct.pack(">I", confluent_schema_id)
        if confluent_schema_id is not None
        else b""
    )

    def _encode(rows):
        cols = [rows[n] for n in names]
        out = []
        for vals in zip(*cols):
            if _has_null(vals):
                # unencodable record (null in a non-nullable Avro
                # field) -> NULL datum, see ocf_encode_udf
                out.append(None)
                continue
            body = io.BytesIO()
            for (_, writer), v in zip(writers, vals):
                writer(body, v)
            out.append(prefix + body.getvalue())
        return pd.Series(out, dtype=object)

    return pandas_udf(_encode, "binary")


def avro_datum_decode_udf(
    schema_json: str, spark_type: str, confluent_schema_id: int | None = None
):
    """pandas UDF: raw Avro binary datum -> struct column. With a
    ``confluent_schema_id``, rows must carry the matching 5-byte wire
    prefix; a wrong magic/id (or any decode error) yields an all-null
    row — the same DLQ routing contract as the OCF decoder."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    schema_dict = json.loads(schema_json)
    readers = [
        (f["name"], _PRIMITIVE_READERS[f["type"]]) for f in schema_dict["fields"]
    ]
    field_names = [n for n, _ in readers]
    prefix = (
        _CONFLUENT_MAGIC + struct.pack(">I", confluent_schema_id)
        if confluent_schema_id is not None
        else b""
    )

    def _decode(col):
        columns: dict[str, list] = {n: [] for n in field_names}
        for blob in col:
            try:
                b = bytes(blob)
                if prefix:
                    if not b.startswith(prefix):
                        raise ValueError("bad confluent wire prefix")
                    b = b[len(prefix):]
                buf = io.BytesIO(b)
                rec = {name: reader(buf) for name, reader in readers}
                if buf.read(1):
                    raise ValueError("trailing bytes after datum")
            except Exception:
                rec = {}
            for n in field_names:
                columns[n].append(rec.get(n))
        return pd.DataFrame(columns)

    return pandas_udf(_decode, spark_type)
