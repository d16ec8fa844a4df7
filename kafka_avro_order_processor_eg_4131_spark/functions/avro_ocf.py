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

Spark integration: four Arrow UDFs (``arrow_udf``) — OCF and raw-datum
framings of one encoder and one decoder. Arrow arrays go in and come
out; no pandas sits between the codec and Spark, so a NaN float stays
NaN. Both decoders read through one schema-resolution plan per writer
schema (``_resolution_plan``), the same one ``read_datum_resolved`` and
``ocf_decode`` use, and their output struct type follows from the
reader schema. The per-row Python cost is confined to the codec
boundary exactly like the reference's fastavro calls; everything
downstream of decode is JVM-side Catalyst.
"""

from __future__ import annotations

import hashlib
import io
import json
import struct
from typing import Any

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
    """True when any field value is null or a float NaN: the encoders
    emit a NULL datum for such a record. The Order schema's fields are
    non-nullable, so a null is unencodable. A NaN price is encodable
    Avro, but the codec catalog queries pin it to the NULL-datum/DLQ
    path (``avro_datum_roundtrip``'s oracle states this contract), so a
    caller that must encode NaN should pre-encode it as bits."""
    return any(v is None or (isinstance(v, float) and v != v) for v in vals)


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


# Avro spec §Schema Resolution: which writer->reader primitive
# re-typings are legal
_PROMOTIONS = {
    "int": {"int", "long", "float", "double"},
    "long": {"long", "float", "double"},
    "float": {"float", "double"},
    "double": {"double"},
    "string": {"string", "bytes"},
    "bytes": {"bytes", "string"},
    "boolean": {"boolean"},
}


def _promoted_reader(wtype: str, rtype: str):
    """Reads a ``wtype`` value off the wire as a ``rtype`` value."""
    if rtype not in _PROMOTIONS.get(wtype, ()):
        raise ValueError(f"cannot promote {wtype!r} -> {rtype!r}")
    if wtype in ("int", "long") and rtype in ("float", "double"):
        return lambda buf: float(read_long(buf))
    if wtype in ("string", "bytes"):  # same wire form: length + bytes
        return _PRIMITIVE_READERS[rtype]
    return _PRIMITIVE_READERS[wtype]


def _resolution_plan(writer_schema: dict, reader_schema: dict):
    """Avro spec §Schema Resolution, primitive-record subset, planned
    once per writer schema: fields match by name; writer-only fields
    are decoded and discarded; reader-only fields take their declared
    ``default`` (an error if absent — same as fastavro/the reference,
    consumer.py:50-65 where reader-schema resolution is implicit in
    ``fastavro.reader``); primitive promotions per the spec table.

    Returns ``read(buf)``, which decodes one datum into a list of the
    reader's field values in reader order."""
    for schema in (writer_schema, reader_schema):
        if schema.get("type") != "record":
            raise ValueError(f"unsupported top-level schema {schema.get('type')!r}")
    reader_fields = reader_schema["fields"]
    slots = {f["name"]: i for i, f in enumerate(reader_fields)}
    steps = []  # (read one writer field, reader slot or None to drop)
    for wf in writer_schema["fields"]:
        wtype = wf["type"]
        if wtype not in _PRIMITIVE_READERS:
            raise ValueError(f"unsupported field type {wtype!r}")
        slot = slots.get(wf["name"])
        if slot is None:
            steps.append((_PRIMITIVE_READERS[wtype], None))
        else:
            steps.append((_promoted_reader(wtype, reader_fields[slot]["type"]), slot))
    written = {wf["name"] for wf in writer_schema["fields"]}
    for rf in reader_fields:
        if rf["name"] not in written and "default" not in rf:
            raise ValueError(f"reader field {rf['name']!r} missing and has no default")
    template = [rf.get("default") for rf in reader_fields]

    def read(buf: io.BytesIO) -> list:
        values = template.copy()
        for read_field, slot in steps:
            value = read_field(buf)
            if slot is not None:
                values[slot] = value
        return values

    return read


def read_datum_resolved(
    buf: io.BytesIO, writer_schema: dict, reader_schema: dict
) -> dict[str, Any]:
    """Decode a datum written with ``writer_schema`` into the shape of
    ``reader_schema`` (see ``_resolution_plan``)."""
    values = _resolution_plan(writer_schema, reader_schema)(buf)
    return dict(zip((f["name"] for f in reader_schema["fields"]), values))


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
    reader_schema = reader_schema or schema
    read = _resolution_plan(schema, reader_schema)
    names = [f["name"] for f in reader_schema["fields"]]

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
            records.append(dict(zip(names, read(block))))
            if first_only:
                return records[0]
    if first_only:
        raise ValueError("empty container")
    return records


# ---------------------------------------------------------------------------
# Spark Arrow-UDF bindings (Arrow arrays in and out; no row pickling)
# ---------------------------------------------------------------------------


def _varint_bytes(n: int) -> bytes:
    out = io.BytesIO()
    write_long(out, n)
    return out.getvalue()


def _pylist(arr) -> list:
    """Arrow array -> Python values, converted in C (``to_pylist`` builds
    a scalar object per element and costs ~15x more). A null in a
    numeric column arrives as NaN, which ``_has_null`` treats alike."""
    return arr.to_numpy(zero_copy_only=False).tolist()


def _encode_udf(schema_json: str, frame):
    """Arrow UDF: struct column -> one ``frame(datum_bytes)`` per row.
    A record with a null or NaN field gives a NULL row (``_has_null``);
    downstream decode of NULL yields an all-null struct -> the DLQ
    route."""
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    fields = json.loads(schema_json)["fields"]
    names = [f["name"] for f in fields]
    writers = [_PRIMITIVE_WRITERS[f["type"]] for f in fields]

    def _encode(rows):
        children = dict(zip((f.name for f in rows.type), rows.flatten()))
        out = []
        for vals in zip(*(_pylist(children[n]) for n in names)):
            if _has_null(vals):
                out.append(None)
                continue
            body = io.BytesIO()
            for writer, v in zip(writers, vals):
                writer(body, v)
            out.append(frame(body.getvalue()))
        return pa.array(out, type=pa.binary())

    return arrow_udf(_encode, "binary")


def _decode_udf(reader_schema: dict, parse):
    """Arrow UDF: binary column -> struct column typed by
    ``reader_schema``. ``parse(blob)`` returns one row's values in
    reader order; a row it raises on (corrupt input, NULL, an
    unresolvable writer schema) decodes to all nulls, which the
    DataFrame-level null check routes to the DLQ branch exactly like the
    reference's catch-all (consumer.py:272-276)."""
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructField, StructType

    from ..schemas import avro_schema_to_struct

    # nullable fields: an undecodable row is all-null
    struct_type = StructType(
        [StructField(f.name, f.dataType) for f in avro_schema_to_struct(reader_schema)]
    )
    arrow_fields = list(to_arrow_type(struct_type))
    nulls = [None] * len(arrow_fields)

    def _decode(col):
        rows = []
        for blob in _pylist(col):
            try:
                rows.append(parse(blob))
            except Exception:
                rows.append(nulls)
        columns = list(zip(*rows)) or [()] * len(arrow_fields)
        return pa.StructArray.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, arrow_fields)],
            fields=arrow_fields,
        )

    return arrow_udf(_decode, struct_type)


def ocf_encode_udf(schema_json: str):
    """Arrow UDF: struct column -> OCF container bytes per row. The
    header and sync marker are the same for every row (same schema,
    deterministic marker), so they are assembled once; the produced
    bytes are identical to ``ocf_encode(schema, [row])``."""
    header = _header_bytes(json.dumps(json.loads(schema_json)))
    prefix = header + _varint_bytes(1)  # header + record count 1
    sync = header[-16:]
    return _encode_udf(
        schema_json, lambda datum: prefix + _varint_bytes(len(datum)) + datum + sync
    )


def ocf_decode_udf(schema_json: str):
    """Arrow UDF: OCF bytes -> struct column shaped by the reader schema
    ``schema_json``, each container's writer schema resolved into it.

    Header cache: every container ``ocf_encode`` writes for one schema
    starts with the same header bytes (embedded schema, codec,
    deterministic sync marker), so the decoder keeps the last header it
    parsed with its resolution plan. A row whose bytes start with it
    skips straight to its data block; any other row parses its own
    header, which replaces the cached one. Containers from the
    reference's producer carry a random sync marker each, so every one
    of them parses its header."""
    reader_schema = json.loads(schema_json)
    names = [f["name"] for f in reader_schema["fields"]]
    last = b""  # header bytes of the last parsed container
    read = None
    sync = b""

    def parse(blob: bytes) -> list:
        nonlocal last, read, sync
        if not (last and blob.startswith(last)):
            writer_schema, new_sync, header_end = _read_header(io.BytesIO(blob))
            read = _resolution_plan(writer_schema, reader_schema)
            sync, last = new_sync, blob[:header_end]
        buf = io.BytesIO(blob)
        buf.seek(len(last))
        n_rec = read_long(buf)
        block = io.BytesIO(read_bytes(buf))
        if buf.read(16) != sync:
            raise ValueError("sync marker mismatch")
        if n_rec >= 1:
            return read(block)
        # empty first block: general multi-block parser
        rec = ocf_decode(blob, reader_schema=reader_schema)
        return [rec[n] for n in names]

    return _decode_udf(reader_schema, parse)


# ---------------------------------------------------------------------------
# raw binary-datum framing (the spark-avro from_avro/to_avro twin)
# ---------------------------------------------------------------------------
#
# The reference ships OCF containers per message (producer.py:46-48 —
# fastavro.writer to a BytesIO per record), which the OCF UDFs above
# mirror. Kafka deployments that use a schema registry ship the OTHER
# framing instead: a bare Avro binary datum, optionally prefixed with
# the Confluent wire format (magic 0x00 + big-endian 4-byte schema id).
# spark-avro's from_avro/to_avro handle the bare-datum case on the JVM;
# that jar is absent in this container, so these Arrow UDFs are the
# engine's native path for both framings. ~6x smaller on the wire than
# OCF for the reference's ~50 B record (BASELINE.md: 296-302 B OCF vs
# ~20 B datum).

_CONFLUENT_MAGIC = b"\x00"


def _wire_prefix(confluent_schema_id: int | None) -> bytes:
    if confluent_schema_id is None:
        return b""
    return _CONFLUENT_MAGIC + struct.pack(">I", confluent_schema_id)


def avro_datum_encode_udf(schema_json: str, confluent_schema_id: int | None = None):
    """Arrow UDF: struct column -> raw Avro binary datum per row (no
    container; optional Confluent 5-byte wire prefix)."""
    prefix = _wire_prefix(confluent_schema_id)
    return _encode_udf(schema_json, lambda datum: prefix + datum)


def avro_datum_decode_udf(schema_json: str, confluent_schema_id: int | None = None):
    """Arrow UDF: raw Avro binary datum -> struct column. With a
    ``confluent_schema_id``, rows must carry the matching 5-byte wire
    prefix; a wrong magic/id (or any decode error) yields an all-null
    row — the same DLQ routing contract as the OCF decoder."""
    schema = json.loads(schema_json)
    read = _resolution_plan(schema, schema)
    prefix = _wire_prefix(confluent_schema_id)

    def parse(blob: bytes) -> list:
        if not blob.startswith(prefix):
            raise ValueError("bad confluent wire prefix")
        buf = io.BytesIO(blob)
        buf.seek(len(prefix))
        values = read(buf)
        if buf.read(1):
            raise ValueError("trailing bytes after datum")
        return values

    return _decode_udf(schema, parse)
