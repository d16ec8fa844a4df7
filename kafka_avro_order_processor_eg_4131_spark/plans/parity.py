"""Reference-parity queries: the routing + aggregation semantics of the
reference consumer (consumer.py:126-276), restated over the ``orders``
fixture. ``o_totalprice`` plays the role of ``Order.price``
(FIXTURES.md §5 mapping).

These cover SURVEY.md §2 rows P1-P6 (projection, validation, routing,
DLQ enrichment) and A1-A5 (global count/sum/avg, failure counters).
All are single-pass scans with grouped aggregation — at 100 TB these
are embarrassingly parallel map-side-combine plans with one small
shuffle on the (3-value) status key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import bigcount_sql, bigsum_sql, dsum, dsum_sql, load, register
from ..functions.routing import (
    dlq_error_reason_case_sql,
    dlq_error_reason_expr,
    is_valid_expr,
    status_case_sql,
    status_expr,
)
from ..schemas import PERMANENT_THRESHOLD, STATUS_PERMANENT, STATUS_SUCCESS, STATUS_TRANSIENT

# ``o_totalprice`` is TPC-H-scaled (~1e3..5e5) so raw values would route
# 100% permanent. ``o_totalprice % 1500`` maps the fixture onto the
# reference producer's price domain Uniform(5.0, 1500.0) (producer.py:123)
# and reproduces BASELINE.md's derived routing mix (~3% transient,
# ~33% permanent, ~64% success). The `%` OPERATOR, not DuckDB's fmod():
# both engines' `%` is IEEE truncated-mod (result carries the DIVIDEND's
# sign), but DuckDB's fmod() is FLOORED-mod (divisor's sign) — identical
# on the all-positive fixtures, divergent on a negative price (round-8
# edge probe: -50.25 routed success in Spark, permanent via fmod).
_PRICE = "(o_totalprice % 1500.0)"
_STATUS_SQL = status_case_sql(_PRICE)


def _price(col=None):
    from pyspark.sql import functions as F

    return (col if col is not None else F.col("o_totalprice")) % 1500.0


# --- flagship: the whole live consumer loop as one grouped aggregate -------


@register(
    "route_status_agg",
    oracle=f"""
    SELECT {_STATUS_SQL} AS status,
           {bigcount_sql()} AS n_orders,
           {dsum_sql(_PRICE)} AS total_price,
           ({dsum_sql(_PRICE)} / COUNT(*)) AS avg_price
    FROM orders
    GROUP BY 1
    """,
)
def route_status_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship parity query: 3-way content router (consumer.py:249-270)
    + per-branch count/sum/avg (consumer.py:137-176) in one pass."""
    o = load(spark, sf_dir, "orders")
    price = _price()
    return o.groupBy(status_expr(price).alias("status")).agg(
        F.count("*").alias("n_orders"),
        dsum(price).alias("total_price"),
        (dsum(price) / F.count("*")).alias("avg_price"),
    )


@register(
    "route_status_detail",
    oracle=f"""
    SELECT o_orderkey, {_PRICE} AS price, {_STATUS_SQL} AS status
    FROM orders
    """,
)
def route_status_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-record router output (P5): every order tagged with its status —
    the projection the reference prints per message (consumer.py:238-244)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        _price().alias("price"),
        status_expr(_price()).alias("status"),
    )


@register(
    "route_transient_filter",
    oracle=f"""
    SELECT o_orderkey, {_PRICE} AS price
    FROM orders
    WHERE {_PRICE} >= 5.0 AND {_PRICE} <= 50.0
    """,
)
def route_transient_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transient-failure band predicate (P3, consumer.py:253-256): the
    closed interval [5, 50]. Filter pushes down to the parquet scan."""
    o = load(spark, sf_dir, "orders")
    return o.filter((_price() >= 5.0) & (_price() <= 50.0)).select(
        "o_orderkey", _price().alias("price")
    )


@register(
    "route_permanent_dlq",
    oracle=f"""
    SELECT o_orderkey,
           {dlq_error_reason_case_sql(_PRICE)} AS error_reason
    FROM orders
    WHERE {_PRICE} > {PERMANENT_THRESHOLD}
    """,
)
def route_permanent_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permanent-failure branch + DLQ metadata enrichment (P4 + P6,
    consumer.py:259-266, 90-96): records over the 1000.0 threshold with
    the reference's exact error-reason text."""
    o = load(spark, sf_dir, "orders")
    return o.filter(_price() > PERMANENT_THRESHOLD).select(
        "o_orderkey",
        dlq_error_reason_expr(_price()).alias("error_reason"),
    )


@register(
    "codec_roundtrip_routing",
    oracle=f"""
    WITH decoded AS (
      SELECT CASE WHEN o_orderkey IS NOT NULL AND o_orderpriority IS NOT NULL
                   AND o_totalprice IS NOT NULL
             THEN CAST(CAST({_PRICE} AS REAL) AS DOUBLE) END AS price
      FROM orders
    )
    SELECT {status_case_sql("price")} AS status,
           {bigcount_sql()} AS n,
           {dsum_sql("price")} AS total_price
    FROM decoded
    GROUP BY 1
    """,
)
def codec_roundtrip_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1+E2+P5 end-to-end: orders -> Avro OCF encode (one container per
    record, reference producer.py:36-48) -> decode -> route -> aggregate.
    The oracle mirrors the only lossy step, float32 quantization of
    ``price`` (order.avsc:14-17, SURVEY.md §1.2), via CAST(... AS REAL).
    Exercises the real codec UDFs on every row.

    Null-field records (round-8 edge probe): the Avro schema's fields
    are non-nullable, so a null product makes the record UNENCODABLE —
    the encoder emits NULL, the decoder yields a null struct, and the
    row lands in the CASE's ELSE branch with a NULL price on both
    engines (the oracle's CASE guard mirrors the encoder's check)."""
    from ..functions.avro_ocf import ocf_decode_udf, ocf_encode_udf
    from ..schemas import ORDER_AVRO_SCHEMA_JSON

    enc = ocf_encode_udf(ORDER_AVRO_SCHEMA_JSON)
    dec = ocf_decode_udf(ORDER_AVRO_SCHEMA_JSON)
    # widen the single-file input so the Python codec runs on all cores
    width = spark.sparkContext.defaultParallelism
    o = load(spark, sf_dir, "orders").repartition(width).select(
        F.col("o_orderkey").cast("string").alias("orderId"),
        F.col("o_orderpriority").alias("product"),
        _price().cast("float").alias("price"),
    )
    decoded = o.select(
        dec(enc(F.struct("orderId", "product", "price"))).alias("order")
    ).select(F.col("order.price").cast("double").alias("price"))
    return decoded.groupBy(status_expr(F.col("price")).alias("status")).agg(
        F.count("*").alias("n"),
        dsum(F.col("price")).alias("total_price"),
    )


@register(
    "validate_orders",
    oracle=f"""
    SELECT {bigsum_sql("CASE WHEN ok THEN 1 ELSE 0 END")} AS n_valid,
           {bigsum_sql("CASE WHEN ok THEN 0 ELSE 1 END")} AS n_invalid
    FROM (
      SELECT (CAST(o_orderkey AS VARCHAR) IS NOT NULL
              AND CAST(o_orderkey AS VARCHAR) <> ''
              AND o_orderpriority IS NOT NULL
              AND o_orderpriority <> '' AND o_totalprice IS NOT NULL
              AND o_totalprice >= 0) AS ok
      FROM orders
    )
    """,
)
def validate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict validation predicate set (P2, consumer.py:355-360 — dormant
    in the reference, promoted to live here): non-null id, non-empty
    product, non-negative price."""
    o = load(spark, sf_dir, "orders")
    ok = is_valid_expr(
        F.col("o_orderkey").cast("string"), F.col("o_orderpriority"), F.col("o_totalprice")
    )
    return o.select(ok.alias("ok")).agg(
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_valid"),
        F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("n_invalid"),
    )


@register(
    "global_order_stats",
    oracle=f"""
    SELECT {bigcount_sql()} AS orders_processed,
           {dsum_sql(_PRICE)} AS total_price,
           ({dsum_sql(_PRICE)} / COUNT(*)) AS running_average
    FROM orders
    WHERE {_STATUS_SQL} = '{STATUS_SUCCESS}'
    """,
)
def global_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global streaming aggregate (A1-A3, consumer.py:137-176): count,
    total and running average over the success branch — the values the
    reference prints after every message, evaluated at the final batch
    boundary."""
    o = load(spark, sf_dir, "orders")
    price = _price()
    return (
        o.filter(status_expr(price) == STATUS_SUCCESS)
        .agg(
            F.count("*").alias("orders_processed"),
            dsum(price).alias("total_price"),
            (dsum(price) / F.count("*")).alias("running_average"),
        )
    )


@register(
    "failure_counters",
    oracle=f"""
    SELECT {bigcount_sql()} AS message_count,
           {bigsum_sql(f"CASE WHEN status = '{STATUS_TRANSIENT}' THEN 1 ELSE 0 END")} AS transient_failure_count,
           {bigsum_sql(f"CASE WHEN status = '{STATUS_PERMANENT}' THEN 1 ELSE 0 END")} AS permanent_failure_count,
           {bigsum_sql(f"CASE WHEN status = '{STATUS_PERMANENT}' THEN 1 ELSE 0 END")} AS dlq_count
    FROM (SELECT {_STATUS_SQL} AS status FROM orders)
    """,
)
def failure_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's scalar failure counters (A4, consumer.py:137-145,
    162-192) as one row: message/transient/permanent/DLQ counts. Every
    permanent failure is DLQ'd exactly once (consumer.py:264, 275)."""
    o = load(spark, sf_dir, "orders")
    status = status_expr(_price())
    is_tr = F.when(status == STATUS_TRANSIENT, 1).otherwise(0)
    is_pf = F.when(status == STATUS_PERMANENT, 1).otherwise(0)
    return o.agg(
        F.count("*").alias("message_count"),
        F.sum(is_tr).alias("transient_failure_count"),
        F.sum(is_pf).alias("permanent_failure_count"),
        F.sum(is_pf).alias("dlq_count"),
    )


@register(
    "avro_datum_roundtrip",
    oracle=f"""
    WITH decoded AS (
      SELECT CASE WHEN o_orderkey IS NOT NULL AND o_orderpriority IS NOT NULL
                   AND o_totalprice IS NOT NULL AND NOT isnan({_PRICE})
             THEN CAST(CAST({_PRICE} AS REAL) AS DOUBLE) END AS price,
             -- exact wire size of the Confluent-framed datum: 5-byte
             -- wire prefix + 1-byte string length varint (both strings
             -- are < 64 chars, so zigzag(len) fits one byte) + utf-8
             -- payloads + 4-byte little-endian float32. A null-field
             -- record is unencodable -> NULL datum, NULL size — the
             -- guard mirrors the encoder's _has_null over ALL THREE
             -- fields (a lone NULL o_totalprice also nulls the datum,
             -- so length() propagation via product alone is not enough)
             -- PLUS its documented NaN-as-null conflation (a NaN price
             -- is routed to the NULL-datum path, functions/avro_ocf.py
             -- _has_null; ±Inf o_totalprice lands here too because
             -- inf % 1500 is NaN in both engines' truncated-mod).
             CASE WHEN o_orderkey IS NOT NULL AND o_orderpriority IS NOT NULL
                   AND o_totalprice IS NOT NULL AND NOT isnan({_PRICE})
             THEN CAST(5 + 1 + length(CAST(o_orderkey AS VARCHAR))
                    + 1 + length(o_orderpriority) + 4 AS BIGINT) END AS nb
      FROM orders
    )
    SELECT {status_case_sql("price")} AS status,
           {bigcount_sql()} AS n,
           {dsum_sql("price")} AS total_price,
           {bigsum_sql("nb")} AS wire_bytes
    FROM decoded
    GROUP BY 1
    """,
)
def avro_datum_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark-avro from_avro/to_avro twin (SURVEY.md §1.4's
    "idiomatic path", jar absent in this container): orders -> raw Avro
    binary datum with the Confluent wire prefix (magic 0x00 + schema id
    7) -> decode -> route -> aggregate. The oracle additionally pins
    the EXACT wire size of every datum (schema-derivable for this
    record shape), so the on-wire framing — not just the decoded values
    — is hash-checked. Contrast with codec_roundtrip_routing's OCF
    containers: ~20 B vs ~300 B per record (BASELINE.md's 6x framing
    overhead, eliminated)."""
    from ..functions.avro_ocf import avro_datum_decode_udf, avro_datum_encode_udf
    from ..schemas import ORDER_AVRO_SCHEMA_JSON

    enc = avro_datum_encode_udf(ORDER_AVRO_SCHEMA_JSON, confluent_schema_id=7)
    dec = avro_datum_decode_udf(ORDER_AVRO_SCHEMA_JSON, confluent_schema_id=7)
    width = spark.sparkContext.defaultParallelism
    o = load(spark, sf_dir, "orders").repartition(width).select(
        F.col("o_orderkey").cast("string").alias("orderId"),
        F.col("o_orderpriority").alias("product"),
        _price().cast("float").alias("price"),
    )
    blobs = o.select(enc(F.struct("orderId", "product", "price")).alias("b"))
    decoded = blobs.select(
        F.octet_length("b").cast("bigint").alias("nb"),
        dec(F.col("b")).alias("order"),
    ).select("nb", F.col("order.price").cast("double").alias("price"))
    return decoded.groupBy(status_expr(F.col("price")).alias("status")).agg(
        F.count("*").alias("n"),
        dsum(F.col("price")).alias("total_price"),
        F.sum("nb").cast("bigint").alias("wire_bytes"),
    )
