"""Content-based routing and validation expressions.

The reference's live path (consumer.py:213-276) classifies every record
into one of three statuses:

- price is null                     -> error  -> permanent_failure (consumer.py:249-250, 272-276)
- 5.0 <= price <= 50.0 (closed)     -> transient_failure           (consumer.py:253-256)
- price > 1000.0 (strict)           -> permanent_failure           (consumer.py:259-266)
- otherwise                         -> success                     (consumer.py:269-270)

The rule bands are disjoint so evaluation order is immaterial
(SURVEY.md §4.1); a single ``when`` chain lets Catalyst fold it into
one projection — no custom operator needed, whole-stage codegen applies.

The strict validation set (orderId/product non-empty, price >= 0) lives
on the reference's dormant ``process_message`` path (consumer.py:355-360,
dead code per SURVEY.md §3.4); the engine promotes it to a live,
composable predicate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..schemas import (
    PERMANENT_THRESHOLD,
    STATUS_PERMANENT,
    STATUS_SUCCESS,
    STATUS_TRANSIENT,
    TRANSIENT_HIGH,
    TRANSIENT_LOW,
)


def status_expr(price: Column) -> Column:
    """3-way router (reference consumer.py:249-270) as one when-chain."""
    return (
        F.when(price.isNull(), F.lit(STATUS_PERMANENT))
        .when((price >= TRANSIENT_LOW) & (price <= TRANSIENT_HIGH), F.lit(STATUS_TRANSIENT))
        .when(price > PERMANENT_THRESHOLD, F.lit(STATUS_PERMANENT))
        .otherwise(F.lit(STATUS_SUCCESS))
    )


def status_case_sql(price_sql: str) -> str:
    """The identical router as ANSI SQL (for oracles and spark.sql)."""
    return (
        f"CASE WHEN {price_sql} IS NULL THEN '{STATUS_PERMANENT}' "
        f"WHEN {price_sql} >= {TRANSIENT_LOW} AND {price_sql} <= {TRANSIENT_HIGH} "
        f"THEN '{STATUS_TRANSIENT}' "
        f"WHEN {price_sql} > {PERMANENT_THRESHOLD} THEN '{STATUS_PERMANENT}' "
        f"ELSE '{STATUS_SUCCESS}' END"
    )


def is_valid_expr(order_id: Column, product: Column, price: Column) -> Column:
    """Strict validation predicate (reference consumer.py:355-360)."""
    return (
        order_id.isNotNull()
        & (order_id != "")
        & product.isNotNull()
        & (product != "")
        & price.isNotNull()
        & (price >= 0)
    )


def dlq_error_reason_expr(price: Column) -> Column:
    """DLQ error reason text (reference consumer.py:264):
    ``Price exceeds threshold: {price} > 1000.0``.

    Uses printf-style formatting so the string is byte-identical across
    engines (Spark format_string == C printf == DuckDB printf) — except
    for non-finite prices, where the renderings diverge three ways
    (Java 'NaN'/'Infinity', DuckDB 'nan'/'-nan'/'inf', Python 'nan'/
    'inf'). A NaN price can reach the permanent branch (NaN routes
    permanent under total-order comparison), so the engine pins the
    reference's own rendering — Python ``str()``: 'nan', 'inf',
    '-inf' — on both sides (see dlq_error_reason_case_sql).

    Callers: the streaming pipeline's DLQ ``error_reason`` header
    (streaming/pipeline.py ``process_batch``) and the catalog's
    ``route_permanent_dlq`` (plans/parity.py), so both render one text."""
    p = price.cast("double")
    thr = PERMANENT_THRESHOLD
    return (
        F.when(F.isnan(p), F.lit(f"Price exceeds threshold: nan > {thr}"))
        .when(p == F.lit(float("inf")), F.lit(f"Price exceeds threshold: inf > {thr}"))
        .when(p == F.lit(float("-inf")), F.lit(f"Price exceeds threshold: -inf > {thr}"))
        .otherwise(
            F.format_string(
                "Price exceeds threshold: %.2f > %.1f",
                p,
                F.lit(PERMANENT_THRESHOLD),
            )
        )
    )


def dlq_error_reason_case_sql(price_sql: str) -> str:
    """The identical reason text as ANSI SQL (DuckDB printf renders NaN
    as 'nan' OR '-nan' depending on the sign bit — both normalize to
    the pinned Python rendering)."""
    thr = PERMANENT_THRESHOLD
    return (
        f"CASE WHEN isnan({price_sql}) "
        f"THEN 'Price exceeds threshold: nan > {thr}' "
        f"WHEN {price_sql} = 'infinity'::DOUBLE "
        f"THEN 'Price exceeds threshold: inf > {thr}' "
        f"WHEN {price_sql} = '-infinity'::DOUBLE "
        f"THEN 'Price exceeds threshold: -inf > {thr}' "
        f"ELSE printf('Price exceeds threshold: %.2f > %.1f', "
        f"{price_sql}, {thr}) END"
    )
