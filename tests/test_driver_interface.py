"""Driver-interface regression guards (round-1 lessons):

1. No catalog query may emit array/struct/map/binary TOP-LEVEL columns
   — the driver's canonicalizer cannot hash them (round-1 harness
   errors on doc_postings_lists / doc_feature_hashing /
   multimodal_features).
2. No catalog query may plan a single-partition window (WindowExec
   with no partition spec funnels the relation onto one task — the
   100 TB scale-killer flagged in round 1).
"""

from __future__ import annotations

import re

import pytest

from kafka_avro_order_processor_eg_4131_spark.catalog import REGISTRY


def test_no_complex_top_level_output_columns(spark, sf_small):
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    offenders = {}
    for name, q in sorted(REGISTRY.items()):
        df = q.fn(spark, sf_small)
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType, BinaryType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"driver-unhashable output columns: {offenders}"


_WINDOW_RE = re.compile(r"\bWindow(?:GroupLimit)?\b")


def _has_partitionless_window(plan: str) -> bool:
    """True if the nearest Exchange below any Window node is
    SinglePartition — the signature of Window.orderBy() with no
    partitionBy (WindowExec 'No Partition Defined')."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Window " not in line and "Window [" not in line:
            continue
        for nxt in lines[i + 1 : i + 6]:
            if "Exchange" in nxt:
                if "SinglePartition" in nxt:
                    return True
                break
            if _WINDOW_RE.search(nxt):
                break
    return False


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_single_partition_window(spark, sf_small, name):
    df = REGISTRY[name].fn(spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not _has_partitionless_window(plan), (
        f"{name} plans a single-partition window:\n{plan[:3000]}"
    )


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_cartesian_product(spark, sf_small, name):
    """Catalog-wide guard (round 3): no registered plan may contain a
    CartesianProduct — every cross pairing must be either a broadcast
    against a provably tiny side (BroadcastNestedLoopJoin) or a keyed
    equi-join. A CartesianProduct means two non-broadcast sides meet
    unkeyed — corpus-quadratic at scale, the exact trap the round-2
    embedding near-dup plan fell into."""
    df = REGISTRY[name].fn(spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, (
        f"{name} plans a CartesianProduct:\n{plan[:3000]}"
    )
