"""Standalone replica of the driver's correctness gate. Run from ANY cwd:

    python /root/repo/tests/run_driver_check.py [sf_dir]
    python /root/repo/tests/run_driver_check.py --names q1,q2,q3
    python /root/repo/tests/run_driver_check.py --sample 50 --seed 5

Loads __spark_entry__.py by file path (exactly like the driver), runs
entry() + the selected queries() entries vs their oracle_sql() through
DuckDB, and prints a one-line summary. Exit code 1 on any mismatch.

Subset modes (round-4 verdict item 5 — the driver samples 50 random
catalog entries per round, so the builder's local gate should be able
to replicate exactly that statistical shape):

- ``--names a,b,c``  run only the named entries (error on unknown name);
- ``--sample N --seed S``  run N entries drawn without replacement from
  the sorted catalog by ``random.Random(S)`` — seeding by round number
  makes the draw reproducible across the round;
- default (no flag): the full catalog.
"""

from __future__ import annotations

import argparse
import importlib.util
import math
import os
import random
import sys


def canon(df):
    cols = sorted(df.columns)

    def c(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NAN" if math.isnan(v) else v.hex()
        if isinstance(v, (list, tuple)) or "ndarray" in str(type(v)):
            return "[" + ",".join(c(x) for x in v) + "]"
        return repr(v)

    return sorted(tuple(c(df[col].iloc[i]) for col in cols) for i in range(len(df)))


def select_names(all_names: list[str], names: str | None, sample: int | None,
                 seed: int) -> list[str]:
    """The subset to check: explicit names, a seeded random draw, or
    everything. Sorted input so the draw is reproducible."""
    all_sorted = sorted(all_names)
    if names:
        picked = [n.strip() for n in names.split(",") if n.strip()]
        unknown = [n for n in picked if n not in set(all_sorted)]
        if unknown:
            raise SystemExit(f"unknown query names: {unknown}")
        return picked
    if sample is not None:
        # `if sample:` would let --sample 0 silently fall through to the
        # full catalog (round-5 advice) — reject non-positive explicitly.
        if sample <= 0:
            raise SystemExit(f"--sample must be positive, got {sample}")
        return random.Random(seed).sample(all_sorted, min(sample, len(all_sorted)))
    return all_sorted


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--names", help="comma-separated query names to check")
    ap.add_argument("--sample", type=int, help="check N randomly drawn entries")
    ap.add_argument("--seed", type=int, default=0,
                    help="PRNG seed for --sample (use the round number)")
    args = ap.parse_args()
    sf_dir = args.sf_dir
    entry_path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("__spark_entry__", entry_path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession

    import duckdb

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    rows = mod.entry(spark).collect()
    assert len(rows) > 0, "entry() smoke returned no rows"

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    from kafka_avro_order_processor_eg_4131_spark.operators import cache as C

    fails, rows_only = [], 0
    queries = mod.queries()
    oracles = mod.oracle_sql()
    selected = select_names(list(queries), args.names, args.sample, args.seed)
    for name in selected:
        sdf = queries[name](spark, sf_dir).toPandas()
        C.release_ephemeral()  # per-query persists done once toPandas returns
        o = oracles.get(name)
        if o is None:
            rows_only += 1
            continue
        odf = con.execute(o).fetch_df()
        if not (canon(sdf) == canon(odf) and sorted(sdf.columns) == sorted(odf.columns)):
            fails.append(name)
    # selected/total so subset runs can't be misread as catalog totals
    # (round-5 advice) — the full-catalog line keeps its historic shape.
    n_total = len(queries)
    sel = (
        f"{len(selected)}" if len(selected) == n_total else f"{len(selected)}/{n_total}"
    )
    print(
        f"queries: {sel} oracles: {sum(1 for n in selected if n in oracles)} "
        f"rows-only: {rows_only} mismatches: {fails}"
    )
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
