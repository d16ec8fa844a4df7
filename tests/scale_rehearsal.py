"""Scale-rehearsal harness (round-4 verdict item 4): run the heaviest
catalog queries at sf0.1 and at synthetic 2x/3x fixture dirs built by
unioning sf0.1 with key-shifted copies, and print a curvature table.
A super-linear t3/t1 is the cheapest local way to catch a hidden
quadratic before the driver does. Round-5 result: all 10 heaviest
queries <= 1.21x at 3x data (docs/PLANS.md "Round-5 scale rehearsal").

Usage (writes synthetic dirs under /tmp, never touches the repo or
/root/testdata):

    python tests/scale_rehearsal.py          # build + run
    python tests/scale_rehearsal.py --build-only

The streaming pipeline's throughput is measured by perfbench's
``stream_drain`` workload, not here.

Key strides keep joins referentially consistent across copies
(orders.o_custkey moves with customer.c_custkey, etc.); region/nation
stay single-copy (lookup dims, duplicating would break their PKs).
Cross-copy documents are exact near-dups BY CONSTRUCTION, so the dedup
family's qualifying output grows ~copies^2 — a deliberately harsher
workload than a true larger corpus; flat runtime under it is
conservative evidence.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

SRC = "/root/testdata/sf0.1"
OUT = "/tmp/spark_graft_scale"

K_CUST = 10_000_000
K_ORD = 100_000_000
K_PART = 10_000_000
K_SUPP = 10_000_000
K_DOC = 10_000_000
K_VEC = 10_000_000
K_EVT = 100_000_000

SHIFTS = {
    "customer": {"c_custkey": K_CUST},
    "supplier": {"s_suppkey": K_SUPP},
    "part": {"p_partkey": K_PART},
    "orders": {"o_orderkey": K_ORD, "o_custkey": K_CUST},
    "lineitem": {"l_orderkey": K_ORD, "l_partkey": K_PART, "l_suppkey": K_SUPP},
    "events": {"event_id": K_EVT, "user_id": K_CUST},
    "documents": {"doc_id": K_DOC},
    "embeddings": {"vec_id": K_VEC},
}

HEAVY = [
    "dedup_embedding_cosine_pairs",
    "corpus_dedup_rate_by_source",
    "pagerank_copurchase_top20",
    "latency_pctiles_by_priority",
    "trend_theilsen_daily_revenue",
    "ann_ivf_kmeans_topk",
    "bpe_segment_stats",
    "dedup_family_agreement",
    "rfm_customer_segments",
    "session_max_concurrency",
]


def build(n_copies: int, out_dir: str, src: str = SRC) -> None:
    """Union ``src`` with (n_copies-1) key-shifted copies via DuckDB."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for t in ("region", "nation"):
        shutil.copy(f"{src}/{t}.parquet", f"{out_dir}/{t}.parquet")
    for t, shifts in SHIFTS.items():
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{src}/{t}.parquet')"
            ).fetchall()
        ]
        selects = []
        for k in range(n_copies):
            proj = ", ".join(
                f"({c} + {shifts[c] * k}) AS {c}" if c in shifts else c
                for c in cols
            )
            selects.append(f"SELECT {proj} FROM read_parquet('{src}/{t}.parquet')")
        union = " UNION ALL ".join(selects)
        con.execute(f"COPY ({union}) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)")


def main() -> int:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)

    dirs = [("sf0.1", SRC)]
    for n in (2, 3):
        out = f"{OUT}/sfx0.{n}"
        if not os.path.exists(f"{out}/lineitem.parquet"):
            build(n, out)
            print(f"built {out}")
        dirs.append((f"sfx0.{n}", out))
    if "--build-only" in sys.argv:
        return 0

    return 1 if batch_rehearsal(dirs) else 0


def batch_rehearsal(
    dirs: list[tuple[str, str]],
    heavy: list[str] | None = None,
    registry=None,
    spark=None,
) -> int:
    """Run the heavy queries at every leg and return the BAD count
    (super-linear or errored — see curvature_report). ``registry`` /
    ``heavy`` / ``spark`` are injectable so the suite can drive a
    throwing query through the REAL per-leg loop (the except branch
    that records (-1,-1)) and assert the harness fails — not just that
    pre-cooked error tuples count (round-6 verdict item 4). With
    ``spark`` given, that session is reused and never stopped (test
    mode); otherwise ONE FRESH SESSION PER SF LEG (round-6 lesson): a
    single JVM serving all 30 heavy queries plus the streaming sweep
    degrades its tail 3-4x — the combined run measured
    bpe_segment_stats at 14.2s on the sfx0.3 leg where a fresh session
    measures 3.4s on the SAME data minutes later. Cross-leg session
    reuse is also not what any production run does; per-leg sessions
    make the curvature column measure DATA scale, not JVM age."""
    from kafka_avro_order_processor_eg_4131_spark.catalog import REGISTRY
    from kafka_avro_order_processor_eg_4131_spark.operators import cache as C
    from kafka_avro_order_processor_eg_4131_spark.session import get_spark

    heavy = HEAVY if heavy is None else heavy
    registry = REGISTRY if registry is None else registry
    results: dict[str, dict[str, tuple[float, int]]] = {}
    for sf_name, sf_dir in dirs:
        leg = spark or get_spark(app_name=f"scale-rehearsal-{sf_name}")
        leg.sparkContext.setLogLevel("ERROR")
        C.release_all()
        for name in heavy:
            t0 = time.time()
            try:
                n_rows = registry[name].fn(leg, sf_dir).count()
                dt = time.time() - t0
            except Exception as e:  # noqa: BLE001 — report and keep sweeping
                n_rows, dt = -1, -1.0
                print(f"ERR {name} @ {sf_name}: {type(e).__name__}: {e}",
                      file=sys.stderr)
            C.release_ephemeral(leg)
            results.setdefault(name, {})[sf_name] = (dt, n_rows)
            print(f"{sf_name} {name}: {dt:.2f}s rows={n_rows}", flush=True)
        C.release_all()
        if spark is None:
            leg.stop()

    return curvature_report(results, [n for n, _ in dirs], heavy)


def curvature_report(
    results: dict[str, dict[str, tuple[float, int]]],
    dir_names: list[str],
    heavy: list[str],
) -> int:
    """Print the curvature table; return the number of BAD queries —
    super-linear (t3/t1 > 2.0) OR errored at any scale. An erroring
    query records dt=-1, which makes the ratio negative/NaN and would
    sail under the 2.0 threshold — a hidden quadratic that OOMs at 3x
    would then read as flat curvature (round-5 advice), so any error
    cell is a failure, full stop."""
    print("\n| query | " + " | ".join(dir_names) + " | t3/t1 | rows 1->3 |")
    print("|---" * (len(dir_names) + 3) + "|")
    bad = 0
    for name in heavy:
        r = results[name]
        times = [r[n][0] for n in dir_names]
        rows = [r[n][1] for n in dir_names]
        t1, t3 = times[0], times[-1]
        ratio = t3 / t1 if t1 > 0 else float("nan")
        if ratio > 2.0 or any(dt < 0 for dt in times) or any(n < 0 for n in rows):
            bad += 1
        cells = " | ".join(f"{t:.2f}" for t in times)
        print(f"| {name} | {cells} | {ratio:.2f} | {rows[0]}->{rows[-1]} |")
    return bad


if __name__ == "__main__":
    sys.exit(main())
