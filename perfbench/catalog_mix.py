"""``catalog_mix``: batch time-to-result over registered catalog queries.

Closed loop: each query runs to a pandas result, one after another, over
tables written from the seed (``tables.py``). No codec query is in the
mix, so the Avro codec and the streaming layers are bypassed. Two
groups: SQL-style plans and corpus plans (dedup, similarity, text).
A pass over both groups repeats, with the engine's caches released in
between, ``--seconds`` // CATALOG_PASS_S times (a fixed share of the run
per pass, so the sample count does not depend on the code's speed); each
query's figure is its best time over the passes, so a host hiccup in one
pass does not move it (with two passes a median would be their mean).
The typical time-to-result (``latency_ms``) is the geometric mean of
those figures: a median of eight unlike queries is one query's time and
jumps with it, while the geometric mean weighs a change to any query by
its relative size.
The first pass of every query is checked against its DuckDB oracle with
the repository's oracle harness. One untimed pass in set-up warms the JIT and code generation;
the tables are written before it and outside the set-up time, since
they are the benchmark's own input, not work of the engine.
"""

from __future__ import annotations

import os
import time

from common import cpu_shares, cpu_snapshot, geomean, median, tail
from layers import LayerTaps
from tables import write_tables

# One query per plan module, except a second corpus plan for similarity
# search; the list is kept short because every query also pays a cold
# pass in set-up, and a run must stay well under a minute.
SQL = (
    "route_status_agg",
    "q18_large_volume_customers",
    "median_price_by_segment",
    "cohort_ltv_monthly",
    "window_top3_orders_per_customer",
)
CORPUS = (
    "dedup_minhash_candidates",
    "ann_cosine_topk",
    "doc_top_terms",
)
PLAN_MODULES = ("parity", "tpch_extra", "relational", "timeops", "windows",
                "dedup", "similarity", "textops")
SCALE, TOY_SCALE = 0.01, 0.001
# --seconds per timed pass: 2 passes in a 16 s run. A pass takes ~10-12 s
# at SCALE on 4 cores; a third would push a run past ~75 s.
CATALOG_PASS_S = 8.0


def oracle_mismatch(pdf, oracle_df) -> bool:
    """The oracle harness's comparison: columns, row count, exact rows."""
    from tests.oracle_harness import canon_rows

    return (
        sorted(pdf.columns) != sorted(oracle_df.columns)
        or len(pdf) != len(oracle_df)
        or canon_rows(pdf) != canon_rows(oracle_df)
    )


def run_catalog(ctx) -> dict:
    from kafka_avro_order_processor_eg_4131_spark.catalog import REGISTRY
    from kafka_avro_order_processor_eg_4131_spark.operators import cache as C
    from kafka_avro_order_processor_eg_4131_spark.session import get_spark
    from tests.oracle_harness import duckdb_conn

    tr = ctx.tracer
    names = SQL + CORPUS
    module = {n: REGISTRY[n].fn.__module__.rsplit(".", 1)[-1] for n in names}
    data_dir = os.path.join(ctx.work, "data")
    scale = TOY_SCALE if ctx.toy else SCALE

    tr.timed("setup.write_tables", lambda: write_tables(data_dir, ctx.seed, scale))
    spark, get_spark_s = tr.timed("session.get_spark", lambda: get_spark(app_name="perfbench-catalog"))
    ctx.spark = spark

    def warmup():
        for n in names:
            REGISTRY[n].fn(spark, data_dir).toPandas()
        C.release_all()

    _, warmup_s = tr.timed("session.warmup", warmup)
    setup_s = get_spark_s + warmup_s

    taps = LayerTaps(tr) if tr.enabled else None
    samples: dict[str, list[float]] = {n: [] for n in names}
    pass_walls: list[tuple[bool, float]] = []
    first: dict[str, object] = {}
    failed = attempted = 0
    retained = 0
    c0 = cpu_snapshot()
    passes = max(2 if taps is not None else 1, int(ctx.seconds // CATALOG_PASS_S))
    for i in range(passes):
        traced = taps is not None and i % 2 == 1
        if traced:
            taps.install()
        t_pass = time.perf_counter()
        for group, members in (("catalog.sql", SQL), ("catalog.corpus", CORPUS)):
            gid = tr.new_id() if traced else None
            g0 = time.perf_counter()
            for n in members:
                qid = tr.new_id()
                if traced:
                    taps.context = qid
                attempted += 1
                t0 = time.perf_counter()
                try:
                    pdf = REGISTRY[n].fn(spark, data_dir).toPandas()
                except Exception as exc:  # a failing query is counted, the pass goes on
                    print(f"query {n} failed: {exc!r}", flush=True)
                    failed += 1
                    continue
                t1 = time.perf_counter()
                samples[n].append(t1 - t0)
                first.setdefault(n, pdf)
                if traced:
                    tr.add(qid, f"query.{n}", t0, t1, gid)
            if traced:
                tr.add(gid, group, g0, time.perf_counter(), None)
        pass_walls.append((traced, time.perf_counter() - t_pass))
        if traced:
            taps.uninstall()
        retained = C.retained_rdd_count(spark)
        C.release_all()
        spark._jvm.System.gc()  # the next pass starts without this one's garbage
    shares = cpu_shares(c0, cpu_snapshot())

    con = duckdb_conn(data_dir)
    for n, pdf in first.items():
        if oracle_mismatch(pdf, con.execute(REGISTRY[n].oracle).fetch_df()):
            print(f"query {n} differs from its oracle", flush=True)
            failed += 1
    con.close()

    per_query = {n: min(samples[n]) if samples[n] else 0.0 for n in names}
    # one sample per query (its best over passes): the tail is the slowest
    # query of the mix, not one pass's hiccup
    query_ms = [1000.0 * per_query[n] for n in names if samples[n]]
    sql_total = sum(per_query[n] for n in SQL)
    corpus_total = sum(per_query[n] for n in CORPUS)
    t_val, t_pct, t_n = tail(query_ms)
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": sum(len(v) for v in samples.values()) / sum(w for _, w in pass_walls),
        "latency_ms": geomean(query_ms),
        "tail_ms": t_val,
    }
    info = {
        "sql_total_s": sql_total, "corpus_total_s": corpus_total,
        "query_tail_pct": t_pct, "query_tail_n": t_n,
        "pass_walls_s": [round(w, 3) for _, w in pass_walls],
        "query_samples_ms": {n: [round(1000.0 * v, 1) for v in samples[n]] for n in names},
        **shares,
    }
    layer = {
        "session.get_spark_s": get_spark_s,
        "session.warmup_s": warmup_s,
        "catalog.sql_total_s": sql_total,
        "catalog.corpus_total_s": corpus_total,
        "cache.retained_rdds_end": float(retained),
        "host.cpu_busy_pct": shares["busy_pct"],
        "host.steal_pct": shares["steal_pct"],
        **{f"plans.{m}_s": sum(per_query[n] for n in names if module[n] == m) for m in PLAN_MODULES},
        **{f"query.{n}_s": per_query[n] for n in names},
    }
    if tr.enabled:
        plain = [w for t, w in pass_walls if not t]
        traced_w = [w for t, w in pass_walls if t]
        layer["trace.overhead_pct"] = 100.0 * (median(traced_w) / median(plain) - 1.0)
        layer["retry.attempts_failed"] = float(taps.attempts_failed)
    return {"e2e": e2e, "layer": layer, "info": info, "attempted": attempted,
            "failed": failed, "stamp": {"queries": len(names), "scale": scale}}
