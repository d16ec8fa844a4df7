"""Round-7 regression tests.

1. The generalized sf0.1 value-materializing gate for the whole
   wide-integer-moment family (round-6 verdict item 1): every audited
   query either got widened to DECIMAL(38,0)/HUGEINT or carries a
   written magnitude bound in its docstring; this file pins each one's
   VALUES at sf0.1 against its oracle — .count()-based checks pass even
   when a projection overflows, because Catalyst prunes the unconsumed
   expression.
2. The family()/memo() build-lock sweep window (round-6 advice item 2):
   a caller that has setdefault'd its lock but not yet acquired it
   holds nothing, so release_families' `not lock.locked()` sweep could
   drop the entry and let a later caller mint a fresh lock — duplicate
   concurrent build. The fix re-checks lock identity under _LOCK after
   acquiring and retries; the test forces the window deterministically.
3. The scale-rehearsal harness must EXIT 1 when a query throws, driven
   through the real per-leg loop (round-6 verdict item 4) — not just
   count pre-cooked (-1,-1) tuples.
"""

from __future__ import annotations

import importlib.util
import os
import threading
from types import SimpleNamespace

import pytest

from kafka_avro_order_processor_eg_4131_spark.operators import cache as C

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


def _load_by_path(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(TESTS_DIR, f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# -- 1. wide-integer-moment family: value-materializing sf0.1 gate ---------

# Every query the round-6 verdict named for the wide-arithmetic audit,
# plus the two structurally-adjacent plans found during it (pagerank's
# scaled integer sum — DuckDB's SUM(BIGINT) widens to HUGEINT while
# Spark's long accumulator would wrap — and the CUSUM changepoint).
WIDE_MOMENT_FAMILY = [
    "agg_skewness_kurtosis",  # power sums widened to DECIMAL(38,0)/HUGEINT
    "agg_corr_covar",  # documented: all products double, sums decimal(38,6)
    "agg_variance_exact",  # documented: decimal(38,8) sums, no int64
    "stats_chi2_status_priority",  # documented: only counts are BIGINT
    "stats_ks_mannwhitney_segments",  # guard tightened to n1+n2 < 2^31
    "gini_customer_revenue",  # already DECIMAL(38,0) products
    "forecast_seasonal_naive_backtest",  # documented: no products
    "pagerank_copurchase_top20",  # scaled sum widened to DECIMAL(38,0)
    "events_changepoint_daily",  # documented: |cusum| <= nd*total
]


@pytest.mark.slow
@pytest.mark.parametrize("name", WIDE_MOMENT_FAMILY)
def test_wide_moment_family_matches_oracle_at_sf01(spark, name):
    """Materialize VALUES at sf0.1 for the whole audited family — the
    magnitude regime where the round-6 theilsen/eval_quality int64
    overflow lived and the sf0.01 driver gate structurally cannot see
    (trend_theilsen + eval_quality themselves are pinned in
    test_round6_ops.py)."""
    from kafka_avro_order_processor_eg_4131_spark.catalog import REGISTRY

    from .oracle_harness import compare_query, duckdb_conn

    sf_dir = "/root/testdata/sf0.1"
    con = duckdb_conn(sf_dir)
    try:
        q = REGISTRY[name]
        res = compare_query(spark, con, name, q.fn, q.oracle, sf_dir)
        assert res.ok, f"{name} @ sf0.1: {res.problems}"
    finally:
        con.close()
        C.release_ephemeral(spark)


# -- 2. build-lock sweep window ---------------------------------------------


class _SweepWindowLock:
    """Lock-alike that parks its acquirer BEFORE actually holding
    anything — exactly the state a family() caller is in between its
    registry setdefault and its acquire, when release_families' sweep
    sees locked() == False and drops the entry."""

    def __init__(self) -> None:
        self._inner = threading.Lock()
        self.entered = threading.Event()
        self.proceed = threading.Event()

    def __enter__(self):
        self.entered.set()
        assert self.proceed.wait(timeout=10), "test orchestration stalled"
        self._inner.acquire()
        return self

    def __exit__(self, *exc) -> None:
        self._inner.release()

    def locked(self) -> bool:
        return self._inner.locked()


def test_family_swept_lock_retries_instead_of_duplicate_build(spark):
    """Force the nanosecond sweep window open: T1 grabs its build lock
    entry but parks before holding it; release_families sweeps the
    (unheld) entry; T2 mints a fresh lock and starts a slow build. When
    T1 finally acquires its STALE lock, the identity re-check must send
    it back around to wait on T2's lock and adopt T2's relation — the
    pre-fix code would have run a second concurrent build of the same
    family (round-6 advice item 2)."""
    C.release_all()
    key = (id(spark.sparkContext), "r7_sweep_race", "sf-test")
    fake = _SweepWindowLock()
    with C._LOCK:
        C._FAMILY_BUILDING[key] = fake

    builds: list[str] = []
    results: list[object] = [None, None]
    t2_started = threading.Event()
    t2_release = threading.Event()

    def t1_run() -> None:
        results[0] = C.family(
            spark,
            "r7_sweep_race",
            "sf-test",
            lambda: (builds.append("t1"), spark.range(5))[1],
        )

    def t2_builder():
        builds.append("t2")
        t2_started.set()
        assert t2_release.wait(timeout=10)
        return spark.range(5)

    def t2_run() -> None:
        results[1] = C.family(spark, "r7_sweep_race", "sf-test", t2_builder)

    t1 = threading.Thread(target=t1_run)
    t1.start()
    assert fake.entered.wait(timeout=10)  # T1 parked pre-acquire
    C.release_families(spark)  # sweeps the unheld fake entry
    with C._LOCK:
        assert key not in C._FAMILY_BUILDING, "sweep precondition failed"
    t2 = threading.Thread(target=t2_run)
    t2.start()
    assert t2_started.wait(timeout=10)  # T2 holds a FRESH lock, mid-build
    fake.proceed.set()  # open T1's window: it now holds only the stale lock
    t2_release.set()
    t1.join(timeout=30)
    t2.join(timeout=30)
    assert not t1.is_alive() and not t2.is_alive()

    assert builds == ["t2"], f"duplicate concurrent build ran: {builds}"
    assert results[0] is results[1]
    C.release_all()


def test_memo_swept_lock_retries_instead_of_duplicate_build(spark):
    """Same window, memo() flavor — a duplicate here is a duplicate
    minutes-scale BPE training run."""
    C.release_all()
    key = (id(spark.sparkContext), "r7_sweep_race_memo", "sf-test")
    fake = _SweepWindowLock()
    with C._LOCK:
        C._MEMO_BUILDING[key] = fake

    builds: list[str] = []
    results: list[object] = [None, None]
    t2_started = threading.Event()
    t2_release = threading.Event()

    def t1_run() -> None:
        results[0] = C.memo(
            spark,
            "r7_sweep_race_memo",
            "sf-test",
            lambda: (builds.append("t1"), {"who": "t1"})[1],
        )

    def t2_builder():
        builds.append("t2")
        t2_started.set()
        assert t2_release.wait(timeout=10)
        return {"who": "t2"}

    def t2_run() -> None:
        results[1] = C.memo(spark, "r7_sweep_race_memo", "sf-test", t2_builder)

    t1 = threading.Thread(target=t1_run)
    t1.start()
    assert fake.entered.wait(timeout=10)
    C.release_families(spark)
    t2 = threading.Thread(target=t2_run)
    t2.start()
    assert t2_started.wait(timeout=10)
    fake.proceed.set()
    t2_release.set()
    t1.join(timeout=30)
    t2.join(timeout=30)
    assert not t1.is_alive() and not t2.is_alive()

    assert builds == ["t2"], f"duplicate concurrent build ran: {builds}"
    assert results[0] is results[1]
    C.release_all()


# -- 3. rehearsal harness: a throwing query must fail the run ---------------


class TestStreamingLatencyPercentiles:
    def test_pipeline_progress_out_captures_batch_durations(
        self, spark, tmp_path
    ):
        """progress_out must surface one progress entry per micro-batch
        with a readable duration — the raw material for perfbench's
        trigger latency figures."""
        from kafka_avro_order_processor_eg_4131_spark.functions.avro_ocf import (
            ocf_encode,
        )
        from kafka_avro_order_processor_eg_4131_spark.schemas import (
            ORDER_AVRO_SCHEMA,
        )
        from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
            run_order_pipeline,
        )

        rows = []
        for i in range(6):
            blob = ocf_encode(
                ORDER_AVRO_SCHEMA,
                [{"orderId": f"o-{i}", "product": "P", "price": 10.0 + i}],
            )
            rows.append((f"o-{i}".encode(), blob, "orders", 0, i))
        df = spark.createDataFrame(
            rows, "key binary, value binary, topic string, partition int, offset long"
        )
        input_dir = str(tmp_path / "input")
        df.coalesce(2).write.parquet(input_dir)

        progress: list = []
        run_order_pipeline(
            spark,
            input_dir,
            str(tmp_path / "work"),
            available_now=True,
            max_files_per_trigger=1,
            progress_out=progress,
        )
        assert progress, "no progress entries captured"
        durations = [
            p.get("batchDuration")
            or (p.get("durationMs") or {}).get("triggerExecution")
            for p in progress
        ]
        assert all(d is not None and float(d) >= 0 for d in durations)


class TestRehearsalExitOnError:
    def test_throwing_query_drives_bad_count_through_real_loop(
        self, spark, sf_small, capsys
    ):
        """Inject a query that RAISES into batch_rehearsal's real
        per-leg loop: the except branch records (-1,-1), and the
        curvature report must count it bad — end to end, not via
        pre-cooked tuples."""
        mod = _load_by_path("scale_rehearsal")

        def boom(_spark, _sf_dir):
            raise RuntimeError("injected rehearsal failure")

        registry = {
            "boom": SimpleNamespace(fn=boom),
            "fine": SimpleNamespace(fn=lambda s, d: s.range(3)),
        }
        dirs = [("sf1", sf_small), ("sf2", sf_small), ("sf3", sf_small)]
        bad = mod.batch_rehearsal(
            dirs, heavy=["boom", "fine"], registry=registry, spark=spark
        )
        out = capsys.readouterr()
        assert bad == 1
        assert "ERR boom" in out.err

    def test_main_exits_1_when_batch_leg_is_bad(self, monkeypatch):
        """main() must translate a nonzero bad count into exit code 1 —
        the contract the round-6 close claimed but never pinned."""
        mod = _load_by_path("scale_rehearsal")
        monkeypatch.setattr(mod, "batch_rehearsal", lambda dirs: 1)
        monkeypatch.setattr(mod, "build", lambda n, out: None)
        monkeypatch.setattr(mod.os.path, "exists", lambda _p: True)
        assert mod.main() == 1
        monkeypatch.setattr(mod, "batch_rehearsal", lambda dirs: 0)
        assert mod.main() == 0
