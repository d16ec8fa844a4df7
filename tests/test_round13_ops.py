"""Round-13 pins (optimization round 2).

- Consumer-level PLAN memoization for the lazily-expanded dedup pair
  relations (plans/dedup.py::_plan_memo, round-12 verdict item 1):
  the expanded relations are pure plan (never persisted — the round-7
  quadratic-blowup rule), but rebuilding one costs 0.3-1.5 s of py4j +
  eager analysis per consumer touch. The memo returns the SAME
  DataFrame object per (session, sf_dir) and is invalidated together
  with the family caches (release_families), so a released family can
  never leak through a stale consumer plan.
- The streaming foreachBatch router (streaming/pipeline.py::
  process_batch): one routed write plus a per-batch publish into the
  four sinks. A single unwritable sink must still fail the WHOLE batch
  (the checkpoint never advances past a partial commit), a replayed
  batch must replace its output rather than append to it, and the
  batch runs at most two Spark jobs — pinned here.

- warm_concurrently multi-failure diagnostics (round-12 advice): two
  failing thunks now surface as a BaseExceptionGroup carrying BOTH
  exceptions; a single failure still raises the original exception
  unwrapped (the round-12 pin).
"""

from __future__ import annotations

import pytest

from kafka_avro_order_processor_eg_4131_spark.operators import cache as C


class TestDedupPlanMemo:
    def test_expanded_helpers_return_same_object(self, spark, sf_small):
        """Two touches of every memoized expansion helper return the
        IDENTICAL DataFrame object (plan reuse, not a rebuild)."""
        from kafka_avro_order_processor_eg_4131_spark.plans import dedup as P

        helpers = [
            P._sigs_cached,
            P._candidates_expanded,
            P._jaccard_expanded,
            P._simhash_expanded,
            P._simhash_pairs_expanded,
            P._embedding_pairs_cached,
        ]
        try:
            for h in helpers:
                assert h(spark, sf_small) is h(spark, sf_small), h.__name__
        finally:
            C.release_all()

    def test_release_families_invalidates_plan_memo(self, spark, sf_small):
        """release_families() drops the memoized plans with the family
        caches: the next touch rebuilds a FRESH DataFrame whose plan no
        longer references the released (unpersisted) family entries."""
        from kafka_avro_order_processor_eg_4131_spark.plans import dedup as P

        try:
            before = P._jaccard_expanded(spark, sf_small)
            C.release_families(spark)
            after = P._jaccard_expanded(spark, sf_small)
            assert before is not after
            # and the rebuilt plan still computes the same rows
            assert sorted(map(tuple, after.collect())) == sorted(
                map(tuple, before.collect())
            )
        finally:
            C.release_all()

    def test_memoized_plan_results_stable(self, spark, sf_small):
        """A memoized plan's results equal a fresh rebuild's results —
        the memo changes construction cost, never what is computed."""
        from kafka_avro_order_processor_eg_4131_spark.plans import dedup as P

        try:
            memoized = P._simhash_pairs_expanded(spark, sf_small).collect()
            C.release_families(spark)
            fresh = P._simhash_pairs_expanded(spark, sf_small).collect()
            assert sorted(map(tuple, memoized)) == sorted(map(tuple, fresh))
        finally:
            C.release_all()


class TestWarmConcurrentlyMultiFailure:
    def test_single_failure_raises_unwrapped(self):
        with pytest.raises(ValueError, match="boom-a"):
            C.warm_concurrently(
                [lambda: None, lambda: (_ for _ in ()).throw(ValueError("boom-a"))]
            )

    def test_multi_failure_raises_group_with_all(self):
        def fail(msg):
            raise ValueError(msg)

        with pytest.raises(BaseExceptionGroup) as ei:
            C.warm_concurrently(
                [lambda: fail("boom-a"), lambda: fail("boom-b"), lambda: None]
            )
        msgs = sorted(str(e) for e in ei.value.exceptions)
        assert msgs == ["boom-a", "boom-b"]


def _toy_batch(spark):
    """Six routed rows. Prices 10, 710, 1410, 2110, ...: transient is
    [5, 50] so id 0 (price 10) is transient, id 1 is a success and
    permanent (> 1000) covers ids >= 2."""
    from pyspark.sql import functions as F

    from kafka_avro_order_processor_eg_4131_spark.functions.routing import (
        status_expr,
    )

    batch = spark.range(6).select(
        F.encode(F.col("id").cast("string"), "utf-8").alias("key"),
        F.encode(F.lit("x"), "utf-8").alias("value"),
        F.lit("orders").alias("topic"),
        F.lit(0).cast("int").alias("partition"),
        F.col("id").cast("long").alias("offset"),
        F.struct(
            F.col("id").cast("string").alias("orderId"),
            F.lit("p").alias("product"),
            (F.col("id") * 700 + 10).cast("float").alias("price"),
        ).alias("order"),
    )
    return batch.withColumn("status", status_expr(F.col("order.price")))


def _sinks(tmp_path):
    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
        PipelineSinks,
    )

    return PipelineSinks(
        success_dir=str(tmp_path / "success"),
        dlq_dir=str(tmp_path / "dlq"),
        retry_dir=str(tmp_path / "retry"),
        agg_dir=str(tmp_path / "agg"),
    )


def _sink_rows(spark, sinks) -> dict:
    """Each sink's rows as sorted tuples; the DLQ's wall-clock timestamp
    header is left out."""

    def hdrs(r):
        return tuple(
            (h["key"], bytes(h["value"]))
            for h in (r.get("headers") or [])
            if h["key"] != "timestamp"
        )

    out = {}
    for name in ("success", "dlq", "retry"):
        rows = spark.read.parquet(getattr(sinks, f"{name}_dir")).collect()
        out[name] = sorted(
            (r["key"], r["value"], hdrs(r.asDict())) for r in rows
        )
    out["agg"] = sorted(map(tuple, spark.read.parquet(sinks.agg_dir).collect()))
    return out


class TestParallelSinkCommit:
    def test_one_failing_sink_fails_the_whole_batch(self, spark, tmp_path):
        """All-or-replay: if any of the four sinks cannot take its
        files, process_batch must raise (so foreachBatch fails and the
        checkpoint never advances past a partial commit). A file
        planted where the dlq DIRECTORY belongs makes exactly one sink
        unwritable while the other three can be written."""
        from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
            PipelineSinks,
            process_batch,
        )

        batch = _toy_batch(spark)
        dlq_blocker = tmp_path / "dlq"
        dlq_blocker.write_text("not a directory")
        sinks = PipelineSinks(
            success_dir=str(tmp_path / "success"),
            dlq_dir=str(dlq_blocker),
            retry_dir=str(tmp_path / "retry"),
            agg_dir=str(tmp_path / "agg"),
        )
        with pytest.raises(Exception):
            process_batch(batch, 0, sinks)

    def test_all_sinks_receive_their_rows(self, spark, tmp_path):
        """The one routed write lands every input row in exactly one of
        success/dlq/retry, and the agg row carries the success totals."""
        from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
            process_batch,
        )

        batch = _toy_batch(spark)
        by_status = {
            r["status"]: r["n"]
            for r in batch.groupBy("status").count().withColumnRenamed(
                "count", "n"
            ).collect()
        }
        sinks = _sinks(tmp_path)
        process_batch(batch, 7, sinks)
        n_success = spark.read.parquet(sinks.success_dir).count()
        n_dlq = spark.read.parquet(sinks.dlq_dir).count()
        n_retry = spark.read.parquet(sinks.retry_dir).count()
        agg = spark.read.parquet(sinks.agg_dir).collect()
        assert n_success == by_status.get("success", 0)
        assert n_dlq == by_status.get("permanent_failure", 0)
        assert n_retry == by_status.get("transient_failure", 0)
        assert n_success + n_dlq + n_retry == 6
        assert len(agg) == 1 and agg[0]["batch_id"] == 7
        assert agg[0]["order_count"] == n_success

    def test_batch_runs_at_most_two_jobs(self, spark, tmp_path):
        """One routed write plus the one-row agg write: at most 2 Spark
        jobs per micro-batch (no persist, no per-sink jobs)."""
        from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
            process_batch,
        )

        sc = spark.sparkContext
        group = f"process-batch-jobs-{id(tmp_path)}"
        sc.setJobGroup(group, "count process_batch jobs")
        try:
            process_batch(_toy_batch(spark), 3, _sinks(tmp_path))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert 1 <= len(jobs) <= 2, jobs

    def test_replayed_batch_replaces_its_output(self, spark, tmp_path):
        """The same batch_id processed twice leaves one copy of every
        row, with the same bytes and DLQ headers, and one agg row."""
        from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
            process_batch,
        )

        sinks = _sinks(tmp_path)
        process_batch(_toy_batch(spark), 5, sinks)
        first = _sink_rows(spark, sinks)
        process_batch(_toy_batch(spark), 5, sinks)
        assert _sink_rows(spark, sinks) == first
        assert [len(first[k]) for k in ("success", "dlq", "retry", "agg")] == [
            1, 4, 1, 1,
        ]

    def test_publish_failure_is_retried_without_duplicates(
        self, spark, tmp_path, monkeypatch
    ):
        """A publish that moves every file and then fails is retried by
        with_retry: the re-run replaces the first attempt's files, so
        exactly one copy lands."""
        from kafka_avro_order_processor_eg_4131_spark.streaming import pipeline

        real = pipeline._publish
        calls = []

        def publish_then_fail_once(*args):
            real(*args)
            calls.append(1)
            if len(calls) == 1:
                raise OSError("injected failure after publish")

        monkeypatch.setattr(pipeline, "_publish", publish_then_fail_once)
        sinks = _sinks(tmp_path)
        pipeline.process_batch(_toy_batch(spark), 9, sinks)
        assert len(calls) == 2
        rows = _sink_rows(spark, sinks)
        assert [len(rows[k]) for k in ("success", "dlq", "retry", "agg")] == [
            1, 4, 1, 1,
        ]
        assert rows["agg"] == [(9, 1, 710.0)]
