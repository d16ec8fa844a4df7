"""``stream_drain``: the engine's broker-free pipeline in a closed loop.

A backlog of homogeneous orders — one writer schema, the reference price
mix (~3% transient, ~33% permanent) — is drained by
``run_order_pipeline(available_now=True)`` in equal micro-batches of one
file per simulated topic partition. The backlog is drained again (fresh
checkpoint and sinks) ``--seconds`` // DRAIN_ROUND_S times, after
untimed warm-up rounds.

Every message is checked after the timed region: it lands in exactly
one of success/DLQ/retry, in the sink its price says, with its original
bytes; DLQ records carry the five headers and the right reason; route
counts and the success price total equal the reference-style loop's.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from common import Tracer, cpu_shares, cpu_snapshot, median, percentile, self_times
from layers import LayerTaps

PARTITIONS = 8  # simulated topic partitions: one file each per micro-batch
TOPIC = "orders"
PROGRESS_KEYS = ("addBatch", "walCommit", "commitOffsets", "queryPlanning",
                 "latestOffset", "getBatch")


@dataclass(frozen=True)
class DrainSize:
    msgs_per_file: int
    batches: int  # micro-batches per drain round
    warm_rounds: int


DRAIN_ROUND_S = 4.0  # nominal drain round (4 batches of 20k messages) on 4 cores
DRAIN = DrainSize(msgs_per_file=2500, batches=4, warm_rounds=3)
DRAIN_TOY = DrainSize(msgs_per_file=50, batches=2, warm_rounds=1)


@dataclass
class Backlog:
    """Envelope files plus what each message must become."""

    files: list[str]
    # (partition, offset) -> (value bytes, order price)
    expected: dict[tuple[int, int], tuple[bytes, float]]


# ---------------------------------------------------------------------------
# inputs (generated by the engine's own generator and encoder)
# ---------------------------------------------------------------------------


def encode_orders(spark, n: int, seed: int) -> pa.Table:
    """``synthetic_orders`` -> ``ocf_encode_udf`` as one Spark action;
    returns (orderId, price, value) rows in id order."""
    from pyspark.sql import functions as F

    from kafka_avro_order_processor_eg_4131_spark.functions.avro_ocf import ocf_encode_udf
    from kafka_avro_order_processor_eg_4131_spark.schemas import ORDER_AVRO_SCHEMA_JSON
    from kafka_avro_order_processor_eg_4131_spark.sources.generator import synthetic_orders

    enc = ocf_encode_udf(ORDER_AVRO_SCHEMA_JSON)
    return synthetic_orders(spark, n=n, seed=seed).select(
        "orderId", "price", enc(F.struct("orderId", "product", "price")).alias("value"),
    ).toArrow()


def write_backlog(rows: pa.Table, out_dir: str, msgs_per_file: int,
                  mtime_base: float) -> Backlog:
    """Split encoded rows into envelope files: file ``f`` holds partition
    ``f % PARTITIONS`` and continues that partition's offsets. Each group
    of PARTITIONS files gets its own mtime second, so a file source
    taking PARTITIONS files per trigger takes exactly one group."""
    os.makedirs(out_dir, exist_ok=True)
    ids = rows.column("orderId").to_pylist()
    prices = rows.column("price").to_pylist()
    values = rows.column("value").to_pylist()
    n_files = len(ids) // msgs_per_file
    backlog = Backlog(files=[], expected={})
    for f in range(n_files):
        part = f % PARTITIONS
        first = (f // PARTITIONS) * msgs_per_file
        lo, hi = f * msgs_per_file, (f + 1) * msgs_per_file
        for k in range(msgs_per_file):
            backlog.expected[(part, first + k)] = (values[lo + k], prices[lo + k])
        table = pa.table({
            "key": pa.array([i.encode() for i in ids[lo:hi]], pa.binary()),
            "value": pa.array(values[lo:hi], pa.binary()),
            "topic": pa.array([TOPIC] * msgs_per_file, pa.string()),
            "partition": pa.array([part] * msgs_per_file, pa.int32()),
            "offset": pa.array(range(first, first + msgs_per_file), pa.int64()),
        })
        name = f"f{f:06d}.parquet"
        path = os.path.join(out_dir, name)
        pq.write_table(table, path)
        t = mtime_base + f // PARTITIONS
        os.utime(path, (t, t))
        backlog.files.append(name)
    return backlog


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------


def expected_route(price: float) -> tuple[str, str | None]:
    from kafka_avro_order_processor_eg_4131_spark.schemas import (
        PERMANENT_THRESHOLD, STATUS_PERMANENT, STATUS_SUCCESS, STATUS_TRANSIENT,
        TRANSIENT_HIGH, TRANSIENT_LOW,
    )

    if TRANSIENT_LOW <= price <= TRANSIENT_HIGH:
        return STATUS_TRANSIENT, None
    if price > PERMANENT_THRESHOLD:
        return STATUS_PERMANENT, "Price exceeds threshold: %.2f > 1000.0" % price
    return STATUS_SUCCESS, None


def _read_sink(path: str) -> pa.Table | None:
    if not os.path.isdir(path) or not any(
        n.endswith(".parquet") for n in os.listdir(path)
    ):
        return None
    return pq.read_table(path)


def reference_counts(values: list[bytes]) -> dict:
    """The reference's one-message-at-a-time loop over the same bytes."""
    from tests.test_throughput_vs_reference_style import reference_style_loop

    return reference_style_loop(values)


def check_sinks(work_dir: str, backlog: Backlog, ref: dict) -> tuple[int, dict]:
    """Compare the three sinks with what each backlog message must
    become. Returns (failed message count, routed row counts)."""
    from kafka_avro_order_processor_eg_4131_spark.schemas import (
        DLQ_HEADER_KEYS, STATUS_PERMANENT, STATUS_SUCCESS, STATUS_TRANSIENT,
    )

    want = backlog.expected
    seen: dict[tuple[int, int], int] = {}
    bad: set[tuple[int, int]] = set()
    extra = 0
    counts = {STATUS_SUCCESS: 0, STATUS_TRANSIENT: 0, STATUS_PERMANENT: 0}
    success_total = 0.0

    def visit(key, route, value, reason=None):
        nonlocal extra, success_total
        counts[route] += 1
        if key not in want:
            extra += 1
            return
        seen[key] = seen.get(key, 0) + 1
        orig, price = want[key]
        want_route, want_reason = expected_route(price)
        if value != orig or route != want_route or (
            route == STATUS_PERMANENT and reason != want_reason
        ):
            bad.add(key)
        if route == STATUS_SUCCESS:
            success_total += price

    for route, sub in ((STATUS_SUCCESS, "success"), (STATUS_TRANSIENT, "retry")):
        t = _read_sink(os.path.join(work_dir, sub))
        if t is None:
            continue
        for p, o, v, topic in zip(t.column("partition").to_pylist(), t.column("offset").to_pylist(),
                                  t.column("value").to_pylist(), t.column("topic").to_pylist()):
            visit((p, o), route, v)
            if topic != TOPIC:
                bad.add((p, o))

    t = _read_sink(os.path.join(work_dir, "dlq"))
    if t is not None:
        for v, headers in zip(t.column("value").to_pylist(), t.column("headers").to_pylist()):
            h = {x["key"]: x["value"] for x in headers}
            try:
                key = (int(h["original_partition"]), int(h["original_offset"]))
            except (KeyError, ValueError):
                extra += 1
                continue
            visit(key, STATUS_PERMANENT, v, h.get("error_reason", b"").decode())
            if (tuple(x["key"] for x in headers) != tuple(DLQ_HEADER_KEYS)
                    or h["original_topic"] != TOPIC.encode()
                    or not h["timestamp"].decode().isdigit()):
                bad.add(key)

    missing_or_dup = sum(1 for k in want if seen.get(k, 0) != 1)
    failed = len(bad) + missing_or_dup + extra
    # aggregate agreement with the reference-style loop over the same bytes
    if (counts[STATUS_SUCCESS], counts[STATUS_TRANSIENT], counts[STATUS_PERMANENT]) != (
        ref["order_count"], ref["transient"], ref["permanent"]
    ) or abs(success_total - ref["total_price"]) > 1e-6 * max(1.0, ref["total_price"]):
        failed = max(failed, 1)
    agg = _read_sink(os.path.join(work_dir, "agg"))
    agg_n = sum(x or 0 for x in agg.column("order_count").to_pylist()) if agg else 0
    agg_sum = sum(x or 0.0 for x in agg.column("total_price").to_pylist()) if agg else 0.0
    if agg_n != ref["order_count"] or abs(agg_sum - ref["total_price"]) > 1e-6 * max(1.0, ref["total_price"]):
        failed = max(failed, 1)
    return failed, counts


def count_mismatch(work_dir: str, counts: dict) -> int:
    """Rows by which the sinks' route counts differ from ``counts``."""
    from kafka_avro_order_processor_eg_4131_spark.schemas import (
        STATUS_PERMANENT, STATUS_SUCCESS, STATUS_TRANSIENT,
    )

    off = 0
    for route, sub in ((STATUS_SUCCESS, "success"), (STATUS_TRANSIENT, "retry"),
                       (STATUS_PERMANENT, "dlq")):
        t = _read_sink(os.path.join(work_dir, sub))
        off += abs((t.num_rows if t is not None else 0) - counts[route])
    return off


# ---------------------------------------------------------------------------
# shared measurements
# ---------------------------------------------------------------------------


def _progress_dicts(progress) -> list[dict]:
    out = []
    for p in progress:
        if hasattr(p, "json"):
            p = json.loads(p.json)
        if "batchId" in p and (p.get("numInputRows") or 0) > 0:
            out.append(dict(p))
    return out


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    m: dict[str, float] = {}
    dur = [p.get("durationMs") or {} for p in progress]
    for k in PROGRESS_KEYS:
        vals = [d[k] for d in dur if k in d]
        m[f"pipeline.{k}_ms"] = median(vals) if vals else 0.0
    over = [d["triggerExecution"] - d.get("addBatch", 0) for d in dur if "triggerExecution" in d]
    m["pipeline.trigger_overhead_ms"] = median(over) if over else 0.0
    m["pipeline.batches"] = float(len(progress))
    rows = [p["numInputRows"] for p in progress]
    m["pipeline.rows_per_batch_p50"] = median(rows) if rows else 0.0
    return m


def span_metrics(tracer: Tracer) -> dict[str, float]:
    """Per-layer figures from process_batch / warm / with_retry spans."""
    spans = tracer.spans
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    batches = by_name.get("pipeline.process_batch", [])
    warms = by_name.get("cache.warm_concurrently", [])
    writes = by_name.get("retry.with_retry", [])
    selfs = self_times(spans)
    warm_parent = {w.span_id: w.parent for w in warms}
    per_batch_max: dict[int | None, float] = {}
    for w in writes:
        b = warm_parent.get(w.parent)
        per_batch_max[b] = max(per_batch_max.get(b, 0.0), w.duration)
    write_sum = sum(w.duration for w in writes)
    warm_sum = sum(w.duration for w in warms)
    return {
        "pipeline.process_batch_s": sum(b.duration for b in batches),
        "pipeline.process_batch_self_s": selfs.get("pipeline.process_batch", 0.0),
        "retry.sink_write_s": write_sum,
        "retry.sink_write_max_ms_p50": 1000 * median(list(per_batch_max.values())) if per_batch_max else 0.0,
        "cache.warm_concurrently_ms_p50": 1000 * median([w.duration for w in warms]) if warms else 0.0,
        # sink-write time per second of concurrent-group wall time
        "cache.write_overlap": write_sum / warm_sum if warm_sum else 0.0,
    }


def standalone_codec(spark, tracer: Tracer, input_dir: str, n_msgs: int, values) -> dict[str, float]:
    """Decode and decode+route of the workload's bytes as plain batch
    actions, and the single-threaded reference loop over the same bytes."""
    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import (
        decode_orders, route_orders,
    )

    env = spark.read.parquet(input_dir)

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    run(route_orders(decode_orders(env)))  # compile once
    dec, both = [], []
    for _ in range(3):  # routing adds little to decode: medians of alternated runs
        dec.append(tracer.timed("avro_ocf.decode_orders", lambda: run(decode_orders(env)))[1])
        both.append(tracer.timed("routing.route_orders", lambda: run(route_orders(decode_orders(env))))[1])
    dec_s, both_s = median(dec), median(both)
    _, ref_s = tracer.timed("avro_ocf.ref_loop", lambda: reference_counts(values))
    return {
        "avro_ocf.decode_s": dec_s,
        "avro_ocf.decode_us_per_msg": 1e6 * dec_s / n_msgs,
        "routing.route_s": both_s - dec_s,
        "avro_ocf.ref_loop_msgs_s": n_msgs / ref_s,
    }


def generator_split(spark, tracer: Tracer, n: int, seed: int) -> dict[str, float]:
    """Generator alone vs generator + encoder, as no-op-sink actions."""
    from pyspark.sql import functions as F

    from kafka_avro_order_processor_eg_4131_spark.functions.avro_ocf import ocf_encode_udf
    from kafka_avro_order_processor_eg_4131_spark.schemas import ORDER_AVRO_SCHEMA_JSON
    from kafka_avro_order_processor_eg_4131_spark.sources.generator import synthetic_orders

    def gen():
        synthetic_orders(spark, n=n, seed=seed).write.format("noop").mode("overwrite").save()

    def gen_enc():
        enc = ocf_encode_udf(ORDER_AVRO_SCHEMA_JSON)
        (synthetic_orders(spark, n=n, seed=seed)
         .select(enc(F.struct("orderId", "product", "price")).alias("value"))
         .write.format("noop").mode("overwrite").save())

    _, g = tracer.timed("generator.synthetic_orders", gen)
    _, ge = tracer.timed("avro_ocf.ocf_encode", gen_enc)
    return {"generator.synthetic_orders_s": g, "avro_ocf.encode_s": max(0.0, ge - g)}


def _sink_counts(counts: dict) -> dict[str, float]:
    from kafka_avro_order_processor_eg_4131_spark.schemas import (
        STATUS_PERMANENT, STATUS_SUCCESS, STATUS_TRANSIENT,
    )

    return {
        "routing.rows.success": float(counts[STATUS_SUCCESS]),
        "routing.rows.transient": float(counts[STATUS_TRANSIENT]),
        "routing.rows.permanent": float(counts[STATUS_PERMANENT]),
    }


def _committed_files(checkpoint: str) -> dict[str, int]:
    """file name -> batch id, from the file source's log, for batches
    whose commit file exists."""
    commits = os.path.join(checkpoint, "commits")
    done = {int(n) for n in os.listdir(commits) if n.isdigit()} if os.path.isdir(commits) else set()
    src = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(src):
        return out
    for name in os.listdir(src):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(src, name)) as f:
                lines = f.read().splitlines()
        except FileNotFoundError:  # removed by log compaction meanwhile
            continue
        for line in lines:
            if line.startswith("{"):
                entry = json.loads(line)
                if entry["batchId"] in done:
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


# ---------------------------------------------------------------------------
# stream_drain
# ---------------------------------------------------------------------------


def drain_rounds(seconds: float) -> int:
    """Rounds per run: the run's budget at the nominal round time, so the
    number of batch samples does not depend on the code's speed; two at
    least, for the traced run's untraced/traced pair."""
    return max(2, int(seconds // DRAIN_ROUND_S))


def run_drain(ctx) -> dict:
    from kafka_avro_order_processor_eg_4131_spark.session import get_spark
    from kafka_avro_order_processor_eg_4131_spark.streaming.pipeline import run_order_pipeline

    size = DRAIN_TOY if ctx.toy else DRAIN
    per_round = size.msgs_per_file * PARTITIONS * size.batches
    tr = ctx.tracer

    spark, get_spark_s = tr.timed("session.get_spark", lambda: get_spark(app_name="perfbench-drain"))
    ctx.spark = spark

    rows, build_s = tr.timed("setup.encode_backlog", lambda: encode_orders(spark, per_round, ctx.seed))
    input_dir = os.path.join(ctx.work, "in")
    backlog = write_backlog(rows, input_dir, size.msgs_per_file, time.time() - 1e4)
    values = [backlog.expected[k][0] for k in sorted(backlog.expected)]
    ref = reference_counts(values)

    def warmup():
        # batch times keep falling for about a dozen batches as the JIT
        # compiles the plan; drain those before timing anything
        for r in range(size.warm_rounds):
            out = os.path.join(ctx.work, f"warm{r}")
            run_order_pipeline(spark, input_dir, out, available_now=True,
                               max_files_per_trigger=PARTITIONS)
            shutil.rmtree(out, ignore_errors=True)

    _, warmup_s = tr.timed("session.warmup", warmup)
    setup_s = get_spark_s + build_s + warmup_s

    taps = LayerTaps(tr) if tr.enabled else None
    walls, batch_ms, round_max, progress_all = [], [], [], []
    traced_walls, plain_walls = [], []
    failed = attempted = 0
    counts = None
    c0 = cpu_snapshot()
    for r in range(drain_rounds(ctx.seconds)):
        traced = taps is not None and r % 2 == 1
        out_dir = os.path.join(ctx.work, f"round{r}")
        prog: list = []
        sid = tr.new_id()
        if traced:
            taps.context = sid
            taps.install()
        t0 = time.perf_counter()
        try:
            run_order_pipeline(spark, input_dir, out_dir, available_now=True,
                               max_files_per_trigger=PARTITIONS, progress_out=prog)
        finally:
            wall = time.perf_counter() - t0
            if traced:
                taps.uninstall()
                tr.add(sid, "drain.round", t0, t0 + wall, None)
        walls.append(wall)
        (traced_walls if traced else plain_walls).append(wall)
        prog = _progress_dicts(prog)
        progress_all.extend(prog)
        batch_ms.extend(p["durationMs"]["triggerExecution"] for p in prog)
        round_max.append(max(p["durationMs"]["triggerExecution"] for p in prog))
        if r == 0:
            f, counts = check_sinks(out_dir, backlog, ref)
            backlog_end = len(backlog.files) - len(
                _committed_files(os.path.join(out_dir, "checkpoint")))
        else:  # later rounds repeat the same work: compare route counts only
            f = count_mismatch(out_dir, counts)
        failed += f
        attempted += per_round
        shutil.rmtree(out_dir, ignore_errors=True)
    shares = cpu_shares(c0, cpu_snapshot())

    # A run's triggers are too few for a percentile with ten samples beyond
    # it above the median, and their maximum follows single host hiccups:
    # the tail is the median over rounds of each round's slowest trigger.
    t_val = median(round_max)
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": median([per_round / w for w in walls]),
        "latency_ms": percentile(batch_ms, 50),
        "tail_ms": t_val,
    }
    info = {
        "throughput_msgs_s": e2e["throughput_per_s"],
        "batch_p50_ms": e2e["latency_ms"],
        "batch_tail_ms": t_val, "batch_tail_rounds": len(round_max),
        "batch_max_ms": max(batch_ms), "batch_n": len(batch_ms),
        "round_walls_s": [round(w, 3) for w in walls], "batch_ms": batch_ms,
        "msgs_per_round": per_round,
        "msgs_per_batch": size.msgs_per_file * PARTITIONS,
        **shares,
    }
    layer = {
        "session.get_spark_s": get_spark_s,
        "session.warmup_s": warmup_s,
        **progress_metrics(progress_all),
        **_sink_counts(counts),
        "pipeline.backlog_files_end": float(backlog_end),
        "host.cpu_busy_pct": shares["busy_pct"],
        "host.steal_pct": shares["steal_pct"],
    }
    if tr.enabled:
        layer.update(span_metrics(tr))
        layer["retry.attempts_failed"] = float(taps.attempts_failed)
        layer.update(standalone_codec(spark, tr, input_dir, per_round, values))
        layer.update(generator_split(spark, tr, per_round, ctx.seed))
        layer["trace.overhead_pct"] = 100.0 * (median(traced_walls) / median(plain_walls) - 1.0)
    return {"e2e": e2e, "layer": layer, "info": info, "attempted": attempted,
            "failed": failed, "stamp": {"msgs_per_round": per_round}}
