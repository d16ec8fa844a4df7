#!/usr/bin/env python3
"""Benchmark of the order-stream engine, run from the repository root:

    python3 perfbench/run.py --workload stream_drain --seed 1 --seconds 16 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``stream_drain``  closed-loop drain of an encoded order backlog
- ``catalog_mix``   batch time-to-result over catalog queries

Inputs come only from ``--seed``. With ``--trace 0`` the last stdout
line is a JSON object holding every end-to-end metric of BENCHMARK.json;
with ``--trace 1`` it holds every per-layer metric instead (a layer a
workload does not use reads 0), and the run's spans are written to
``.perfbench/out/``. Lines before it give the same figures under the
workload's own names, with the samples each tail was taken from,
and a stamp (host size, versions, seed, sizes, steal%).

All scratch data (inputs, sinks, checkpoints, Spark's local dirs and
temp files) lives under ``.perfbench/`` in the working directory and is
removed at exit. The engine runs on ``local[nproc]``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

PACKAGE = "kafka_avro_order_processor_eg_4131_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
DEADLINE_S = 170  # fail a stuck run before the 180 s a benchmark run may take


class Context:
    """What a workload needs: its seed, budget, tracer and scratch dir."""

    def __init__(self, args, tracer, work: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.toy = args.toy
        self.tracer = tracer
        self.work = work
        self.spark = None


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("stream_drain", "catalog_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help="tiny inputs, for the benchmark's own smoke tests")
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def _environment(root: str, work: str) -> None:
    """Pin the engine to this host's cores and keep every file it writes
    under the scratch dir. Must run before pyspark starts a JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path.insert(0, root)


def _stop_engine(spark) -> None:
    """Stop the streams and the session, then the JVM pyspark launched,
    and wait for it to exit."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found under {root}: run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    scratch = os.path.join(root, ".perfbench")
    work = os.path.join(scratch, f"work-{args.workload}-{os.getpid()}")
    _environment(root, work)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)

    from common import RssSampler, Tracer, stamp

    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    ctx = Context(args, tracer, work)
    try:
        if args.workload == "catalog_mix":
            from catalog_mix import run_catalog as run
        else:
            from stream import run_drain as run
        if args.trace:  # memory sampling only where its metric is reported
            with RssSampler() as rss:
                res = run(ctx)
            res["layer"]["host.peak_rss_mb"] = res["info"]["peak_rss_mb"] = rss.peak_mb
        else:
            res = run(ctx)
        st = stamp(ctx.spark, args.seed, {
            "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
            "run_id": run_id, "steal_pct": res["info"].get("steal_pct"), **res["stamp"],
        })
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        if ctx.spark is not None:
            _stop_engine(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        if tracer.enabled:
            tracer.write(os.path.join(scratch, "out", f"spans-{run_id}.jsonl"))

    if args.trace:
        wanted, values = spec["per_layer"], res["layer"]
    else:
        wanted, values = spec["end_to_end"], res["e2e"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    for k, v in res["info"].items():
        print(f"{args.workload} {k} = {v}")
    print("stamp " + json.dumps(st))
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    t0 = time.monotonic()
    code = main()
    print(f"wall {time.monotonic() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
