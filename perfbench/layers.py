"""Span taps on the engine's layer boundaries.

The streaming pipeline resolves ``pipeline.process_batch``,
``pipeline.with_retry`` and ``cache.warm_concurrently`` through their
modules at call time, so replacing those module attributes observes
every micro-batch, every sink write and every concurrent write group
from outside the engine. Installed only in traced runs.
"""

from __future__ import annotations

import threading
import time

from common import Tracer


class LayerTaps:
    """Records ``pipeline.process_batch``, ``cache.warm_concurrently`` and
    ``retry.with_retry`` spans; counts sink-write attempts that raised."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.context: int | None = None  # span id of the enclosing round/query
        self.attempts_failed = 0
        self._batch: int | None = None
        self._warm: int | None = None
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    def _span(self, name: str, parent: int | None, fn, set_attr: str | None = None):
        sid = self.tracer.new_id()
        if set_attr:
            setattr(self, set_attr, sid)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.tracer.add(sid, name, t0, time.perf_counter(), parent)
            if set_attr:
                setattr(self, set_attr, None)

    def install(self) -> None:
        from kafka_avro_order_processor_eg_4131_spark.operators import cache
        from kafka_avro_order_processor_eg_4131_spark.streaming import pipeline

        orig_batch = pipeline.process_batch
        orig_retry = pipeline.with_retry
        orig_warm = cache.warm_concurrently

        def process_batch(batch, batch_id, sinks):
            return self._span(
                "pipeline.process_batch", self.context,
                lambda: orig_batch(batch, batch_id, sinks), "_batch",
            )

        def warm_concurrently(thunks):
            parent = self._batch if self._batch is not None else self.context
            return self._span(
                "cache.warm_concurrently", parent,
                lambda: orig_warm(thunks), "_warm",
            )

        def with_retry(fn, *args, **kwargs):
            def counted():
                try:
                    return fn()
                except Exception:
                    with self._lock:
                        self.attempts_failed += 1
                    raise

            return self._span(
                "retry.with_retry", self._warm,
                lambda: orig_retry(counted, *args, **kwargs),
            )

        for mod, name, new in (
            (pipeline, "process_batch", process_batch),
            (pipeline, "with_retry", with_retry),
            (cache, "warm_concurrently", warm_concurrently),
        ):
            self._saved.append((mod, name, getattr(mod, name)))
            setattr(mod, name, new)

    def uninstall(self) -> None:
        while self._saved:
            mod, name, orig = self._saved.pop()
            setattr(mod, name, orig)
