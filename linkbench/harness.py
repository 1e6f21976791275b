"""A SuperstepHarness that reports to the benchmark's tracer."""

from __future__ import annotations

import time

from ccl_spark.superstep import SuperstepHarness


class TracedHarness(SuperstepHarness):
    """Checkpoint writes and resume lookups run in ``superstep`` spans
    (nested in the calling algorithm's span); counts the steps written
    and the time spent finding the latest checkpoint."""

    def __init__(self, tracer, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.tracer = tracer
        self.steps = 0
        self.last_step = -1
        self.start_step = 0
        self.latest_s = 0.0

    def record(self, superstep, df, *args, **kwargs):
        with self.tracer.span("superstep"):
            out = super().record(superstep, df, *args, **kwargs)
        if superstep % self.interval == 0:
            self.steps += 1
            self.last_step = superstep
        return out

    def latest(self):
        t0 = time.perf_counter()
        with self.tracer.span("superstep"):
            out = super().latest()
        self.latest_s += time.perf_counter() - t0
        if out is not None:
            self.start_step = out[0]
        return out
