"""stream_serving: the live side of the system, in two phases that share
one session.

First the real-time path (``stream_ingest``): an open loop lands files
on a fixed schedule into ``streaming.pipeline.start_pipeline`` for
STREAM_SHARE of the run's seconds, and the query is stopped once every
file is committed. Then the serving side (``serving_mix``): one client
works through whole passes of the query mix among table-log commits and
range reads for the rest of the seconds, at least one pass.

The phases run one after the other, not at once: on a few cores a
stream and a query client running together would mostly measure how
Spark's scheduler interleaves their tasks. Sharing the session saves
one JVM start per run, which leaves the run's seconds to the
measurement.

``op_p50_s``/``op_p90_s`` are the stream's file latencies, ``alt_p50_s``
the serving pass; both phases' layer metrics are reported.
"""

from __future__ import annotations

import time

from workloads import serving_mix, stream_ingest

STREAM_SHARE = 1 / 3


class Workload:
    def __init__(self, ctx):
        self.stream = stream_ingest.Workload(ctx)
        self.serving = serving_mix.Workload(ctx)

    def generate(self) -> None:
        self.stream.generate()
        self.serving.generate()

    def warm(self) -> None:
        self.stream.warm()
        self.serving.warm()

    def measure(self, tracer, seconds: float) -> dict:
        t0 = time.perf_counter()
        stream = self.stream.measure(tracer, seconds * STREAM_SHARE)
        print(f"stream phase and its checks: {time.perf_counter() - t0:.1f} s",
              flush=True)
        serving = self.serving.measure(tracer, seconds * (1 - STREAM_SHARE))
        result = {
            "attempted": stream["attempted"] + serving["attempted"],
            "failed": stream["failed"] + serving["failed"],
            "op_p50_s": stream["latency_p50_s"],
            "op_p90_s": stream["latency_p90_s"],
            "alt_p50_s": serving["pass_s"],
        }
        if tracer.enabled:
            result["layers"] = {**stream["layers"], **serving["layers"]}
        return result

    def close(self) -> None:
        self.stream.close()
        self.serving.close()
