"""stream_ingest: the reference's real-time path, as an open loop; the
first phase of the ``stream_serving`` workload.

A generator thread lands RATE envelope files per second in the landing
directory on a fixed schedule that does not slow down when the engine
does, while ``streaming.pipeline.start_pipeline`` runs with a
processing-time trigger. A file's latency runs from its scheduled
landing time to the end of the micro-batch that committed it, so a
stall also delays every file queued behind it.

The measured query is the one set-up started: its first micro-batches,
which plan and compile the query, run on warm-up files before the
generator starts, so the measurement sees the stream in its steady
state, as a long-running ingest would.

Batch timings come from the query's public progress events; which
files each batch read comes from the checkpoint's source log.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time

import gen
from common import Ops, median, quantile

RATE = 10             # files per second offered
PER_FILE = 20         # readings per file
STATIONS = 40
# A micro-batch costs about a second whatever its size; a 2 s trigger
# keeps the engine about half busy at RATE, so a batch's latency is not
# dominated by the queue of batches behind a slow one.
TRIGGER = "2 seconds"
# far above the files that arrive per trigger, so the pacing option is
# never what limits a batch
MAX_FILES_PER_TRIGGER = 1000
DRAIN_TIMEOUT_S = 60.0
# Warm-up micro-batches, and files in each: as many as arrive per
# trigger, so the warm-up runs as many tasks (and starts as many Python
# workers) as a measured batch.
WARM_BATCHES, WARM_FILES = 2, 20

# progress ``durationMs`` phase -> span (layer) name
PHASES = (
    ("latestOffset", "streaming.latest_offset"),
    ("getBatch", "streaming.get_batch"),
    ("queryPlanning", "streaming.plan"),
    ("addBatch", "streaming.add_batch"),
    ("walCommit", "streaming.wal_commit"),
    ("commitOffsets", "streaming.commit_offsets"),
)


def _epoch(ts: str) -> float:
    """Progress-event timestamp (ISO 8601, UTC, ms) -> epoch seconds."""
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


def source_log(checkpoint: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it, from the file
    source's log (one JSON entry per file after a version line;
    ``.compact`` files repeat earlier entries)."""
    out: dict[str, int] = {}
    log = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(log):
        return out
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as f:
            for line in f.read().splitlines()[1:]:
                e = json.loads(line)
                base = os.path.basename(e["path"])
                out[base] = min(out.get(base, e["batchId"]), e["batchId"])
    return out


class Generator(threading.Thread):
    """Lands file i at ``t0 + i / RATE`` whatever the engine is doing."""

    def __init__(self, landing: str, files: list[list[dict]], t0: float):
        super().__init__(daemon=True)
        self.landing, self.files, self.t0 = landing, files, t0
        self.landed: list[float] = []
        self.stop_flag = threading.Event()

    def due(self, i: int) -> float:
        return self.t0 + i / RATE

    def run(self) -> None:
        for i, readings in enumerate(self.files):
            wait = self.due(i) - time.time()
            if wait > 0 and self.stop_flag.wait(wait):
                return
            gen.write_envelope(
                os.path.join(self.landing, f"f{i:06d}.json"), readings)
            self.landed.append(time.time())


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.query = None
        self.generator = None
        self.progress: dict[int, dict] = {}

    def generate(self) -> None:
        # the day before the measured readings, so no key repeats
        self.warm_files = gen.stream_readings(
            self.ctx.seed, WARM_BATCHES * WARM_FILES, PER_FILE, STATIONS,
            day=-1)

    def _files(self, seconds: float) -> list[list[dict]]:
        n = int(round(seconds * RATE))
        return gen.stream_readings(self.ctx.seed, n, PER_FILE, STATIONS)

    def _collect(self) -> int:
        """Record the progress of every micro-batch that read input;
        returns the files (envelope rows) committed so far."""
        for p in self.query.recentProgress:
            if p["numInputRows"] > 0:
                self.progress[p["batchId"]] = p
        return sum(p["numInputRows"] for p in self.progress.values())

    def _wait_committed(self, files: int, timeout: float) -> bool:
        deadline = time.time() + timeout
        while self._collect() < files:
            if time.time() > deadline:
                return False
            time.sleep(0.2)
        return True

    def warm(self) -> None:
        """Start the query and run its first micro-batches, one group of
        warm-up files each."""
        from aws_weather_data_pipeline_spark.streaming.pipeline import (
            start_pipeline,
        )

        out = self.ctx.path("stream")
        self.dirs = {k: os.path.join(out, k) for k in
                     ("landing", "processed", "alerts", "checkpoint")}
        os.makedirs(self.dirs["landing"], exist_ok=True)
        for b in range(WARM_BATCHES):
            for i in range(b * WARM_FILES, (b + 1) * WARM_FILES):
                gen.write_envelope(
                    os.path.join(self.dirs["landing"], f"w{i:06d}.json"),
                    self.warm_files[i])
            if b == 0:
                # the first group is waiting when the query starts, so
                # its first trigger takes it
                self.query = start_pipeline(
                    self.ctx.spark, self.dirs["landing"],
                    self.dirs["processed"], self.dirs["alerts"],
                    self.dirs["checkpoint"],
                    trigger={"processingTime": TRIGGER},
                    max_files_per_trigger=MAX_FILES_PER_TRIGGER)
            if not self._wait_committed((b + 1) * WARM_FILES,
                                        DRAIN_TIMEOUT_S):
                raise RuntimeError(f"warm-up batch {b} not committed")
        self.warm_batches = set(self.progress)

    def _stop(self) -> None:
        if self.generator is not None:
            self.generator.stop_flag.set()
            self.generator.join()
            self.generator = None
        if self.query is not None:
            self.query.stop()
            self.query = None

    def measure(self, tracer, seconds: float) -> dict:
        ops = Ops()
        files = self._files(seconds)
        dirs = self.dirs
        generator = Generator(dirs["landing"], files, time.time() + 0.3)
        self.generator = generator
        try:
            generator.start()
            # Spark keeps only the last 100 progress updates, so they are
            # collected while the stream runs, not only once it drains.
            while generator.is_alive():
                self._collect()
                generator.join(1.0)
            self.generator = None
            # the source's rows are envelopes: one per file
            self._wait_committed(len(self.warm_files) + len(files),
                                 DRAIN_TIMEOUT_S)
        finally:
            self._stop()
        progress = {b: p for b, p in self.progress.items()
                    if b not in self.warm_batches}

        batch_of = source_log(dirs["checkpoint"])
        start, dur = {}, {}
        for b, p in progress.items():
            start[b] = _epoch(p["timestamp"])
            dur[b] = {k: v / 1000 for k, v in p["durationMs"].items()}
        latency, per_batch, readings = [], {}, 0
        for i, f in enumerate(files):
            b = batch_of.get(f"f{i:06d}.json")
            if ops.check(b in start, f"file {i} not committed in time"):
                end = start[b] + dur[b]["triggerExecution"]
                latency.append(end - generator.due(i))
                per_batch[b] = per_batch.get(b, 0) + 1
                readings += len(f)
        self._check_outputs(ops, dirs, self.warm_files + files)

        batch_s = [dur[b]["triggerExecution"] for b in sorted(dur)]
        result = {
            "attempted": ops.attempted, "failed": ops.failed,
            "latency_p50_s": median(latency),
            "latency_p90_s": quantile(latency, 0.9) if latency else 0.0,
        }
        if tracer.enabled:
            self._spans(tracer, start, dur)
            backlog, committed = 0, 0
            for b in sorted(start):
                landed = sum(1 for t in generator.landed if t <= start[b])
                backlog = max(backlog, landed - committed)
                committed += per_batch.get(b, 0)
            add = [dur[b]["addBatch"] for b in sorted(dur)]
            result["layers"] = {
                "streaming.readings_per_busy_s": readings / sum(batch_s),
                "streaming.batch_p50_s": median(batch_s),
                "streaming.batch_p90_s": quantile(batch_s, 0.9),
                "streaming.add_batch_p50_s": median(add),
                "streaming.add_batch_p90_s": quantile(add, 0.9),
                **{f"{name}_s": tracer.median_self(name)
                   for key, name in PHASES if key != "addBatch"},
                "streaming.files_per_batch": len(files) / len(per_batch),
                "streaming.backlog_files_max": backlog,
                "stream.generator_late_s": max(
                    t - generator.due(i)
                    for i, t in enumerate(generator.landed)),
            }
        return result

    def _spans(self, tracer, start: dict, dur: dict) -> None:
        """Lay each batch's progress phases out as spans, in the order
        the micro-batch runs them."""
        shift = time.perf_counter() - time.time()
        for b in sorted(start):
            tracer.op = b
            t = start[b] + shift
            sid = tracer.add("streaming.batch", t,
                             t + dur[b]["triggerExecution"])
            for key, name in PHASES:
                d = dur[b].get(key, 0.0)
                tracer.add(name, t, t + d, parent=sid)
                t += d

    def _check_outputs(self, ops: Ops, dirs: dict, files: list) -> None:
        """Every generated reading processed once; the alerts sink holds
        exactly the WARNING/CRITICAL readings."""
        spark = self.ctx.spark
        rows = sum(len(f) for f in files)
        processed = spark.read.parquet(dirs["processed"])
        n = processed.count()
        keys = processed.select("station_id", "timestamp").distinct().count()
        ops.check(n == rows and keys == rows,
                  f"processed rows {n}, distinct keys {keys}, want {rows}")
        got = [(r[0], r[1], r[2]) for r in spark.read.parquet(dirs["alerts"])
               .select("station_id", "timestamp", "alert_level").collect()]
        want = {(r["station_id"], r["timestamp"], gen.alert_level(r))
                for f in files for r in f}
        want = {k for k in want if k[2] in ("WARNING", "CRITICAL")}
        ops.check(len(got) == len(want) and set(got) == want,
                  f"alerts {len(got)} rows, want {len(want)}")

    def close(self) -> None:
        self._stop()
