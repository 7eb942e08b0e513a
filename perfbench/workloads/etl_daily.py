"""etl_daily: the reference's daily batch, as a closed loop.

``runner.run`` (check_prerequisites -> load -> validate) loads one
generated day after another into the same lake, serving and summary
tables, as a daily job does; after every REPLAY_EVERY fresh days the
last day is loaded again. A replay is all key conflicts: the same
readers, transforms and writers run, and the serving append adds
nothing. Set-up loads the first days, so the tables exist and the
append path is compiled at full size before the timing starts; the
measured days all append to existing tables. A run makes a fixed number
of loads, as many as fit in the run's seconds at a nominal OP_S each, so
every run times the same operations.

A day's files hold PER_FILE readings each, the 50 per file of a
full-scale day (57,600 readings in 1,152 files); the day has fewer files
so that several days fit in the run's seconds.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import time

import gen
from common import Ops, data_files, median, quantile

STATIONS = 40
SLOTS = 30            # readings per station per day
PER_FILE = 50         # readings per raw JSON file
REPLAY_EVERY = 2      # fresh days between replays
WARM_DAYS = 2         # days loaded in set-up
OP_S = 5.0            # about what one runner.run takes on 4 cores

# Names ``runner`` looks up at call time -> span (layer) names.
SPANS = (
    ("check_prerequisites", "runner.check_prerequisites"),
    ("load", "runner.load"),
    ("validate", "runner.validate"),
    ("read_raw_json", "sources.read_raw_json"),
    ("apply_transformations", "functions.apply_transformations"),
    ("daily_weather_summary", "functions.daily_weather_summary"),
    ("overwrite_partitioned", "sinks.overwrite_partitioned"),
    ("idempotent_append", "sinks.idempotent_append"),
    ("upsert_summary_by_partition", "sinks.upsert_summary_by_partition"),
)


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.days: list[list[dict]] = []
        self.files_per_day: list[int] = []
        self.out = ctx.path("out")

    def _day(self, day: int) -> str:
        """Raw directory of ``day``, generated on first use."""
        while len(self.days) <= day:
            d = len(self.days)
            readings = gen.day_readings(self.ctx.seed, d, STATIONS, SLOTS)
            self.days.append(readings)
            self.files_per_day.append(gen.write_day(
                self.ctx.path("raw", str(d)), readings, PER_FILE, d))
        return self.ctx.path("raw", str(day))

    def generate(self) -> None:
        self._day(WARM_DAYS - 1)

    def _paths(self, raw: str):
        from aws_weather_data_pipeline_spark.runner import PipelinePaths

        return PipelinePaths(raw, os.path.join(self.out, "lake"),
                             os.path.join(self.out, "serving"),
                             os.path.join(self.out, "summary"))

    def _run_day(self, day: int):
        from aws_weather_data_pipeline_spark import runner

        return runner.run(self.ctx.spark, self._paths(self._day(day)),
                          now=gen.EPOCH + dt.timedelta(days=day + 1))

    def warm(self) -> None:
        """The first WARM_DAYS days loaded, so the tables exist and the
        path the measured days take, an append to existing tables, is
        compiled and has run a few times."""
        for day in range(WARM_DAYS):
            res = self._run_day(day)
            if not res.ok:
                raise RuntimeError(f"warm-up day {day}: {res.checks}")

    def _schedule(self):
        """(day, replay?) in order: REPLAY_EVERY fresh days after the
        warm-up days, then the last of them again, and so on."""
        day = WARM_DAYS - 1
        while True:
            for _ in range(REPLAY_EVERY):
                day += 1
                yield day, False
            yield day, True

    def measure(self, tracer, seconds: float) -> dict:
        from aws_weather_data_pipeline_spark import runner

        ops = Ops()
        fresh, replays, appended, written = [], [], [], []
        loaded = list(range(WARM_DAYS))     # days in the tables
        ran = []                            # days run, in order
        targets = [(runner, attr, name) for attr, name in SPANS]
        counter = (counting(runner, "idempotent_append", appended)
                   if tracer.enabled else contextlib.nullcontext())
        # The same days every run, as many as fit in the seconds at
        # about OP_S each, so every run times the same operations; a slow
        # host stops early rather than overrun.
        n_ops = max(REPLAY_EVERY + 1, round(seconds / OP_S))
        schedule = self._schedule()
        start = time.perf_counter()
        with tracer.patched(targets), counter:
            for _ in range(n_ops):
                if time.perf_counter() - start > 2 * seconds:
                    break
                day, replay = next(schedule)
                self._day(day)
                if not replay:
                    loaded.append(day)
                before = data_files(self.out) if tracer.enabled else {}
                tracer.op += 1
                try:
                    t0 = time.perf_counter()
                    with tracer.span("etl.run_day"):
                        res = self._run_day(day)
                    elapsed = time.perf_counter() - t0
                except Exception:
                    ops.error(f"runner.run day {day} replay={replay}")
                    continue
                ran.append(day)
                print(f"day {day} {'replay' if replay else 'fresh'}: "
                      f"{elapsed:.3f} s", flush=True)
                if replay:
                    replays.append(elapsed)
                else:
                    fresh.append(elapsed)
                if tracer.enabled:
                    after = data_files(self.out)
                    new = {p: s for p, s in after.items()
                           if before.get(p) != s}
                    written.append((len(new), sum(new.values())))
                want = gen.alert_counts(r for d in loaded
                                        for r in self.days[d])
                rows = sum(len(self.days[d]) for d in loaded)
                ops.check(
                    res.ok and res.stats["total_rows"] == rows
                    and res.stats["alert_distribution"] == want,
                    f"day {day} replay={replay}: {res.checks} "
                    f"rows {res.stats['total_rows']} != {rows}")
        # whole-run outputs against the generator, outside the timing
        spark = self.ctx.spark
        rows = sum(len(self.days[d]) for d in loaded)
        lake = spark.read.parquet(os.path.join(self.out, "lake")).count()
        summary = spark.read.parquet(
            os.path.join(self.out, "summary")).count()
        ops.check(lake == rows and summary == len(loaded) * len(gen.CITIES),
                  f"lake rows {lake} != {rows} or summary rows {summary} "
                  f"!= {len(loaded) * len(gen.CITIES)}")
        result = {
            "attempted": ops.attempted, "failed": ops.failed,
            "op_p50_s": median(fresh),
            "op_p90_s": quantile(fresh, 0.9) if fresh else 0.0,
            "alt_p50_s": median(replays),
        }
        if tracer.enabled:
            layers = {f"{name}_s": tracer.median_self(name)
                      for _, name in SPANS}
            offered = sum(len(self.days[d]) for d in ran)
            layers["sources.files_read"] = sum(
                self.files_per_day[d] for d in ran) / len(ran)
            layers["sources.rows_read"] = offered / len(ran)
            layers["sinks.append_useful_ratio"] = sum(appended) / offered
            layers["sinks.lake_files_written"] = median(
                [c for c, _ in written])
            layers["sinks.lake_bytes_written"] = median(
                [b for _, b in written])
            result["layers"] = layers
        return result

    def close(self) -> None:
        pass


@contextlib.contextmanager
def counting(module, attr: str, sink: list):
    """Record what ``module.attr`` returns (rows appended) while the
    block runs."""
    inner = getattr(module, attr)

    def counted(*args, **kwargs):
        n = inner(*args, **kwargs)
        sink.append(n)
        return n

    setattr(module, attr, counted)
    try:
        yield
    finally:
        setattr(module, attr, inner)
