"""serving_mix: the serving side, as a closed loop with one client; the
second phase of the ``stream_serving`` workload.

One client works through a pass of requests in an order the seed
shuffles: one ``plans.catalog`` query from each of eleven operator
modules, spread evenly among CYCLES cycles of ``sinks.tablelog`` commits,
each commit followed by ``maybe_compact`` and a zone-map range read plus
``snapshot_row_count``. So the table log takes writes beside reads, and
the analytic queries run beside both.

Table log: each cycle starts a fresh table and makes MERGE_EVERY seeded
commits: ``append`` batches of one generated day of readings, then a
keyed ``merge_changes`` (updates, inserts, deletes) and a ``vacuum``.
Every merge rewrites the snapshot, so the appends before it leave enough
files for compaction to fire; and since every cycle's table has the same
size when it merges, the merges of a pass are alike and the commit p90
rests on several of them. Each range read, the row count and each
cycle's final snapshot are checked against a pure-Python model of the
commits.

Queries: each runs once per pass and is collected, over tables generated
from the seed; no query is more than about a tenth of the pass. The
first pass's rows are checked against each query's DuckDB oracle twin
after the timing: row count and a hash of the repository oracle's
canonical form (``tests/oracle.py``). The streaming-equivalence and
table-log entries of the catalog are left out: the other workloads and
the commits above drive those layers directly.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import time

import gen
from common import Ops, data_files, median, quantile, rounds
from tests.oracle import _canon, duckdb_conn

SCALE = 0.25          # 15,000 lineitem rows, 2,500 events, 125 documents
MIX = (
    "pricing_summary",                # relational
    "weather_daily_summary",          # weatherlike
    "sliding_hourly_activity",        # temporal
    "doc_simhash",                    # text
    "bm25_topk",                      # corpus
    "cms_user_activity_sketch",       # sketch
    "kmeans_lloyd_assignments",       # clustering
    "near_dup_pairs_minhash",         # similarity
    "multimodal_decode_jpeg",         # multimodal
    "stratified_sample_per_lang",     # sampling
    "pagerank_trade_graph",           # graph
)

STATIONS, SLOTS = 40, 50          # 2,000 rows per append
CYCLES = 3                        # fresh tables per pass
MERGE_EVERY = 5                   # four appends, then a merge
MAX_FILES = 2                     # maybe_compact threshold
UPDATES, INSERTS, DELETES = 200, 150, 50
KEY = ("station_id", "timestamp")


def result_hash(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of the repository oracle's
    canonical form: columns by name, rows sorted."""
    cols, canon = _canon(columns, [tuple(r) for r in rows])
    digest = hashlib.sha256("\n".join(map(repr, canon)).encode()).hexdigest()
    return len(canon), f"{','.join(cols)}:{digest}"


def _batch_file(path: str, rows: list[dict]) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(rows), path)
    return os.path.getsize(path)


def _apply(model: dict, rows: list[dict]) -> None:
    for r in rows:
        k = (r["station_id"], r["timestamp"])
        if r.get("op") == "D":
            model.pop(k, None)
        else:
            model[k] = {f: v for f, v in r.items() if f not in ("op", "seq")}


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.got: dict[str, tuple] = {}

    # -- inputs ------------------------------------------------------------

    def _commits(self, tag: str, first_day: int, stations: int,
                 slots: int) -> list:
        """One cycle's MERGE_EVERY table-log commits, written as parquet
        inputs: [(kind, path, rows, bytes)]. Appends carry generated days
        from ``first_day`` on."""
        rng = random.Random(f"{self.ctx.seed}/tablelog/{tag}")
        out = self.ctx.path(f"tl-in-{tag}")
        os.makedirs(out, exist_ok=True)
        plan, live = [], {}
        for c in range(MERGE_EVERY):
            path = os.path.join(out, f"c{c:03d}.parquet")
            if c == MERGE_EVERY - 1:
                keys = rng.sample(sorted(live), min(len(live),
                                                    UPDATES + DELETES))
                rows = []
                for k in keys[:UPDATES]:
                    r = dict(live[k])
                    r["temperature_celsius"] = round(rng.uniform(10, 45), 1)
                    r["uv_index"] = rng.randint(0, 12)
                    rows.append({**r, "op": "U"})
                rows += [{**live[k], "op": "D"} for k in keys[UPDATES:]]
                fresh = gen.day_readings(self.ctx.seed, 1000 + first_day,
                                         stations, slots)
                rows += [{**r, "op": "U"} for r in fresh[:INSERTS]]
                rows = [{**r, "seq": i} for i, r in enumerate(rows)]
                kind = "merge"
            else:
                rows = gen.day_readings(self.ctx.seed, first_day + c,
                                        stations, slots)
                kind = "append"
            _apply(live, rows)
            plan.append((kind, path, rows, _batch_file(path, rows)))
        return plan

    def generate(self) -> None:
        from aws_weather_data_pipeline_spark.plans import catalog

        self.tables = self.ctx.path("tables")
        gen.write_tables(self.tables, self.ctx.seed, SCALE)
        full = catalog.build_catalog()
        self.queries = {n: full.queries[n] for n in MIX}
        # operator module of each query, e.g. "similarity"
        self.module = {n: q.builder.__module__.rsplit(".", 1)[1]
                       for n, q in self.queries.items()}
        self.cycles = [self._commits(f"run{c}", c * MERGE_EVERY, STATIONS,
                                     SLOTS) for c in range(CYCLES)]
        self.warm_cycles = [self._commits("warm", 0, 5, 20)]

    # -- requests ----------------------------------------------------------

    def _commit(self, table: str, commit, tracer, samples: dict) -> None:
        from aws_weather_data_pipeline_spark.sinks import tablelog

        spark = self.ctx.spark
        kind, path, rows, _ = commit
        batch = spark.read.parquet(path)
        t0 = time.perf_counter()
        if kind == "append":
            with tracer.span("tablelog.append"):
                tablelog.append(batch, table)
        else:
            with tracer.span("tablelog.merge_changes"):
                tablelog.merge_changes(spark, table, batch, keys=list(KEY),
                                       order_cols=["seq"])
        samples["commit"].append(time.perf_counter() - t0)
        samples["rows"] += len(rows)
        with tracer.span("tablelog.maybe_compact"):
            if tablelog.maybe_compact(spark, table,
                                      max_files=MAX_FILES) is not None:
                samples["compactions"] += 1
        if kind == "merge":
            with tracer.span("tablelog.vacuum"):
                tablelog.vacuum(table, retain_last=2, min_age_seconds=0)

    def _read(self, table: str, model: dict, rng, ops: Ops, tracer,
              samples: dict) -> None:
        """Range read plus row count on the head, against the model."""
        from aws_weather_data_pipeline_spark.sinks import tablelog
        from pyspark.sql import functions as F

        stamps = sorted(k[1] for k in model)
        i = rng.randrange(len(stamps))
        lo, hi = stamps[i], stamps[min(len(stamps) - 1, i + len(stamps) // 8)]
        where = ("timestamp", lo, hi)
        t0 = time.perf_counter()
        with tracer.span("tablelog.read_snapshot"):
            got = (tablelog.read_snapshot(self.ctx.spark, table, where=where)
                   .filter(F.col("timestamp").between(lo, hi))
                   .agg(F.count(F.lit(1)), F.sum("uv_index")).first())
        with tracer.span("tablelog.snapshot_row_count"):
            total = tablelog.snapshot_row_count(table)
        samples["read"].append(time.perf_counter() - t0)
        rows = [r for k, r in model.items() if lo <= k[1] <= hi]
        want = (len(rows), sum(r["uv_index"] for r in rows) if rows else None)
        ops.check((got[0], got[1]) == want and total == len(model),
                  f"range {lo}..{hi}: got {tuple(got)} / {total}, "
                  f"want {want} / {len(model)}")
        if tracer.enabled:
            live = len(tablelog.files_for(table))
            samples["live"].append(live)
            samples["pruned"].append(
                len(tablelog.files_for(table, where=where)) / live)

    def _check_snapshot(self, table: str, model: dict, ops: Ops) -> None:
        from aws_weather_data_pipeline_spark.sinks import tablelog

        snap = {(r[0], r[1]): (r[2], r[3]) for r in
                tablelog.read_snapshot(self.ctx.spark, table)
                .select(*KEY, "temperature_celsius", "uv_index").collect()}
        want = {k: (r["temperature_celsius"], r["uv_index"])
                for k, r in model.items()}
        ops.check(snap == want, f"final snapshot of {table}: {len(snap)} "
                  f"rows, want {len(want)}")

    def _query(self, name: str, tracer, samples: dict) -> None:
        t0 = time.perf_counter()
        with tracer.span(f"plans.{name}"):
            df = self.queries[name].builder(self.ctx.spark, self.tables)
            rows = df.collect()
        samples["query"].setdefault(name, []).append(time.perf_counter() - t0)
        if name not in self.got:
            self.got[name] = result_hash(df.columns, rows)

    def _pass(self, base: str, cycles: list, queries: tuple, ops: Ops,
              tracer, samples: dict) -> list:
        """One pass: the queries in a shuffled order and the commits of
        every cycle, each cycle on its own table under ``base``, spread
        evenly among each other; a read follows every commit. Returns
        (table, model) of each cycle whose commits all went through."""
        rng = random.Random(f"{self.ctx.seed}/pass")
        order = list(queries)
        rng.shuffle(order)
        commits = [(c, k) for c, cycle in enumerate(cycles)
                   for k in range(len(cycle))]
        steps = sorted(
            [((i + 0.5) / len(order), "query", q)
             for i, q in enumerate(order)] +
            [((j + 0.5) / len(commits), "commit", ck)
             for j, ck in enumerate(commits)],
            key=lambda step: step[0])
        models: list[dict] = [{} for _ in cycles]
        broken: set[int] = set()
        seen: dict = {}
        for _, kind, what in steps:
            if kind == "commit" and what[0] in broken:
                continue
            tracer.op += 1
            try:
                if kind == "query":
                    self._query(what, tracer, samples)
                    continue
                c, k = what
                table = os.path.join(base, f"cycle{c}")
                self._commit(table, cycles[c][k], tracer, samples)
                _apply(models[c], cycles[c][k][2])
                if tracer.enabled:
                    now = data_files(os.path.join(table, "data"))
                    samples["written"] += sum(
                        s for p, s in now.items() if p not in seen)
                    seen.update(now)
                self._read(table, models[c], rng, ops, tracer, samples)
            except Exception:
                ops.error(f"{kind} {what}")
                if kind == "commit":
                    broken.add(what[0])
        return [(os.path.join(base, f"cycle{c}"), models[c])
                for c in range(len(cycles)) if c not in broken]

    def _check_queries(self, ops: Ops) -> None:
        """Every query's rows against its DuckDB twin's."""
        con = duckdb_conn(self.tables)
        try:
            for name in MIX:
                res = con.execute(self.queries[name].oracle)
                want = result_hash([d[0] for d in res.description],
                                   res.fetchall())
                got = self.got.get(name)
                ops.check(got == want, f"{name}: spark "
                          f"{got and got[0]} rows, duckdb {want[0]}")
        finally:
            con.close()

    # -- workload interface ------------------------------------------------

    def warm(self) -> None:
        """One small table-log cycle, up to its merge. The queries are
        not warmed: a pass times each query's first run in the session,
        which is what a client issuing it sees."""
        from spans import Tracer

        samples = {"commit": [], "read": [], "query": {}, "rows": 0,
                   "compactions": 0}
        self._pass(self.ctx.path("tl-warm"), self.warm_cycles, (), Ops(),
                   Tracer(False), samples)

    def measure(self, tracer, seconds: float) -> dict:
        ops = Ops()
        samples = {"commit": [], "read": [], "query": {}, "rows": 0,
                   "compactions": 0, "written": 0, "live": [], "pruned": []}
        passes = []
        for n in rounds(seconds):
            base = self.ctx.path(f"tl-{n}")
            t0 = time.perf_counter()
            done = self._pass(base, self.cycles, MIX, ops, tracer, samples)
            passes.append(time.perf_counter() - t0)
            for table, model in done:
                self._check_snapshot(table, model, ops)
            shutil.rmtree(base, ignore_errors=True)
        t0 = time.perf_counter()
        self._check_queries(ops)
        print(f"query oracle check: {time.perf_counter() - t0:.1f} s",
              flush=True)
        result = {
            "attempted": ops.attempted + len(samples["commit"]) + sum(
                len(v) for v in samples["query"].values()),
            "failed": ops.failed,
            "pass_s": median(passes),
        }
        if tracer.enabled:
            result["layers"] = self._layers(tracer, samples, len(passes))
        return result

    def _layers(self, tracer, samples: dict, n: int) -> dict:
        read, commit = samples["read"], samples["commit"]
        queries = [t for ts in samples["query"].values() for t in ts]
        layers = {f"plans.{q}_s": tracer.median_self(f"plans.{q}")
                  for q in MIX}
        for mod in set(self.module.values()):
            layers[f"plans.{mod}_s"] = sum(
                layers[f"plans.{q}_s"] for q in MIX if self.module[q] == mod)
        user_bytes = sum(c[3] for cycle in self.cycles for c in cycle)
        layers.update({
            "plans.query_p50_s": median(queries),
            "plans.query_p90_s": quantile(queries, 0.9),
            **{f"{name}_s": tracer.median_self(name) for name in (
                "tablelog.append", "tablelog.merge_changes",
                "tablelog.vacuum", "tablelog.read_snapshot",
                "tablelog.snapshot_row_count")},
            # mostly a no-op below the threshold: its cost per commit
            "tablelog.maybe_compact_s": statistics.mean(
                tracer.self_times()["tablelog.maybe_compact"]),
            "tablelog.compactions": samples["compactions"] / n,
            "tablelog.commit_p50_s": median(commit),
            "tablelog.commit_p90_s": quantile(commit, 0.9),
            "tablelog.rows_per_commit_s": samples["rows"] / sum(commit),
            "tablelog.read_p50_s": median(read),
            "tablelog.read_p90_s": quantile(read, 0.9),
            "tablelog.bytes_written_per_user_byte":
                samples["written"] / (user_bytes * n),
            "tablelog.live_files": median(samples["live"]),
            "tablelog.files_pruned_ratio": median(samples["pruned"]),
        })
        return layers

    def close(self) -> None:
        pass
