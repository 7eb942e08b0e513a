"""Repository benchmark: two seeded workloads driven through the engine's
public functions.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 30

One run generates its inputs from ``--seed``, sets up (``setup_s``),
measures the workload for about ``--seconds`` (at least one whole
operation or pass), checks every output against a model computed outside the
engine, and prints one JSON object as its last stdout line. With ``--trace 0`` it carries the
end-to-end metrics of ``BENCHMARK.json``. With ``--trace 1`` the same
measurement runs with spans around each call into a layer; the run
writes the spans under ``.perfbench/traces/`` and reports the per-layer
metrics, with its own end-to-end figures so the tracing overhead can be
taken against an untraced run. ``--workload all`` runs every workload
untraced and traced, each in its own process, and prints the tables and
that overhead. ``perfbench/README.md`` says what each metric means on
each workload; ``perfbench/layers.json`` says which layer metric should
move which end-to-end one.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "aws_weather_data_pipeline_spark"
WORKLOADS = ("etl_daily", "stream_serving")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def load_layers(spec: dict) -> list[dict]:
    """The layer-to-metric map; it must name exactly the per-layer
    metrics of ``BENCHMARK.json``, each once."""
    with open(os.path.join(HERE, "layers.json")) as f:
        groups = json.load(f)
    listed = [name for g in groups for name in g["metrics"]]
    declared = [m["name"] for m in spec["per_layer"]]
    if sorted(listed) != sorted(declared):
        raise ValueError(
            "layers.json and BENCHMARK.json per_layer differ: "
            f"only in layers.json {sorted(set(listed) - set(declared))}, "
            f"only in BENCHMARK.json {sorted(set(declared) - set(listed))}, "
            f"listed twice {sorted({n for n in listed if listed.count(n) > 1})}")
    return groups


class Context:
    """Where a run may write, and the session it drives."""

    def __init__(self, workload: str, seed: int):
        self.workload = workload
        self.seed = seed
        self.cores = len(os.sched_getaffinity(0))
        self.base = os.path.join(ROOT, ".perfbench")
        self.work = os.path.join(self.base, f"work-{workload}-{os.getpid()}")
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def conf(self) -> dict[str, str]:
        # Deployment settings only: where Spark, Python and the JVM put
        # their scratch files. Everything else is the engine's default.
        tmp = self.path("tmp")
        return {
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }

    def start_session(self):
        from aws_weather_data_pipeline_spark.session import get_spark

        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cores}]",
            extra_conf=self.conf(),
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        """Stop the session, then the JVM it launched, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on end of input
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run_workload(args) -> dict:
    import importlib

    mod = importlib.import_module(f"workloads.{args.workload}")
    from spans import Tracer

    ctx = Context(args.workload, args.seed)
    shutil.rmtree(ctx.work, ignore_errors=True)
    os.makedirs(ctx.path("tmp"))
    os.environ["TMPDIR"] = ctx.path("tmp")
    workload = mod.Workload(ctx)
    try:
        t0 = time.perf_counter()
        workload.generate()
        print(f"generate: {time.perf_counter() - t0:.1f} s", flush=True)
        # Set-up is the one session start the run needs (it launches the
        # JVM) plus one warm-up pass over the workload's own code path.
        t0 = time.perf_counter()
        ctx.start_session()
        ctx.spark.range(1000).selectExpr("sum(id)").collect()
        session = time.perf_counter() - t0
        t0 = time.perf_counter()
        workload.warm()
        warmup = time.perf_counter() - t0
        print(f"session: {session:.1f} s, warm-up: {warmup:.1f} s", flush=True)
        # The traced run measures the same work at the same point, with
        # spans on; its own end-to-end figures, against an untraced run
        # of the same seed, give the tracing overhead.
        tracer = Tracer(bool(args.trace))
        t0 = time.perf_counter()
        result = workload.measure(tracer, args.seconds)
        print(f"measure and check: {time.perf_counter() - t0:.1f} s",
              flush=True)
        layers = result.pop("layers", {})
        if args.trace:
            os.makedirs(os.path.join(ctx.base, "traces"), exist_ok=True)
            span_file = os.path.join(
                ctx.base, "traces", f"{args.workload}-seed{args.seed}.json")
            tracer.write(span_file)
            print(f"spans written to {os.path.relpath(span_file, ROOT)}")
            layers.update({
                "trace.spans": len(tracer.spans),
                "trace.bookkeeping_s": tracer.bookkeeping_s,
                "trace.op_p50_s": result["op_p50_s"],
                "trace.alt_p50_s": result["alt_p50_s"],
            })
        layers["session.get_spark_s"] = session
        layers["session.warmup_s"] = warmup
        result["setup_s"] = session + warmup
        result["layers"] = layers
        return result
    finally:
        workload.close()
        ctx.stop()
        shutil.rmtree(ctx.work, ignore_errors=True)


def report(args, result: dict) -> dict:
    """Print the metrics as a table and return the result object."""
    spec = load_spec()
    if not args.trace:
        names = spec["end_to_end"]
        for m in names:
            print(f"{m['name']:<12} {result[m['name']]:>14.6g} {m['unit']}")
        values = result
    else:
        names = spec["per_layer"]
        values = result["layers"]
        unit = {m["name"]: m["unit"] for m in names}
        unknown = set(values) - set(unit)
        if unknown:
            raise KeyError(f"layer metrics missing from BENCHMARK.json: "
                           f"{sorted(unknown)}")
        groups = load_layers(spec)
        print(f"{'layer metric':<40} {'value':>12} {'unit':<6} moves")
        for g in groups:
            for name in g["metrics"]:
                if name in values:
                    print(f"{name:<40} {values[name]:>12.5g} "
                          f"{unit[name]:<6} {', '.join(g['moves']) or '-'}")
    # A layer this workload never calls did no work in it.
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0),
                           "unit": m["unit"]} for m in names}
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }


def run_all(args) -> int:
    """Every workload, untraced then traced, each in a fresh process;
    the traced run's figures against the untraced ones give the tracing
    overhead."""
    rc = 0
    for name in WORKLOADS:
        out = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            print(f"== {name} --trace {trace}", flush=True)
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            print("\n".join(lines[:-1]))
            if proc.returncode != 0 or not lines:
                print(f"{name}: exit code {proc.returncode}")
                rc = 1
                break
            out[trace] = json.loads(lines[-1])
            print(f"correct={out[trace]['correct']} "
                  f"attempted={out[trace]['attempted']} "
                  f"failed={out[trace]['failed']}", flush=True)
            rc |= 0 if out[trace]["correct"] else 1
        if len(out) == 2:
            for m in ("op_p50_s", "alt_p50_s"):
                plain = out[0]["metrics"][m]["value"]
                traced = out[1]["metrics"][f"trace.{m}"]["value"]
                print(f"tracing overhead on {m}: {traced - plain:+.4f} s "
                      f"({(traced - plain) / plain:+.1%}) over one run each")
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"engine package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2
    load_layers(load_spec())
    if args.workload == "all":
        return run_all(args)
    # Spark's Python workers import the engine by module path, so the
    # repository root goes on their PYTHONPATH, whatever the current
    # directory is.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]
    try:
        result = run_workload(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(report(args, result)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
