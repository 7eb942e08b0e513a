"""Daily pipeline runner (SURVEY §2.11 X1-X4).

Thin Spark-native replacement for the reference's Airflow DAG
(airflow/dags/weather_dag.py:376-457: start → check_prerequisites →
load → validate → report → cleanup). Each task is a plain function so a
scheduler (cron, Airflow, anything) can call them individually; ``run``
chains them with the DAG's fail-fast semantics.

The load stage collapses the reference's three substrates into one
lineage: raw JSON → flatten → transforms → hive-partitioned lake AND
idempotent serving append (the Postgres INSERT ON CONFLICT,
load_to_postgres.py:275-382) AND daily-summary partition upsert
(:395-445) — all from a single scan.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.summary import daily_weather_summary
from .functions.weather import apply_transformations
from .sinks.writers import (
    idempotent_append,
    overwrite_partitioned,
    upsert_summary_by_partition,
)
from .sources.readers import read_raw_json

#: P7: rows missing any of these cannot be keyed or located — drop them
#: (reference dropna subset, load_to_postgres.py:264-266).
CRITICAL_FIELDS = ("station_id", "city", "timestamp")

#: X3 thresholds (weather_dag.py:186-236).
MIN_AVG_QUALITY = 90.0

#: Freshness bound (reference README.md:750-755: "age < 1 day" on
#: ``NOW() - MAX(reading_timestamp)``), in seconds.
MAX_STALENESS_SECONDS = 24 * 3600

#: Producer clock skew tolerated by the freshness check: a station
#: clock running a few minutes fast yields a slightly NEGATIVE age,
#: which must not fail the whole pipeline run (review r11; the
#: reference's own check is only an upper bound, README.md:750-755 —
#: the lower bound here still catches wildly future-dated data).
CLOCK_SKEW_TOLERANCE_SECONDS = 300


@dataclass
class PipelinePaths:
    raw_dir: str
    lake_dir: str
    serving_dir: str
    summary_dir: str


@dataclass
class ValidationResult:
    checks: dict[str, bool] = field(default_factory=dict)
    stats: dict[str, object] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return all(self.checks.values())


def check_prerequisites(spark: SparkSession, paths: PipelinePaths) -> None:
    """X2: fail fast before any compute (weather_dag.py:68-138)."""
    if not os.path.isdir(paths.raw_dir):
        raise FileNotFoundError(f"raw dir missing: {paths.raw_dir}")
    has_json = any(
        f.endswith(".json")
        for _, _, files in os.walk(paths.raw_dir)
        for f in files
    )
    if not has_json:
        raise FileNotFoundError(f"no raw JSON batches under {paths.raw_dir}")
    # The SparkSession itself is the "DB reachable" analog.
    spark.sql("SELECT 1").collect()


def load(spark: SparkSession, paths: PipelinePaths) -> DataFrame:
    """Load task: ingest → clean → transform → three sinks, one scan."""
    raw = read_raw_json(spark, paths.raw_dir)
    # P7 null-drop on critical fields; P9 coercion is implicit in the
    # declared read schema (bad cells are already null, not poison).
    clean = raw.na.drop(subset=list(CRITICAL_FIELDS))
    processed = apply_transformations(clean).withColumn(
        "reading_date", F.to_date("timestamp_parsed")
    )
    processed.persist()
    try:
        # Dynamic partition overwrite, not append: a re-run (retry)
        # rewrites the same hour partitions instead of duplicating them
        # — every sink in this load is idempotent.
        overwrite_partitioned(processed, paths.lake_dir)
        idempotent_append(
            spark,
            processed,
            paths.serving_dir,
            keys=["station_id", "timestamp"],
            scope_col="reading_date",
        )
        summary = daily_weather_summary(processed)
        upsert_summary_by_partition(
            summary, paths.summary_dir, "summary_date"
        )
    finally:
        processed.unpersist()
    return processed


def validate(
    spark: SparkSession,
    paths: PipelinePaths,
    now: "datetime.datetime | None" = None,
) -> ValidationResult:
    """X3: post-load assertion queries (weather_dag.py:169-241).

    ``now`` anchors the freshness check (reference README.md:750-755);
    callers pass a fixed instant for deterministic replay, ``None``
    means wall-clock UTC.
    """
    import datetime

    if now is None:
        now = datetime.datetime.now(datetime.timezone.utc)
    if now.tzinfo is None:
        now = now.replace(tzinfo=datetime.timezone.utc)
    res = ValidationResult()
    serving = spark.read.parquet(paths.serving_dir)
    # One grouped aggregate answers every check but uniqueness: per
    # alert level (a handful of groups) the rows, the rows missing a
    # critical field, the quality sum and scored-row count, and the
    # latest reading; the driver folds those few rows. Each action is
    # a Spark job with a fixed planning and scheduling cost, which at a
    # day's size is most of the check.
    # The latest reading is aggregated as epoch micros, not
    # TimestampType: PySpark renders a collected timestamp through the
    # driver process's OS timezone, so a non-UTC driver host would skew
    # the staleness by the UTC offset (up to ±14h against the 24h
    # bound). Epoch arithmetic has no zone.
    null_critical = (
        F.col("station_id").isNull()
        | F.col("city").isNull()
        | F.col("timestamp").isNull()
    )
    groups = (
        serving.groupBy("alert_level")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(null_critical).alias("nulls"),
            F.sum("data_quality_score").alias("q_sum"),
            F.count("data_quality_score").alias("q_n"),
            F.max(F.unix_micros("timestamp_parsed")).alias("latest_us"),
        )
        .collect()
    )

    total = sum(g["n"] for g in groups)
    res.stats["total_rows"] = total
    res.checks["has_rows"] = total > 0

    nulls = sum(g["nulls"] for g in groups)
    res.stats["null_critical_rows"] = nulls
    res.checks["no_null_critical"] = nulls == 0

    # the mean over every scored row, not a mean of per-level means
    scored = sum(g["q_n"] for g in groups)
    avg_q = (
        sum(g["q_sum"] for g in groups if g["q_n"]) / scored
        if scored
        else None
    )
    res.stats["avg_quality"] = avg_q
    res.checks["quality_floor"] = (
        avg_q is not None and avg_q >= MIN_AVG_QUALITY
    )

    dist = {g["alert_level"]: g["n"] for g in groups}
    res.stats["alert_distribution"] = dist
    res.checks["alert_levels_known"] = set(dist) <= {
        "NORMAL",
        "WATCH",
        "WARNING",
        "CRITICAL",
    }

    dup = (
        serving.groupBy("station_id", "timestamp")
        .count()
        .filter("count > 1")
        .count()
    )
    res.stats["duplicate_keys"] = dup
    res.checks["unique_key"] = dup == 0

    # Freshness (reference README.md:750-755: NOW() - MAX(ts) < 1 day).
    latest_us = max(
        (g["latest_us"] for g in groups if g["latest_us"] is not None),
        default=None,
    )
    latest = (
        datetime.datetime.fromtimestamp(
            latest_us / 1_000_000, datetime.timezone.utc
        )
        if latest_us is not None
        else None
    )
    age = (
        now.timestamp() - latest_us / 1_000_000
        if latest_us is not None
        else None
    )
    res.stats["latest_timestamp"] = latest
    res.stats["staleness_seconds"] = age
    res.checks["fresh"] = (
        age is not None
        and -CLOCK_SKEW_TOLERANCE_SECONDS <= age < MAX_STALENESS_SECONDS
    )
    return res


def report(spark: SparkSession, paths: PipelinePaths) -> str:
    """X4: human-readable report from the summary table
    (weather_dag.py:243-330)."""
    rows = (
        spark.read.parquet(paths.summary_dir)
        .orderBy(F.col("summary_date").desc(), "city")
        .limit(50)
        .collect()
    )
    def fmt(v, spec: str) -> str:
        # a (city, day) group can legitimately aggregate to NULL —
        # e.g. every reading null in a non-critical field like
        # temperature — and ':.2f' on None raises TypeError (review
        # r06); the report must print, not crash, on sparse groups
        return format(v, spec) if v is not None else "n/a"

    lines = ["DAILY WEATHER SUMMARY", "=" * 60]
    for r in rows:
        lines.append(
            f"{r['summary_date']} {r['city']:>12}: "
            f"avg {fmt(r['avg_temperature'], '.2f')}C "
            f"[{fmt(r['min_temperature'], '.1f')}.."
            f"{fmt(r['max_temperature'], '.1f')}] "
            f"precip {fmt(r['total_precipitation'], '.2f')}mm "
            f"alerts {fmt(r['alert_percentage'], '.2f')}% "
            f"quality {fmt(r['avg_quality_score'], '.2f')} "
            f"({r['reading_count']} readings, "
            f"dominant: {r['dominant_condition']})"
        )
    return "\n".join(lines)


def run(
    spark: SparkSession,
    paths: PipelinePaths,
    now: "datetime.datetime | None" = None,
) -> ValidationResult:
    """X1: the DAG, linearized with fail-fast semantics."""
    check_prerequisites(spark, paths)
    load(spark, paths)
    result = validate(spark, paths, now=now)
    if not result.ok:
        failed = [k for k, v in result.checks.items() if not v]
        raise RuntimeError(f"validation failed: {failed}; {result.stats}")
    return result


def main(argv: list[str] | None = None) -> int:
    """CLI: python -m aws_weather_data_pipeline_spark.runner RAW LAKE SERVING SUMMARY"""
    import argparse

    from .session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("raw_dir")
    ap.add_argument("lake_dir")
    ap.add_argument("serving_dir")
    ap.add_argument("summary_dir")
    ap.add_argument("--report", action="store_true", help="print X4 report")
    ap.add_argument(
        "--as-of",
        default=None,
        metavar="ISO_TIMESTAMP",
        help="anchor the freshness check at this UTC instant instead "
        "of wall clock — required for historical backfills, whose "
        "data is legitimately 'stale' relative to now",
    )
    args = ap.parse_args(argv)

    import datetime

    as_of = (
        datetime.datetime.fromisoformat(args.as_of)
        if args.as_of
        else None
    )
    spark = get_spark(app_name="daily-pipeline")
    paths = PipelinePaths(
        args.raw_dir, args.lake_dir, args.serving_dir, args.summary_dir
    )
    result = run(spark, paths, now=as_of)
    print(f"validation: {result.checks}")
    print(f"stats: {result.stats}")
    if args.report:
        print(report(spark, paths))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
