"""End-to-end pipeline runner tests (X1-X4)."""

from __future__ import annotations

import datetime

import pytest

from aws_weather_data_pipeline_spark.runner import (
    MAX_STALENESS_SECONDS,
    PipelinePaths,
    check_prerequisites,
    report,
    run,
    validate,
)
from tests.weather_fixtures import make_reading, write_batch_file

#: Fixture readings are stamped 2024-01-15; this "now" is the same
#: evening, so the freshness check sees data a few hours old.
FIXTURE_NOW = datetime.datetime(
    2024, 1, 15, 20, 0, 0, tzinfo=datetime.timezone.utc
)


@pytest.fixture()
def paths(tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    write_batch_file(
        raw / "batch_001.json", [make_reading(i) for i in range(20)]
    )
    write_batch_file(
        raw / "batch_002.json",
        [make_reading(i, hour=14) for i in range(20, 35)],
    )
    return PipelinePaths(
        raw_dir=str(raw),
        lake_dir=str(tmp_path / "lake"),
        serving_dir=str(tmp_path / "serving"),
        summary_dir=str(tmp_path / "summary"),
    )


def test_prerequisites_fail_on_missing_dir(spark, tmp_path):
    bad = PipelinePaths(
        raw_dir=str(tmp_path / "nope"),
        lake_dir="",
        serving_dir="",
        summary_dir="",
    )
    with pytest.raises(FileNotFoundError):
        check_prerequisites(spark, bad)


def test_prerequisites_fail_on_empty_dir(spark, tmp_path):
    empty = tmp_path / "raw"
    empty.mkdir()
    with pytest.raises(FileNotFoundError, match="no raw JSON"):
        check_prerequisites(
            spark, PipelinePaths(str(empty), "", "", "")
        )


def test_full_pipeline_run(spark, paths):
    result = run(spark, paths, now=FIXTURE_NOW)
    assert result.ok
    assert result.stats["total_rows"] == 35
    assert result.stats["duplicate_keys"] == 0
    assert result.stats["avg_quality"] >= 90.0
    assert result.checks["fresh"]
    assert 0 < result.stats["staleness_seconds"] < MAX_STALENESS_SECONDS

    serving = spark.read.parquet(paths.serving_dir)
    assert "alert_level" in serving.columns
    summary = spark.read.parquet(paths.summary_dir)
    cities = {r["city"] for r in summary.select("city").collect()}
    assert cities == {"Mumbai", "Delhi", "Chennai", "Kolkata", "Bengaluru"}
    # Rerunning the whole pipeline is idempotent on EVERY sink:
    # serving via the anti-join, the lake via dynamic partition
    # overwrite (append would double it), summary via partition upsert.
    lake_before = spark.read.parquet(paths.lake_dir).count()
    summary_before = summary.count()  # count now; the rerun replaces files
    result2 = run(spark, paths, now=FIXTURE_NOW)
    assert result2.stats["total_rows"] == 35
    assert spark.read.parquet(paths.lake_dir).count() == lake_before
    assert spark.read.parquet(paths.summary_dir).count() == summary_before

    text = report(spark, paths)
    assert "DAILY WEATHER SUMMARY" in text
    assert "Mumbai" in text
    assert "dominant: Clear" in text


def test_cli_main_backfill_with_as_of(spark, paths, capsys):
    """The CLI must support historical backfills: without --as-of the
    freshness check anchors at wall clock and 2024 fixture data is
    'stale'; with --as-of it passes and prints the report.
    """
    from aws_weather_data_pipeline_spark.runner import main

    rc = main(
        [
            paths.raw_dir,
            paths.lake_dir,
            paths.serving_dir,
            paths.summary_dir,
            "--report",
            "--as-of",
            "2024-01-15T20:00:00+00:00",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "'fresh': True" in out
    assert "DAILY WEATHER SUMMARY" in out

    with pytest.raises(RuntimeError, match="fresh"):
        main(
            [
                paths.raw_dir,
                paths.lake_dir,
                paths.serving_dir,
                paths.summary_dir,
            ]
        )


def test_validate_freshness_stale_and_fresh(spark, paths):
    """X3 freshness (reference README.md:750-755, age < 1 day): the
    same serving table passes with a now inside the window and fails
    with a now a week later — and run() surfaces the stale case as a
    pipeline failure.
    """
    run(spark, paths, now=FIXTURE_NOW)

    fresh = validate(spark, paths, now=FIXTURE_NOW)
    assert fresh.checks["fresh"]

    week_later = FIXTURE_NOW + datetime.timedelta(days=7)
    stale = validate(spark, paths, now=week_later)
    assert not stale.checks["fresh"]
    assert stale.stats["staleness_seconds"] > MAX_STALENESS_SECONDS
    # every non-freshness check still passes — the failure is isolated
    others = {k: v for k, v in stale.checks.items() if k != "fresh"}
    assert all(others.values())

    with pytest.raises(RuntimeError, match="fresh"):
        run(spark, paths, now=week_later)


def test_validate_tolerates_producer_clock_skew(spark, paths):
    """Review r11: a station clock running a few minutes fast yields
    a slightly negative age; that must not fail the run — while
    wildly future-dated data still does."""
    from aws_weather_data_pipeline_spark.runner import (
        CLOCK_SKEW_TOLERANCE_SECONDS,
    )

    run(spark, paths, now=FIXTURE_NOW)
    skewed_now = FIXTURE_NOW - datetime.timedelta(
        seconds=CLOCK_SKEW_TOLERANCE_SECONDS // 2
    )
    # NOTE: FIXTURE_NOW is already past the data's max timestamp, so
    # step back to just before it to simulate the fast producer
    latest = validate(spark, paths, now=FIXTURE_NOW).stats[
        "latest_timestamp"
    ]
    just_before = latest - datetime.timedelta(seconds=60)
    res = validate(spark, paths, now=just_before)
    assert res.stats["staleness_seconds"] < 0
    assert res.checks["fresh"], "benign skew must not fail the run"
    far_before = latest - datetime.timedelta(hours=2)
    res2 = validate(spark, paths, now=far_before)
    assert not res2.checks["fresh"], "wild future-dating must fail"


def _write_serving(spark, paths, rows):
    """Write ``rows`` (station_id, city, timestamp, alert_level,
    data_quality_score) as the serving table, bypassing the load."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows,
        "station_id string, city string, timestamp string, "
        "alert_level string, data_quality_score double",
    ).withColumn("timestamp_parsed", F.to_timestamp("timestamp"))
    df.write.mode("overwrite").parquet(paths.serving_dir)


def test_validate_characterizes_bad_serving_table(spark, paths):
    """Every check of validate() fails on a table built to break it,
    except has_rows and fresh, and each stat says why."""
    rows = [
        ("WS001", "Mumbai", "2024-01-15T10:00:00", "NORMAL", None),
        ("WS001", "Mumbai", "2024-01-15T10:00:00", "NORMAL", None),
        ("WS002", "Delhi", "2024-01-15T11:00:00", "WATCH", None),
        ("WS002", "Delhi", "2024-01-15T11:00:00", "WATCH", None),
        ("WS002", "Delhi", "2024-01-15T11:00:00", "WATCH", None),
        ("WS003", "Chennai", "2024-01-15T12:00:00", "BOGUS", None),
        ("WS004", "Kolkata", "2024-01-15T13:00:00", None, None),
        ("WS005", None, "2024-01-15T14:00:00", "NORMAL", None),
    ]
    _write_serving(spark, paths, rows)

    res = validate(spark, paths, now=FIXTURE_NOW)

    assert res.stats == {
        "total_rows": 8,
        "null_critical_rows": 1,
        "avg_quality": None,
        "alert_distribution": {
            "NORMAL": 3,
            "WATCH": 3,
            "BOGUS": 1,
            None: 1,
        },
        "duplicate_keys": 2,
        "latest_timestamp": datetime.datetime(
            2024, 1, 15, 14, 0, tzinfo=datetime.timezone.utc
        ),
        "staleness_seconds": 6 * 3600.0,
    }
    assert res.checks == {
        "has_rows": True,
        "no_null_critical": False,
        "quality_floor": False,
        "alert_levels_known": False,
        "unique_key": False,
        "fresh": True,
    }
    assert not res.ok


def test_validate_avg_quality_weights_every_scored_row(spark, paths):
    """avg_quality is the mean over every row with a score, not a mean
    of per-alert-level means, and unscored rows are not counted."""
    rows = [
        ("WS001", "Mumbai", "2024-01-15T10:00:00", "NORMAL", 100.0),
        ("WS002", "Mumbai", "2024-01-15T10:00:00", "NORMAL", 100.0),
        ("WS003", "Mumbai", "2024-01-15T10:00:00", "NORMAL", 100.0),
        ("WS004", "Delhi", "2024-01-15T11:00:00", "WATCH", 70.0),
        ("WS005", "Delhi", "2024-01-15T11:00:00", "WATCH", None),
    ]
    _write_serving(spark, paths, rows)

    res = validate(spark, paths, now=FIXTURE_NOW)

    assert res.stats["avg_quality"] == 92.5
    assert res.checks["quality_floor"]
    assert res.stats["alert_distribution"] == {"NORMAL": 3, "WATCH": 2}
    assert res.ok


#: Stages of a daily load whose Spark jobs the guard below counts.
_TAGGED_STAGES = (
    "check_prerequisites",
    "overwrite_partitioned",
    "idempotent_append",
    "upsert_summary_by_partition",
    "validate",
)


def test_daily_load_job_counts(spark, paths, tmp_path, monkeypatch):
    """Guard on the Spark jobs a daily load runs: every action is a job
    with a fixed planning and scheduling cost, which at a day's size is
    most of the load.

    Loads the fixture day onto empty tables, then a second day onto
    the existing ones, then replays that day; each stage runs under its
    own job group, read back through the status tracker. When validate
    was a persist plus six actions and the summary had two
    window-and-join sub-aggregates, these loads ran 30, 35 and 34 jobs
    (validate 15 and the summary upsert 8 in each). A replay must
    append nothing and write no serving file.
    """
    import dataclasses
    import os
    import uuid

    from aws_weather_data_pipeline_spark import runner

    sc = spark.sparkContext
    prefix = uuid.uuid4().hex
    phase = [None]
    appended = []

    def tagged(name, fn):
        def wrapper(*args, **kwargs):
            sc.setJobGroup(f"{prefix}:{phase[0]}:{name}", name)
            try:
                out = fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            if name == "idempotent_append":
                appended.append(out)
            return out

        return wrapper

    for name in _TAGGED_STAGES:
        monkeypatch.setattr(runner, name, tagged(name, getattr(runner, name)))

    def drained_tracker():
        # job-start events reach the status store through the listener
        # bus; drain it so no job of the load is missed
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return sc.statusTracker()

    def load(which, load_paths, now):
        """Run one load; return its jobs per stage and in total."""
        before = set(drained_tracker().getJobIdsForGroup(None))
        phase[0] = which
        assert runner.run(spark, load_paths, now=now).ok
        tracker = drained_tracker()
        jobs = {
            name: len(tracker.getJobIdsForGroup(f"{prefix}:{which}:{name}"))
            for name in _TAGGED_STAGES
        }
        untagged = set(tracker.getJobIdsForGroup(None)) - before
        return jobs, sum(jobs.values()) + len(untagged)

    def serving_files():
        return sorted(
            f for f in os.listdir(paths.serving_dir) if f.endswith(".parquet")
        )

    raw2 = tmp_path / "raw2"
    raw2.mkdir()
    write_batch_file(
        raw2 / "batch_001.json",
        [make_reading(i, day=16) for i in range(35)],
    )
    day2 = dataclasses.replace(paths, raw_dir=str(raw2))
    day2_now = FIXTURE_NOW + datetime.timedelta(days=1)

    first, first_total = load("first", paths, FIXTURE_NOW)
    fresh, fresh_total = load("fresh", day2, day2_now)
    files = serving_files()
    replay, replay_total = load("replay", day2, day2_now)

    assert appended == [35, 35, 0]
    assert serving_files() == files, "a replay wrote a serving file"
    for jobs in (first, fresh, replay):
        assert jobs["validate"] <= 7, jobs
        assert jobs["upsert_summary_by_partition"] <= 3, jobs
    assert fresh_total <= 20, (fresh_total, fresh)
    assert replay_total <= 20, (replay_total, replay)
