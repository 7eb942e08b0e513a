"""daily_weather_summary: the dominant-value rule and the pinned columns.

Dominant values follow Postgres ``MODE() WITHIN GROUP`` with a
deterministic tie-break (SURVEY §7.4-2): the most frequent value wins,
a count tie goes to the lowest value, and NULLs are never candidates,
so an all-NULL group yields NULL.
"""

from __future__ import annotations

import datetime

from pyspark.sql import types as T

from aws_weather_data_pipeline_spark.functions.summary import (
    daily_weather_summary,
)
from aws_weather_data_pipeline_spark.functions.weather import (
    apply_transformations,
)
from aws_weather_data_pipeline_spark.sources.readers import read_raw_json
from tests.weather_fixtures import make_reading, write_batch_file

_COLS = T.StructType(
    [
        T.StructField("city", T.StringType()),
        T.StructField("timestamp_parsed", T.TimestampType()),
        T.StructField("temperature_celsius", T.DoubleType()),
        T.StructField("heat_index_celsius", T.DoubleType()),
        T.StructField("humidity_percent", T.DoubleType()),
        T.StructField("pressure_hpa", T.DoubleType()),
        T.StructField("wind_speed_kmh", T.DoubleType()),
        T.StructField("precipitation_mm", T.DoubleType()),
        T.StructField("alert_level", T.StringType()),
        T.StructField("data_quality_score", T.DoubleType()),
        T.StructField("weather_condition", T.StringType()),
        T.StructField("comfort_level", T.StringType()),
    ]
)


def _summary(spark, groups: dict[str, list[tuple]]) -> dict:
    """Summarise readings given as {city: [(condition, comfort), ...]}
    (all on one day) and return {city: (dominant_condition,
    dominant_comfort)}."""
    ts = datetime.datetime(2024, 1, 15, 10, 0)
    rows = [
        (city, ts, 30.0, 32.0, 50.0, 1000.0, 10.0, 0.0, "NORMAL", 100.0,
         cond, comfort)
        for city, readings in groups.items()
        for cond, comfort in readings
    ]
    out = daily_weather_summary(spark.createDataFrame(rows, _COLS))
    return {
        r["city"]: (r["dominant_condition"], r["dominant_comfort"])
        for r in out.collect()
    }


def test_dominant_count_tie_goes_to_lowest_value(spark):
    got = _summary(
        spark,
        {
            "Mumbai": [("Rain", "Hot"), ("Clear", "Warm"),
                       ("Rain", "Warm"), ("Clear", "Hot")],
            "Delhi": [("Storm", "Mild"), ("Fog", "Cold"), ("Haze", "Cool")],
        },
    )
    assert got == {"Mumbai": ("Clear", "Hot"), "Delhi": ("Fog", "Cold")}


def test_dominant_never_elects_null(spark):
    # NULL is the most frequent "value" of both groups, and would also
    # win an ascending tie-break; neither may elect it.
    got = _summary(
        spark,
        {
            "Mumbai": [(None, None), (None, None), (None, "Hot"),
                       ("Rain", None)],
            "Delhi": [(None, "Warm"), ("Fog", None), ("Clear", None),
                      ("Fog", "Hot"), ("Clear", "Hot")],
        },
    )
    assert got == {"Mumbai": ("Rain", "Hot"), "Delhi": ("Clear", "Hot")}


def test_dominant_of_all_null_group_is_null(spark):
    got = _summary(
        spark,
        {
            "Mumbai": [(None, None), (None, None)],
            "Delhi": [("Clear", "Hot")],
        },
    )
    assert got == {"Mumbai": (None, None), "Delhi": ("Clear", "Hot")}


#: The summary of the tests/test_runner.py fixture, every column pinned.
_FIXTURE_SUMMARY = [
    ("Bengaluru", 35.43, 29.0, 44.0, 44.0, 59.0, 1009.0, 47.29, 169.0,
     57.0, 7, 0, 0, 3, 4, 100.0, 100.0, "Clear", "Danger"),
    ("Chennai", 33.43, 27.0, 42.0, 42.0, 57.0, 1007.0, 47.57, 287.0,
     56.0, 7, 0, 0, 4, 3, 100.0, 100.0, "Clear", "Danger"),
    ("Delhi", 32.43, 26.0, 41.0, 41.0, 56.0, 1006.0, 40.57, 196.0,
     43.0, 7, 0, 1, 4, 2, 85.71, 100.0, "Clear", "Danger"),
    ("Kolkata", 34.43, 28.0, 43.0, 43.0, 58.0, 1008.0, 54.57, 258.0,
     59.0, 7, 0, 0, 2, 5, 100.0, 100.0, "Clear", "Danger"),
    ("Mumbai", 31.43, 25.0, 40.0, 40.0, 55.0, 1005.0, 33.57, 105.0,
     30.0, 7, 1, 1, 4, 1, 71.43, 100.0, "Clear", "Danger"),
]

_SUMMARY_SCHEMA = (
    "struct<city:string,summary_date:date,avg_temperature:double,"
    "min_temperature:double,max_temperature:double,avg_heat_index:double,"
    "avg_humidity:double,avg_pressure:double,avg_wind_speed:double,"
    "total_precipitation:double,max_precipitation:double,"
    "reading_count:bigint,normal_count:bigint,watch_count:bigint,"
    "warning_count:bigint,critical_count:bigint,alert_percentage:double,"
    "avg_quality_score:double,dominant_condition:string,"
    "dominant_comfort:string>"
)


def test_summary_of_runner_fixture_is_pinned(spark, tmp_path):
    write_batch_file(
        tmp_path / "batch_001.json", [make_reading(i) for i in range(20)]
    )
    write_batch_file(
        tmp_path / "batch_002.json",
        [make_reading(i, hour=14) for i in range(20, 35)],
    )
    processed = apply_transformations(read_raw_json(spark, str(tmp_path)))
    out = daily_weather_summary(processed)
    assert out.schema.simpleString() == _SUMMARY_SCHEMA
    day = datetime.date(2024, 1, 15)
    assert [tuple(r) for r in out.orderBy("city").collect()] == [
        (row[0], day, *row[1:]) for row in _FIXTURE_SUMMARY
    ]
