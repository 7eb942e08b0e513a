"""The daily weather summary aggregate (SURVEY §2.4 A2-A5, F15).

Mirror of the reference's ``generate_daily_summary`` INSERT..SELECT
(airflow/src/load_to_postgres.py:395-445) and the
``daily_weather_summary`` table (sql/create_tables.sql:89-139), as one
pure DataFrame→DataFrame function.

Semantics choices (SURVEY §7.4):
- averages/sums route through DECIMAL intermediates (functions/exact.py)
  then ROUND(x, 2) like the Postgres original — on exact decimals, so
  the rounding is reproducible across engines and partitionings;
- dominant values are Postgres's MODE() WITHIN GROUP as
  ``F.mode(col, deterministic=True)``: NULLs are never candidates (an
  all-NULL group yields NULL), and a count tie goes to the lowest
  value, so the result does not depend on row order or partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .exact import davg, dec


def daily_weather_summary(processed: DataFrame) -> DataFrame:
    """A2/A3/A4 + F15: one row per (city, reading date).

    Input: the processed weather frame (post apply_transformations).
    One aggregate, so one hash-shuffle on the (city, date) key.
    """
    e = processed.withColumn(
        "summary_date", F.to_date("timestamp_parsed")
    )

    def cnt(pred) -> F.Column:
        return F.sum(F.when(pred, 1).otherwise(0))

    r2 = lambda c: F.round(c, 2)  # noqa: E731 — F15 serving-side rounding
    return e.groupBy("city", "summary_date").agg(
        r2(davg("temperature_celsius")).alias("avg_temperature"),
        F.min("temperature_celsius").alias("min_temperature"),
        F.max("temperature_celsius").alias("max_temperature"),
        r2(davg("heat_index_celsius")).alias("avg_heat_index"),
        r2(davg("humidity_percent")).alias("avg_humidity"),
        r2(davg("pressure_hpa")).alias("avg_pressure"),
        r2(davg("wind_speed_kmh")).alias("avg_wind_speed"),
        r2(F.sum(dec("precipitation_mm")).cast("double")).alias(
            "total_precipitation"
        ),
        F.max("precipitation_mm").alias("max_precipitation"),
        F.count(F.lit(1)).alias("reading_count"),
        cnt(F.col("alert_level") == "NORMAL").alias("normal_count"),
        cnt(F.col("alert_level") == "WATCH").alias("watch_count"),
        cnt(F.col("alert_level") == "WARNING").alias("warning_count"),
        cnt(F.col("alert_level") == "CRITICAL").alias("critical_count"),
        r2(
            cnt(F.col("alert_level").isin("WARNING", "CRITICAL")).cast(
                "double"
            )
            * 100.0
            / F.count(F.lit(1))
        ).alias("alert_percentage"),
        r2(davg("data_quality_score")).alias("avg_quality_score"),
        F.mode("weather_condition", deterministic=True).alias(
            "dominant_condition"
        ),
        F.mode("comfort_level", deterministic=True).alias(
            "dominant_comfort"
        ),
    )
