"""Batch sinks (SURVEY §2.1 S7-S12).

The reference's sink surface, re-expressed Spark-first:

- S7  partitioned Parquet, hive layout ``year=/month=/day=/hour=`` —
  the reference partitions by columns it never derives
  (scripts/glue_weather_etl.py:483 partitions by year/month/day/hour,
  but no transform adds them: a latent bug). ``write_partitioned``
  derives them from the event timestamp before ``partitionBy``.
- S11 idempotent append — the reference's ``INSERT ... ON CONFLICT
  (station_id, reading_timestamp) DO NOTHING``
  (airflow/src/load_to_postgres.py:294-321) becomes dedup + left-anti
  join against the existing table, PARTITION-SCOPED: only the target's
  date partitions are scanned for conflicts, not the whole table
  (SURVEY §7.4-7 — at 100 TB a full-table anti-join per load is the
  difference between minutes and hours).
- S12 aggregate upsert — ``ON CONFLICT DO UPDATE``
  (airflow/src/load_to_postgres.py:395-445) becomes dynamic partition
  overwrite: recompute the affected (summary_date) partitions and
  replace exactly those.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, functions as F


#: DataFrameWriter option for per-WRITE dynamic partition overwrite.
#: Per-write, not the session conf (review r11): the old save/set/
#: restore context manager mutated session-GLOBAL state, so a
#: concurrent writer in the same SparkSession could run its
#: overwrite in STATIC mode while another held the toggle — deleting
#: every partition of its table, not just the batch's. The writer
#: option scopes the mode to exactly one write with no shared state.
DYNAMIC_OVERWRITE = ("partitionOverwriteMode", "dynamic")


def with_time_partitions(df: DataFrame, ts_col: str) -> DataFrame:
    """Derive hive partition columns year/month/day/hour from ``ts_col``.

    Fixes the reference's S7 latent bug (partitionBy on columns that
    were never created). Zero-padded strings so lexicographic file
    listing equals chronological order, like the reference's consumer
    writes them (scripts/kinesis_to_s3.py:205-206).

    Refuses by name if the frame ALREADY carries any of the derived
    column names (review r13): withColumn would silently replace the
    caller's data with the fabricated partition value — the same
    reserved-name hazard the table log refuses loudly
    (_check_cdc_collisions). Rename or drop the colliding column;
    partition columns here are always derived, never trusted from
    the input (the reference's bug was the reverse).
    """
    clash = [c for c in ("year", "month", "day", "hour") if c in df.columns]
    if clash:
        raise ValueError(
            f"with_time_partitions derives {clash} but the frame "
            "already has column(s) of those names — rename or drop "
            "them; derived partition columns are never taken from "
            "the input"
        )
    ts = F.col(ts_col)
    return (
        df.withColumn("year", F.date_format(ts, "yyyy"))
        .withColumn("month", F.date_format(ts, "MM"))
        .withColumn("day", F.date_format(ts, "dd"))
        .withColumn("hour", F.date_format(ts, "HH"))
    )


def write_partitioned(
    df: DataFrame, path: str, ts_col: str = "timestamp_parsed"
) -> None:
    """S7: append Parquet partitioned by derived year/month/day/hour.

    Partition pruning on any downstream time-range predicate is then
    free; the partition count is bounded (one per hour), so no
    small-file explosion from over-partitioning by high-cardinality
    keys.
    """
    with_time_partitions(df, ts_col).write.mode("append").partitionBy(
        "year", "month", "day", "hour"
    ).parquet(path)


def overwrite_partitioned(
    df: DataFrame, path: str, ts_col: str = "timestamp_parsed"
) -> None:
    """S7, re-runnable form: dynamic-overwrite the touched partitions.

    Same layout as ``write_partitioned``, but replaces exactly the
    year/month/day/hour partitions present in ``df`` instead of
    appending — so replaying a batch load (Airflow retry semantics)
    rewrites the same partitions rather than duplicating rows.
    Streaming keeps the append form (micro-batches accumulate within
    an hour); batch loads that may re-run should use this one.
    """
    with_time_partitions(df, ts_col).write.mode("overwrite").option(
        *DYNAMIC_OVERWRITE
    ).partitionBy("year", "month", "day", "hour").parquet(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink — columnar interchange with Hive-era consumers; same
    overwrite discipline as the parquet sinks (round-trip + pushdown
    verified in tests/test_readers.py)."""
    df.write.mode("overwrite").orc(path)


def _read_existing(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet table at ``path``, or None when it has no table yet.

    A missing path is the first load, and is checked with the Hadoop
    FileSystem of the session's conf (local, s3a, hdfs alike) rather
    than by catching the failed read, which logs a long Java stack
    trace. An existing but EMPTY directory (infra pre-provisioning) is
    the same "nothing to conflict with" state. Any other failure —
    unreadable schema, permissions, a corrupt-but-existing table —
    propagates: treating it as "table absent" would skip conflict
    detection and append duplicate keys into a table that very much
    exists.
    """
    from pyspark.errors import AnalysisException

    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return None
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        return None


#: Upper bound on the number of distinct scope values collected to the
#: driver by ``idempotent_append`` — a date-grained scope is O(days per
#: batch); anything past this is a mis-chosen scope column.
MAX_SCOPE_VALUES = 10_000


def idempotent_append(
    spark: SparkSession,
    new_rows: DataFrame,
    path: str,
    keys: list[str],
    scope_col: str | None = None,
) -> int:
    """S11: append only rows whose key is not already present.

    dropDuplicates on the key (the reference's A1 dedup,
    load_to_postgres.py:229-236) then a LEFT ANTI join against the
    existing table. When ``scope_col`` is given (a partition column or
    a low-cardinality date column), the existing side is filtered to
    the incoming batch's scope values first — the partition-scoped
    anti-join: conflict detection reads only the partitions the batch
    can possibly collide with. Returns the number of rows appended.

    The anti-join shuffles on the key — same shape at any scale; the
    existing side after scoping is one day's partitions, so AQE will
    typically broadcast it.
    """
    deduped = new_rows.dropDuplicates(keys)
    existing = _read_existing(spark, path)
    if existing is not None:
        if scope_col is not None:
            # The scope list is collected to the driver to become an
            # isin() partition-pruning predicate — correct only for
            # low-cardinality scopes (dates, hours). Cap it so a caller
            # passing a high-cardinality column (an id, a timestamp)
            # fails with a clear message instead of OOMing the driver
            # at scale; such callers should use the plain (scope-less)
            # anti-join, which never leaves the executors.
            # Collected from the incoming rows, not the deduplicated
            # ones, so this job runs no dedup shuffle: dedup keeps a
            # row of every key, so the scope can only get wider and no
            # conflict is missed.
            scope_rows = (
                new_rows.select(scope_col)
                .distinct()
                .limit(MAX_SCOPE_VALUES + 1)
                .collect()
            )
            if len(scope_rows) > MAX_SCOPE_VALUES:
                raise ValueError(
                    f"idempotent_append scope_col={scope_col!r} has more "
                    f"than {MAX_SCOPE_VALUES} distinct values in the "
                    "incoming batch; use a coarser scope column (e.g. a "
                    "date) or scope_col=None"
                )
            scopes = [r[0] for r in scope_rows]
            # isin() never matches NULL (null-vs-null compares to
            # null), so a batch containing null-scope rows — e.g. an
            # unparseable timestamp surviving to a null reading_date —
            # would exclude the matching EXISTING rows from conflict
            # detection and re-append duplicates on retry (review
            # r06). Null scopes need an explicit isNull arm.
            pred = F.col(scope_col).isin(
                [v for v in scopes if v is not None]
            )
            if any(v is None for v in scopes):
                pred = pred | F.col(scope_col).isNull()
            existing = existing.filter(pred)
        # eqNullSafe per key (review r11): a NULL key field under
        # plain equality never matches the identical existing row, so
        # every replay re-appends it — the null-scope fix (r06)
        # applied to the join itself. dropDuplicates already treats
        # NULLs as equal, so this makes the two dedup layers agree.
        ex = existing.select(*keys)
        cond = None
        for k in keys:
            clause = deduped[k].eqNullSafe(ex[k])
            cond = clause if cond is None else cond & clause
        to_insert = deduped.join(ex, on=cond, how="left_anti")
    else:
        to_insert = deduped
    # persist: count-then-write would otherwise execute the dedup +
    # anti-join (and the existing-table scan) twice per load (review
    # r06)
    to_insert = to_insert.persist()
    try:
        n = to_insert.count()
        if n:
            to_insert.write.mode("append").parquet(path)
    finally:
        to_insert.unpersist(False)
    return n


def upsert_summary_by_partition(
    summary: DataFrame, path: str, partition_col: str
) -> None:
    """S12: overwrite exactly the partitions present in ``summary``.

    Spark's dynamic partition overwrite replaces only the partitions
    the incoming frame contains — the reference's ``ON CONFLICT DO
    UPDATE`` per (city, summary_date) becomes "recompute the day,
    replace the day". Unaffected history is untouched, so the operation
    is idempotent and safely re-runnable (the Airflow retry semantics,
    weather_dag.py:376-457, for free).
    """
    summary.write.mode("overwrite").option(
        *DYNAMIC_OVERWRITE
    ).partitionBy(partition_col).parquet(path)
