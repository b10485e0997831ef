"""Partition-layout pruning: static partition pruning and Spark's
dynamic partition pruning (DPP) over a date-partitioned copy of the
events table.

Reference analog: none — the reference scans whole files per map task
(/root/reference/mr/master.go:21-40); partition elimination is the
engine capability that replaces "just read fewer files by hand" at
100 TB: a day-partitioned fact with a date predicate reads only the
matching directories (static), and a fact joined to a FILTERED dim on
the partition key prunes at RUNTIME from the dim's values (DPP) —
the single biggest scan saver for star-schema joins at scale.

Both behaviors are plan-PINNED in tests/test_plans.py (PartitionFilters
on the scan; a dynamicpruning expression on the DPP fact scan), not
just measured — the layout discipline of zorder_layout applied to
directory partitioning.

Fixture boundary: the partitioned copy is a session artifact
(workspace.materialize_once); 30 daily partitions at every fixture
scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_go_spark import tables
from mapreduce_go_spark.functions.num import dsum, dsum_sql
from mapreduce_go_spark.sources.io import write_parquet
from mapreduce_go_spark.workspace import materialize_once


def ensure_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Day-partitioned parquet copy of events (partition column
    event_date = to_date(ts)), a session artifact."""
    return materialize_once(
        spark, "events_by_day", sf_dir, "",
        lambda p: write_parquet(
            tables.load(spark, sf_dir, "events")
            .withColumn("event_date", F.to_date("ts")),
            p, partition_by=["event_date"]))


def partition_pruned_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATIC pruning: a date-range predicate on the partition column
    must reach the scan as a PartitionFilter (plan-pinned), so only
    7 of the 30 day directories are listed or read — the predicate
    never touches row data."""
    path = ensure_partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(path)
    return (
        ev.where((F.col("event_date") >= "2024-01-05")
                 & (F.col("event_date") <= "2024-01-11"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             dsum(F.col("value")).alias("total_value"))
    )


def dpp_enriched_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the fact is filtered only through a
    JOIN to a filtered date dimension (every 5th day carries the
    'audit' label), so static pruning is impossible — Spark must
    inject the dim's surviving dates into the fact scan at runtime
    (dynamicpruning expression, plan-pinned). At 100 TB this is the
    star-schema pattern: the engine reads 6/30 of the fact without
    the query ever stating the dates."""
    path = ensure_partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(path)
    dates = spark.range(1).select(
        F.explode(F.sequence(
            F.lit("2024-01-01").cast("date"),
            F.lit("2024-01-30").cast("date"))).alias("event_date"))
    dim = (dates
           .withColumn("day_label",
                       F.concat(F.lit("audit-day-"),
                                F.dayofmonth("event_date")))
           .where(F.dayofmonth("event_date") % 5 == 0))
    return (
        ev.join(dim, "event_date")
        .groupBy("day_label", "event_type")
        .agg(F.count("*").alias("n_events"),
             dsum(F.col("value")).alias("total_value"))
    )


QUERIES = {
    "partition_pruned_daily": partition_pruned_daily,
    "dpp_enriched_revenue": dpp_enriched_revenue,
}

ORACLES = {
    "partition_pruned_daily": f"""
        SELECT event_type,
               cast(count(*) AS bigint) AS n_events,
               {dsum_sql("value")} AS total_value
        FROM events
        WHERE ts >= timestamp '2024-01-05'
          AND ts < timestamp '2024-01-12'
        GROUP BY event_type
    """,
    # the ts range bound mirrors the QUERY's dim definition (dates
    # 2024-01-01..2024-01-30): without it the oracle would count any
    # out-of-January row with day%5=0 that the Spark join drops
    # (r16 review — the fixture never leaves January, so the bound
    # is the tie that keeps the two definitions from drifting)
    "dpp_enriched_revenue": f"""
        SELECT 'audit-day-' || day(ts) AS day_label,
               event_type,
               cast(count(*) AS bigint) AS n_events,
               {dsum_sql("value")} AS total_value
        FROM events
        WHERE day(ts) % 5 = 0
          AND ts >= timestamp '2024-01-01'
          AND ts < timestamp '2024-01-31'
        GROUP BY 1, 2
    """,
}
