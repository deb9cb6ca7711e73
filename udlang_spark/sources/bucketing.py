"""Bucketed tables: co-located joins and aggregations (SURVEY.md §2.5
scale notes — "co-locate joins via bucketing").

Writing both sides of a recurring join bucketed (and sorted) by the join
key lets Spark plan a sort-merge join with ZERO exchanges — each task
reads matching bucket files from both sides. At 100 TB this converts the
biggest shuffle in a pipeline into a free co-partitioned read, and
repeated aggregations on the bucket key skip their exchange too.

Bucketed writes go through the session catalog (`saveAsTable`) — Spark
only tracks bucket metadata for catalog tables, not bare parquet paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
    n_buckets: int = 16,
    sort: bool = True,
) -> None:
    """Persist df as a bucketed (and bucket-sorted) catalog table. Pick
    n_buckets so each bucket file lands near the target split size at the
    expected data volume; both join sides must use the SAME n_buckets for
    exchange-free joins."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_by)
    if sort:
        w = w.sortBy(bucket_by)
    w.format("parquet").saveAsTable(table)


def cobucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str, how: str = "inner"
) -> DataFrame:
    """Join two co-bucketed tables on their bucket key: plans as a
    sort-merge join with no Exchange on either side."""
    return spark.table(left_table).join(spark.table(right_table), on, how)
