"""Physical layout optimization for 100 TB tables.

The reference replaces its Morton/Z-order bitemporal index with
materialized interval columns (SURVEY.md §4.2); what remains valuable at
scale is FILE layout: partition pruning on coarse keys and min/max-stats
clustering on scan keys (the "optionally ZORDER BY (eid, valid_from)"
note). This module writes that layout with plain parquet:

- hash-bucket partition column on the entity key -> partition pruning for
  point lookups and co-located cogroups/joins;
- `sortWithinPartitions` on the cluster keys -> tight per-row-group
  min/max stats, so range scans skip row groups (parquet's native zone
  maps give the Z-order benefit for 1-2 key columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def save_optimized(
    df: DataFrame,
    path: str,
    bucket_key: str,
    cluster_cols: list[str],
    buckets: int = 64,
) -> None:
    """Write `df` partitioned by hash(bucket_key) % buckets and sorted
    within partitions by cluster_cols."""
    (
        df.withColumn("__bucket", F.abs(F.hash(F.col(bucket_key))) % buckets)
        .repartition("__bucket")
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .partitionBy("__bucket")
        .parquet(path)
    )


def save_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_key: str,
    buckets: int = 64,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a metastore-backed BUCKETED table (`bucketBy` +
    `saveAsTable`). Two tables bucketed on the same key with the same
    bucket count join with NO shuffle on either side — the cross-session
    co-located-join layout (a derived `documents` table bucketed by eid
    makes every TxStore cogroup and entity join shuffle-free). sort_cols
    adds per-bucket-file ordering for row-group min/max skipping."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, bucket_key)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)


def bucketed_join_is_shuffle_free(a: DataFrame, b: DataFrame, on: str) -> bool:
    """Plan check: True iff joining a and b on `on` plans as a sort-merge
    join with no shuffle exchange (bucketed co-location held). Broadcast is
    disabled for the check — a broadcast join has no hash exchange either,
    which would make the check vacuous on small tables."""
    spark = a.sparkSession
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = a.join(b, on)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return (
        "Exchange hashpartitioning" not in plan
        and "SortMergeJoin" in plan
    )


def bucket_pruned(
    spark: SparkSession, path: str, bucket_key: str, value, buckets: int = 64
) -> DataFrame:
    """Point-lookup helper that pins the partition filter so the scan
    touches exactly one bucket directory (verify with
    .explain: PartitionFilters=[__bucket = N])."""
    df = spark.read.parquet(path)
    bucket = df.sparkSession.createDataFrame([(value,)], ["v"]).select(
        (F.abs(F.hash("v")) % buckets).alias("b")
    ).first()[0]
    return df.filter((F.col("__bucket") == int(bucket)) & (F.col(bucket_key) == value))
