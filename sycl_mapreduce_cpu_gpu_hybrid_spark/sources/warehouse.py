"""Warehouse layout helpers: bucketing and partitioned writes.

The two storage-side levers that remove work at 100 TB:

- **Bucketing** pre-shuffles a table once at write time. Two tables
  bucketed by the same key into the same bucket count join with NO
  exchange on either side — the shuffle the reference pays inside
  every reduce (its sort step, src/GPU_Module/GPU.cpp:122-135) moves
  to ingest and amortizes across every later join/agg.
- **Partitioned writes** (hive-style dirs) let Catalyst prune entire
  directories from a scan (`PartitionFilters`), the coarse analog of
  the reference's offline truncator.sh input cutting.

Both are asserted plan-level in tests/test_warehouse.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int | None = None,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) managed table,
    by default one bucket per core slot (the session's
    defaultParallelism), so tables written by one session share a
    count. Sorting within buckets additionally enables merge-join
    without a sort step."""
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = spark.sparkContext.defaultParallelism
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # the in-memory catalog forgets tables across sessions but their
    # warehouse directories persist; clear a stale location so the
    # managed-table create cannot collide with it
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{warehouse}/{table}", ignore_errors=True)

    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.format("parquet").saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str
) -> DataFrame:
    """Join two same-bucketed tables as a merge join: with matching
    bucket specs there is no Exchange on either side, and bucket-
    sorted data needs no Sort — scan, zip, done. (The merge hint
    matters on toy data, where the planner would otherwise broadcast
    and never exercise the bucket layout; at warehouse scale
    sort-merge is what the planner picks anyway.)"""
    return (
        spark.table(left_table).hint("merge").join(spark.table(right_table), on)
    )


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Hive-style partitioned parquet layout; scans with predicates on
    ``partition_cols`` prune whole directories (PartitionFilters)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def zorder_key_exprs(x_col: str, y_col: str, bits: int = 16) -> tuple[str, str]:
    """Morton (Z-order) key: interleave the low ``bits`` of two
    non-negative integer columns — the multi-dimensional clustering
    key behind OPTIMIZE ZORDER in lakehouse table formats. Sorting by
    the key colocates rows that are close in BOTH dimensions, so
    parquet row-group min/max stats prune on either predicate column
    (a single-column sort only ever prunes its own column — see
    tests/test_warehouse.py for the measured spread contrast).

    Returns (spark_sql, duckdb_sql): same unrolled bit arithmetic,
    Spark spelled with shiftleft/shiftright functions, DuckDB with
    << / >> operators — bit-identical results, so the key itself is
    value-oracle-able."""
    spark_terms = []
    duck_terms = []
    for i in range(bits):
        spark_terms.append(
            f"shiftleft(shiftright(CAST({x_col} AS BIGINT), {i}) & 1, {2 * i})"
        )
        spark_terms.append(
            f"shiftleft(shiftright(CAST({y_col} AS BIGINT), {i}) & 1, {2 * i + 1})"
        )
        duck_terms.append(
            f"(((CAST({x_col} AS BIGINT) >> {i}) & 1) << {2 * i})"
        )
        duck_terms.append(
            f"(((CAST({y_col} AS BIGINT) >> {i}) & 1) << {2 * i + 1})"
        )
    return " + ".join(spark_terms), " + ".join(duck_terms)
