"""Bucketed external tables: the shuffle-elimination layout for repeated
co-located joins.

Writing both sides of a hot join bucketed (and sorted) by the join key
means every subsequent join/groupBy on that key runs WITHOUT an Exchange:
Spark's FileSourceScanExec reports the bucket spec as its output
partitioning, so SortMergeJoin consumes the scans directly. At 100 TB this
converts the dominant recurring cost (full fact-table shuffle per join)
into a one-time write-side layout decision — the same trade the reference
makes by keying its warehouse tables on the join id
(etl/loader.py:15-60), re-expressed as a Spark physical layout.

Bucket-count guidance at scale: pick buckets so one bucket of the LARGER
side is a few hundred MB (e.g. 100 TB fact / 4096 buckets ≈ 25 GB —
too big; 65536 ≈ 1.5 GB; bucket count must match on both sides, and
Spark unions multiple files per bucket, so err high and let small sides
carry tiny files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int,
    path: str,
    sort: bool = True,
) -> None:
    """Materialize `df` as an EXTERNAL table (data at `path`) bucketed —
    and by default sorted — by `key`. Replaces any existing catalog entry
    with the same name (the data directory is overwritten too)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    w = df.write.mode("overwrite").option("path", path).bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)
