"""Structured-Streaming surface.

The reference is strictly batch (SURVEY.md §2.9): incrementality is a
12-hour lookback predicate re-evaluated per run (etl/extractor.py:8-17),
and duplicate/late data is handled by DISTINCT + latest-wins dedup. The
streaming equivalents:

- lookback predicate  -> `incremental_lookback` (batch) or a watermark
- source DISTINCT     -> `stream_dedup` (watermark + dropDuplicates: state
                         is bounded by the watermark, the exact streaming
                         analog of "only look 12h back")
- truncate-and-load   -> `foreach_batch_latest_wins_overwrite`: per
                         micro-batch, merge with the current table version,
                         apply latest-wins, atomically publish a new version
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import windows
from ..sinks import VersionedTable


def incremental_lookback(df: DataFrame, ts_col: str, cutoff_epoch: float) -> DataFrame:
    """S3 — keep rows with ts_col (epoch seconds, possibly string-typed)
    newer than the cutoff; the cutoff is an injected parameter, never a
    hidden clock (SURVEY.md Q4). Catalyst pushes this to the scan."""
    return df.filter(F.col(ts_col).cast("double") > F.lit(float(cutoff_epoch)))


def incremental_lookback_partitioned(
    df: DataFrame, ts_col: str, date_col: str, cutoff_epoch: float
) -> DataFrame:
    """S3 at 100 TB: on a date-partitioned lake the lookback must become a
    partition PRUNE, not a row filter over the full history. The date-column
    predicate (derived from the same cutoff) skips directories entirely
    (PartitionFilters in the scan — asserted in tests); the ts predicate
    handles the sub-day residual inside the surviving partitions.

    Timezone contract: `date_col` must have been derived from `ts_col` in
    the SESSION timezone (to_date(timestamp_seconds(ts)) under the same
    spark.sql.session.timeZone) — the cutoff date is computed the same way
    here, so a lake partitioned under a DIFFERENT timezone could place rows
    with ts > cutoff in a pruned-away date directory near midnight. The
    one-day slack keeps the prune safe against any fixed-offset skew (the
    ts predicate still removes the residual rows)."""
    cutoff_date = F.date_sub(
        F.to_date(F.timestamp_seconds(F.lit(float(cutoff_epoch)))), 1
    )
    return df.filter(
        (F.col(date_col) >= cutoff_date)
        & (F.col(ts_col).cast("double") > F.lit(float(cutoff_epoch)))
    )


def stream_dedup(
    stream: DataFrame, key_cols: list[str], event_time_col: str, delay: str = "12 hours"
) -> DataFrame:
    """A1 as a stream: exactly-once per key within the watermark horizon.
    State size is bounded by `delay` — the property that lets this run
    forever on an unbounded 100 TB/day feed."""
    return stream.withWatermark(event_time_col, delay).dropDuplicates(
        key_cols + [event_time_col]
    )


def stateful_running_totals(stream: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: a
    per-key running (count, sum) that survives across micro-batches — the
    escape hatch for operators Structured Streaming's built-ins can't
    express (SURVEY.md §2.9 maps the reference's batch dedup to built-ins;
    this is the template for anything beyond them). State is a compact
    (count, total) pair per key, Arrow-batched on both sides."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            count += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((count, total))
        yield pd.DataFrame({"key": [key[0]], "n": [count], "total": [total]})

    renamed = stream.select(F.col(key_col).alias("key"), F.col(value_col).alias(value_col))
    return (
        renamed.groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType="key string, n long, total double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def foreach_batch_latest_wins_overwrite(
    table: VersionedTable, version_col: str, key_cols: list[str] | None = None
):
    """S5 as a stream sink: each micro-batch merges with the current table
    state, latest-wins dedups, and publishes one new atomic version.
    Usage: stream.writeStream.foreachBatch(foreach_batch_latest_wins_overwrite(t, 'ts'))."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            current = table.read(spark)
            merged = current.unionByName(batch_df, allowMissingColumns=True)
        except FileNotFoundError:
            merged = batch_df
        deduped = windows.latest_wins(merged, version_col, key_cols=key_cols)
        table.overwrite(deduped)

    return apply
