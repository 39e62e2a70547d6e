"""Streaming-surface tests: a real Structured Streaming job (file source,
availableNow trigger) through stream_dedup into the latest-wins versioned
sink, plus the batch incremental-lookback operator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from domanda_etl_spark.sinks import VersionedTable
from domanda_etl_spark.streaming import (
    foreach_batch_latest_wins_overwrite,
    incremental_lookback,
    stream_dedup,
)
from domanda_etl_spark.streaming.incremental import stateful_running_totals


def test_incremental_lookback(spark):
    df = spark.createDataFrame(
        [(1, "1700000100"), (2, "1699990000"), (3, "1700000200")], "id int, crawl_time string"
    )
    out = incremental_lookback(df, "crawl_time", 1_700_000_000)
    assert sorted(r["id"] for r in out.collect()) == [1, 3]


@pytest.mark.slow
def test_stream_windowed_aggregation(spark, tmp_path):
    """Tumbling-window counts with a watermark — the streaming form of the
    warehouse's time-bucketed rollups (late rows beyond the watermark drop)."""
    src = tmp_path / "win_src"
    src.mkdir()
    spark.createDataFrame(
        [("2024-01-01 10:05:00", "a", 1.0),
         ("2024-01-01 10:20:00", "a", 2.0),
         ("2024-01-01 10:40:00", "b", 3.0),
         ("2024-01-01 11:10:00", "a", 4.0)],
        "ts string, k string, v double",
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))

    stream = (
        spark.readStream.schema("ts string, k string, v double")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 minutes").alias("w"), F.col("k"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # keyed by the window start's HH:mm in the session time zone: a
    # minute-only key maps 10:00 and 11:00 to the same entry
    rows = {
        (r["start"], r["k"]): (r["n"], r["total"])
        for r in spark.sql(
            "SELECT date_format(w.start, 'HH:mm') AS start, k, n, total FROM win_agg"
        ).collect()
    }
    assert rows[("10:00", "a")] == (2, 3.0)
    assert rows[("10:30", "b")] == (1, 3.0)
    assert rows[("11:00", "a")] == (1, 4.0)
    assert ("10:00", "b") not in rows


@pytest.mark.slow
def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState keeps per-key state across micro-batches."""
    src = tmp_path / "state_src"
    src.mkdir()
    spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)], "k string, v double"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))
    spark.createDataFrame([("a", 4.0)], "k string, v double").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "b2"))

    # maxFilesPerTrigger=1 -> multiple micro-batches within one query;
    # the per-key state must accumulate across them, not reset
    stream = (
        spark.readStream.schema("k string, v double")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        stateful_running_totals(stream, "k", "v")
        .writeStream.format("memory").queryName("state_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "state_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    best = {}
    for r in spark.sql("SELECT * FROM state_totals").collect():
        if r["key"] not in best or r["n"] > best[r["key"]][0]:
            best[r["key"]] = (r["n"], r["total"])
    assert best["a"] == (3, 7.0)  # 2 rows from one micro-batch + 1 from the other
    assert best["b"] == (1, 10.0)


@pytest.mark.slow
def test_stream_dedup_latest_wins_sink(spark, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    # two files = two micro-batches; duplicate keys within and across
    spark.createDataFrame(
        [(1, "a", "2024-01-01 10:00:00", 100.0),
         (1, "a", "2024-01-01 10:00:00", 100.0),   # exact dup -> stream_dedup
         (2, "b", "2024-01-01 11:00:00", 50.0)],
        "key int, name string, ts string, value double",
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "batch1"))
    spark.createDataFrame(
        [(1, "a", "2024-01-01 12:00:00", 999.0),   # newer version of key 1
         (3, "c", "2024-01-01 12:30:00", 75.0)],
        "key int, name string, ts string, value double",
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "batch2"))

    table = VersionedTable(str(tmp_path / "sink"))
    stream = (
        spark.readStream.schema("key int, name string, ts string, value double")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    deduped = stream_dedup(stream, ["key", "name"], "ts", delay="1 hour")
    q = (
        deduped.writeStream.foreachBatch(
            foreach_batch_latest_wins_overwrite(table, "ts", key_cols=["key"])
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {r["key"]: r for r in table.read(spark).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["value"] == 999.0  # latest ts won across micro-batches
