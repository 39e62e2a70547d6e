"""The one read path for lake tables: `load_table` opens every table with
the schema `table_read_schema` reads from its parquet footer, so it runs
no Spark job, and returns what a plain `spark.read.parquet` (plus the
NTZ -> LTZ normalization) returns — schema, nullability and rows. Stream
sources read with the same schema, so batch and stream see one timestamp."""

from __future__ import annotations

import datetime as dt
import decimal
import os
import shutil

from pyspark.sql import functions as F

from domanda_etl_spark.sources.parquet import (
    TPCH_TABLES,
    _ntz_to_ltz,
    load_table,
    table_read_schema,
)
from tests.conftest import ORACLE_SF_DIR


def jobs_during(spark, fn):
    """(fn(), Spark jobs it ran) — the growth of the newest job id in the
    driver's status store."""
    from perfbench.meter import StatusStore

    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = StatusStore(spark)
    bus.waitUntilEmpty()
    mark = store.mark()
    out = fn()
    bus.waitUntilEmpty()
    return out, int(store.delta(mark)["jobs"])


def _spark_written(spark, base):
    """A Spark-written directory table with one column per type family,
    INT96 timestamps and a non-nullable column."""
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        spark.range(3).select(
            "id",  # non-nullable in the writer's schema
            F.timestamp_micros(F.col("id") * 3_600_000_000 + 1).alias("ts"),
            F.expr("timestamp_ntz'2024-03-10 02:30:00' + make_interval(0,0,0,0,id)").alias("ts_ntz"),
            F.lit(decimal.Decimal("12.345")).cast("decimal(12,3)").alias("amount"),
            F.array(F.col("id"), F.lit(None).cast("long")).alias("arr"),
            F.create_map(F.lit("k"), F.col("id").cast("double")).alias("m"),
            F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("st"),
            F.date_add(F.lit(dt.date(2024, 1, 31)), F.col("id").cast("int")).alias("d"),
            F.col("id").cast("string").cast("binary").alias("bin"),
        ).coalesce(2).write.parquet(os.path.join(base, "spark_written.parquet"))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    return ["spark_written"]


def test_load_table_reads_the_footer_schema(spark, tmp_path):
    from perfbench import lake

    oracle = str(tmp_path / "oracle")  # fresh paths: load_table's cache misses
    shutil.copytree(ORACLE_SF_DIR, oracle)
    flight = str(tmp_path / "flight")
    lake.generate(flight, 7, 200)
    written = str(tmp_path / "written")
    cases = [(oracle, n) for n in TPCH_TABLES]
    cases += [(flight, n) for n in sorted(lake.TABLES.values())]
    cases += [(written, n) for n in _spark_written(spark, written)]
    for base, name in cases:
        path = os.path.join(base, f"{name}.parquet")
        df, jobs = jobs_during(spark, lambda: load_table(spark, base, name))
        assert jobs == 0, (name, jobs)
        inferred = spark.read.parquet(path)
        assert table_read_schema(base, name)[0] == inferred.schema, name
        ref = _ntz_to_ltz(inferred)
        assert df.schema == ref.schema, name
        assert sorted(df.collect(), key=repr) == sorted(ref.collect(), key=repr), name


def test_batch_and_stream_schema_read_one_instant(spark, tmp_path):
    """A naive timestamp means the same instant whether the table is read
    by `load_table` or with `table_read_schema` (the file-stream sources'
    schema, cast to TIMESTAMP as they do) in a session not set to UTC."""
    shutil.copy(os.path.join(ORACLE_SF_DIR, "events.parquet"), tmp_path)
    base = str(tmp_path)
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        batch = load_table(spark, base, "events").select(
            "event_id", F.unix_micros("ts").alias("us")
        )
        schema, _ns = table_read_schema(base, "events")
        stream_shape = (
            spark.read.schema(schema)
            .parquet(os.path.join(base, "events.parquet"))
            .select("event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
        )
        assert batch.count() > 0
        assert sorted(batch.collect()) == sorted(stream_shape.collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_cached_table_follows_the_session_time_zone(spark, tmp_path):
    """A table loaded under one session time zone and read again under
    another means the instant a fresh read in the new zone means: the
    NTZ -> LTZ cast is resolved at analysis, so the cache keys on the
    zone. Switching back finds the first zone's frame still cached."""
    for d in ("cached", "fresh"):
        os.mkdir(tmp_path / d)
        shutil.copy(os.path.join(ORACLE_SF_DIR, "events.parquet"), tmp_path / d)
    cached, fresh = str(tmp_path / "cached"), str(tmp_path / "fresh")

    def instants(base):
        df = load_table(spark, base, "events")
        return sorted(df.select("event_id", F.unix_micros("ts")).collect())

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc_frame = load_table(spark, cached, "events")
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        assert instants(cached) == instants(fresh)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        assert load_table(spark, cached, "events") is utc_frame
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_tw_cache_entry_dies_with_its_frame(spark, tmp_path):
    """`_tw` caches per `load_table` frame under a weak key: the same
    frame gets the same widened frame, and once a rewrite evicts the
    frame from `load_table`'s cache, the `_tw` entry goes with it (a value
    that held its own key would pin it forever)."""
    import gc
    import weakref

    import __spark_entry__ as ent

    shutil.copy(os.path.join(ORACLE_SF_DIR, "orders.parquet"), tmp_path)
    base, path = str(tmp_path), str(tmp_path / "orders.parquet")
    wide = ent._tw(spark, base, "orders")
    assert ent._tw(spark, base, "orders") is wide
    frame = weakref.ref(load_table(spark, base, "orders"))
    assert frame() in ent._TW_CACHE
    os.utime(path, ns=(1, 1))  # a rewrite: load_table's key changes
    ent._tw(spark, base, "orders")
    del wide
    gc.collect()
    assert frame() is None
