"""Versioned-sink tests: overwrite/append/history/restore/retention/verify
(S4-S9) plus the CSV sink (S11)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from domanda_etl_spark.sinks import VersionedTable, write_csv


@pytest.fixture
def table(tmp_path):
    return VersionedTable(str(tmp_path / "t"))


def df_of(spark, *vals):
    return spark.createDataFrame([(v, f"name{v}") for v in vals], "id int, name string")


def test_overwrite_and_read(spark, table):
    table.overwrite(df_of(spark, 1, 2, 3))
    assert table.read(spark).count() == 3
    table.overwrite(df_of(spark, 9))
    assert table.read(spark).count() == 1


def test_append(spark, table):
    table.overwrite(df_of(spark, 1))
    table.append(df_of(spark, 2, 3))
    assert sorted(r["id"] for r in table.read(spark).collect()) == [1, 2, 3]


def test_append_is_o_delta(spark, table, tmp_path):
    """Appending N rows writes ONLY N rows' worth of files: the base
    segment's parquet files are untouched (same bytes/mtime) and the new
    segment holds exactly the delta."""
    import os

    table.overwrite(df_of(spark, *range(100)))
    base_dir = table._sdir(0)
    before = {
        f: os.path.getmtime(os.path.join(base_dir, f))
        for f in os.listdir(base_dir)
        if f.endswith(".parquet")
    }
    table.append(df_of(spark, 100, 101))
    after = {
        f: os.path.getmtime(os.path.join(base_dir, f))
        for f in os.listdir(base_dir)
        if f.endswith(".parquet")
    }
    assert before == after, "append rewrote base-segment files (O(table) append)"
    assert spark.read.parquet(table._sdir(1)).count() == 2
    assert table.read(spark).count() == 102


def test_append_schema_evolution(spark, table):
    table.overwrite(df_of(spark, 1))
    evolved = spark.createDataFrame([(2, "name2", "x")], "id int, name string, extra string")
    table.append(evolved)
    rows = {(r["id"], r["extra"]) for r in table.read(spark).collect()}
    assert rows == {(1, None), (2, "x")}


def test_retention_vacuums_unreferenced_segments_only(spark, table):
    """A base segment shared by retained append-versions must survive
    retention; segments only dropped versions reference are vacuumed."""
    import os

    table.overwrite(df_of(spark, 1))          # v0 = [s0]
    for i in range(4):                        # v1..v4 = [s0, s1..]
        table.append(df_of(spark, 10 + i))
    assert [e["id"] for e in table.history()] == [4, 3, 2]
    assert os.path.exists(table._sdir(0)), "shared base segment was vacuumed"
    assert table.read(spark).count() == 5


def test_restore_latest_backup(spark, table):
    table.overwrite(df_of(spark, 1, 2))
    table.overwrite(df_of(spark, 9))
    restored = table.restore(spark)
    assert restored == 0
    assert sorted(r["id"] for r in table.read(spark).collect()) == [1, 2]
    # time travel read of the newer version still works
    assert table.read(spark, version=1).count() == 1


def test_retention_keeps_newest_three(spark, table):
    for i in range(5):
        table.overwrite(df_of(spark, i))
    hist = table.history()
    assert [e["id"] for e in hist] == [4, 3, 2]
    with pytest.raises(FileNotFoundError):
        table.read(spark, version=0)


def test_verify_write(spark, table):
    table.overwrite(df_of(spark, 1, 2))
    assert table.verify_write(spark, {"id": 2, "name": "name2"})
    assert not table.verify_write(spark, {"id": 2, "name": "nope"})


def test_failed_write_leaves_pointer(spark, table, tmp_path):
    table.overwrite(df_of(spark, 1, 2))
    bad = df_of(spark, 3).withColumn("boom", F.expr("raise_error('write fails')"))
    with pytest.raises(Exception):
        table.overwrite(bad)
    # pointer untouched -> readers still see version 0 (the reference needs
    # an explicit restore-from-backup to get this guarantee)
    assert sorted(r["id"] for r in table.read(spark).collect()) == [1, 2]


def test_csv_sink(spark, tmp_path):
    p = str(tmp_path / "out_csv")
    write_csv(df_of(spark, 1, 2), p)
    back = spark.read.option("header", "true").csv(p)
    assert back.count() == 2


def test_jdbc_round_trip_append_and_truncate_overwrite(spark, tmp_path):
    """Real JDBC round trip against the Derby driver Spark ships: S4 append
    accumulates, S5 overwrite truncate-and-loads, S9 read verifies."""
    from domanda_etl_spark.sinks import read_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/jdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    write_jdbc(df_of(spark, 1, 2), url, "t", mode="append", properties=props)
    write_jdbc(df_of(spark, 3), url, "t", mode="append", properties=props,
               num_partitions=1)
    back = read_jdbc(spark, url, "t", properties=props)
    assert sorted(r["id"] for r in back.collect()) == [1, 2, 3]
    write_jdbc(df_of(spark, 9), url, "t", mode="overwrite", properties=props)
    assert [r["id"] for r in read_jdbc(spark, url, "t", properties=props).collect()] == [9]


def test_merge_upsert(spark, table):
    table.overwrite(df_of(spark, 1, 2, 3))
    updates = spark.createDataFrame(
        [(2, "UPDATED"), (9, "name9")], "id int, name string"
    )
    v = table.merge_upsert(spark, updates, ["id"])
    rows = {(r["id"], r["name"]) for r in table.read(spark).collect()}
    assert rows == {(1, "name1"), (2, "UPDATED"), (3, "name3"), (9, "name9")}
    assert v == 1
    # merge into an empty table degrades to overwrite
    from domanda_etl_spark.sinks import VersionedTable
    import tempfile

    t2 = VersionedTable(tempfile.mkdtemp())
    t2.merge_upsert(spark, updates, ["id"])
    assert t2.read(spark).count() == 2


def test_merge_is_o_delta(spark, table):
    """A merge writes ONLY the update rows: the base segment's files are
    untouched, the new segment holds exactly the updates, and the merge
    commits without reading the base segment at all."""
    import os

    table.overwrite(df_of(spark, *range(100)))
    base_dir = table._sdir(0)
    files = sorted(f for f in os.listdir(base_dir) if f.endswith(".parquet"))
    before = {f: os.path.getmtime(os.path.join(base_dir, f)) for f in files}
    updates = spark.createDataFrame([(5, "UPDATED"), (100, "name100")], "id int, name string")
    table.merge_upsert(spark, updates, ["id"])
    after = {f: os.path.getmtime(os.path.join(base_dir, f)) for f in files}
    assert before == after, "merge rewrote base-segment files (O(table) merge)"
    written = {(r["id"], r["name"]) for r in spark.read.parquet(table._sdir(1)).collect()}
    assert written == {(5, "UPDATED"), (100, "name100")}
    assert table.read(spark).count() == 101
    # a merge never reads the table: it commits with the base unreadable
    for f in files:
        with open(os.path.join(base_dir, f), "wb") as fh:
            fh.write(b"not parquet")
    v = table.merge_upsert(spark, df_of(spark, 7), ["id"])
    assert table._read_manifest()["current"] == v == 2


def cow_merge(live: list[dict], updates: list[dict], keys: list[str]) -> list[dict]:
    """The copy-on-write MERGE reference: left_anti on `keys` by plain
    equality (a NULL key part, or a key column the row lacks, never
    matches), then every update row, duplicates included."""
    hit = {
        tuple(r[k] for k in keys)
        for r in updates
        if all(r.get(k) is not None for k in keys)
    }
    return [r for r in live if tuple(r.get(k) for k in keys) not in hit] + list(updates)


def rows_of(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def model_rows(model: list[dict], columns: list[str]) -> list[tuple]:
    return sorted((tuple(r.get(c) for c in columns) for r in model), key=repr)


def test_merge_matches_copy_on_write_model(spark, tmp_path):
    """Merge-on-read returns the copy-on-write rows at every version:
    duplicate update keys all survive, a NULL key never retires a row, an
    append after a merge is not masked by it but a later merge masks both,
    and old versions, restore and compact read each entry's own upserts."""
    t = VersionedTable(str(tmp_path / "cow"), max_versions=9)
    schema = "id int, name string"
    cols = ["id", "name"]

    def load(op, data, keys=None):
        df = spark.createDataFrame(data, schema)
        model = [dict(zip(cols, r)) for r in data]
        current = versions.get(t._read_manifest()["current"], [])
        if op == "overwrite":
            v, live = t.overwrite(df), model
        elif op == "append":
            v, live = t.append(df), current + model
        else:
            v, live = t.merge_upsert(spark, df, keys), cow_merge(current, model, keys)
        versions[v] = live
        assert rows_of(t.read(spark)) == model_rows(live, cols), op
        return v

    versions: dict[int, list[dict]] = {}
    v0 = load("overwrite", [(1, "a"), (2, "b"), (3, "c"), (None, "n")])
    v1 = load("merge", [(2, "B"), (2, "B2"), (None, "N"), (9, "z")], ["id"])
    load("append", [(2, "app")])
    v3 = load("merge", [(2, "M")], ["id"])
    assert rows_of(t.read(spark, v0)) == model_rows(versions[v0], cols)
    assert rows_of(t.read(spark, v1)) == model_rows(versions[v1], cols)
    t.restore(spark, v1)
    assert rows_of(t.read(spark)) == model_rows(versions[v1], cols)
    assert t.history()[0]["upserts"] == [[1, ["id"]], [3, ["id"]]]  # v3's, untouched
    assert rows_of(t.read(spark, v3)) == model_rows(versions[v3], cols)
    vc = t.compact(spark)
    entry = t._entry(t._read_manifest(), vc)
    assert len(entry["segments"]) == 1 and "upserts" not in entry
    assert rows_of(t.read(spark)) == model_rows(versions[v1], cols)


def test_merge_null_key_part_retires_nothing(spark, table):
    """Compound keys match by plain equality: a row and an update that
    share a NULL key part are both kept, as the left_anti join kept them."""
    schema, cols, keys = "id int, name string, v int", ["id", "name", "v"], ["id", "name"]
    base = [(1, None, 0), (2, "b", 0)]
    upd = [(1, None, 1), (2, "b", 1)]
    table.overwrite(spark.createDataFrame(base, schema))
    table.merge_upsert(spark, spark.createDataFrame(upd, schema), keys)
    want = cow_merge([dict(zip(cols, r)) for r in base], [dict(zip(cols, r)) for r in upd], keys)
    assert rows_of(table.read(spark)) == model_rows(want, cols)
    assert (1, None, 0) in rows_of(table.read(spark))


def test_merge_schema_evolution(spark, table):
    """An update that adds a column evolves the read schema; a key column
    the older segments lack reads as NULL there, so it retires none of
    their rows."""
    table.overwrite(df_of(spark, 1, 2))
    live = [{"id": 1, "name": "name1"}, {"id": 2, "name": "name2"}]
    schema, cols = "id int, name string, extra string", ["id", "name", "extra"]
    for data, keys in (([(2, "B", "x")], ["id"]), ([(1, "A", "y")], ["id", "extra"])):
        table.merge_upsert(spark, spark.createDataFrame(data, schema), keys)
        live = cow_merge(live, [dict(zip(cols, r)) for r in data], keys)
        got = table.read(spark)
        assert got.columns == cols
        assert rows_of(got) == model_rows(live, cols)
    assert (1, "name1", None) in rows_of(table.read(spark))
    # a key column the updates lack is refused before anything is written
    before = table._read_manifest()
    with pytest.raises(Exception, match="nope"):
        table.merge_upsert(spark, df_of(spark, 3), ["nope"])
    assert table._read_manifest() == before


def test_compact_collapses_segments(spark, table):
    import os

    table.overwrite(df_of(spark, 1))
    for i in range(3):
        table.append(df_of(spark, 10 + i))
    m = table._read_manifest()
    assert len(table._entry(m, m["current"])["segments"]) == 4
    v = table.compact(spark, target_partitions=1)
    m = table._read_manifest()
    entry = table._entry(m, v)
    assert entry["op"] == "compact" and len(entry["segments"]) == 1
    assert table.read(spark).count() == 4
    seg_dir = table._sdir(entry["segments"][0])
    n_files = len([f for f in os.listdir(seg_dir) if f.endswith(".parquet")])
    assert n_files == 1


def test_legacy_manifest_rejected_loudly(spark, tmp_path):
    """A pre-segment-layout manifest (version entries without 'segments')
    must raise a clear ValueError, not a bare KeyError deep in read()."""
    import json
    import os

    path = str(tmp_path / "legacy_table")
    os.makedirs(path)
    with open(os.path.join(path, "_manifest.json"), "w") as f:
        json.dump(
            {"current": 0, "next_id": 1, "versions": [{"id": 0, "ts": 0.0, "op": "overwrite"}]},
            f,
        )
    table = VersionedTable(path)
    with pytest.raises(ValueError, match="legacy"):
        table.read(spark)
    with pytest.raises(ValueError, match="legacy"):
        table.append(spark.range(1))


def test_manifest_entry_keys_pinned(spark, tmp_path):
    """The on-disk manifest is the sinks' contract: both write the same
    top-level keys, and a version entry carries exactly these keys in
    this order (write_amp counts the manifest bytes)."""
    import json
    import os

    from domanda_etl_spark.sinks import PartitionedVersionedTable

    flat = VersionedTable(str(tmp_path / "flat"))
    flat.overwrite(df_of(spark, 1))
    flat.append(df_of(spark, 2))
    parted = PartitionedVersionedTable(str(tmp_path / "parted"), "name")
    parted.overwrite(df_of(spark, 1))
    parted.merge_upsert(spark, df_of(spark, 2), ["id"])
    # a merge records its upserts; an append carries them, compact drops them
    merged = VersionedTable(str(tmp_path / "merged"), max_versions=4)
    merged.overwrite(df_of(spark, 1))
    merged.merge_upsert(spark, df_of(spark, 2), ["id"])
    merged.append(df_of(spark, 3))
    merged.compact(spark)
    plain, upserted = ["id", "ts", "op", "segments"], ["id", "ts", "op", "segments", "upserts"]
    parted_keys = ["id", "ts", "op", "parts", "schema"]
    for t, entry_keys in (
        (flat, [plain, plain]),
        (parted, [parted_keys, parted_keys]),
        (merged, [plain, upserted, upserted, plain]),
    ):
        with open(os.path.join(t.path, "_manifest.json")) as f:
            m = json.load(f)
        assert {"current", "next_id", "next_seg", "versions"} <= set(m)
        assert [list(e) for e in m["versions"]] == entry_keys
    ops = [(e["op"], e.get("upserts")) for e in sorted(merged.history(), key=lambda e: e["id"])]
    assert ops == [("overwrite", None), ("merge", [[1, ["id"]]]),
                   ("append", [[1, ["id"]]]), ("compact", None)]


def test_read_without_upserts_is_a_plain_scan(spark, table):
    """A version no merge published reads through a bare scan: no join and
    no `_metadata` column in its optimized plan; a merged version masks."""
    table.overwrite(df_of(spark, 1))
    v = table.append(df_of(spark, 2))
    table.merge_upsert(spark, df_of(spark, 2), ["id"])
    for version, masked in ((v, False), (None, True)):
        plan = table.read(spark, version)._jdf.queryExecution().optimizedPlan().toString()
        assert ("Join" in plan, "_metadata" in plan) == (masked, masked), plan


def test_manifest_of_the_other_sink_rejected_loudly(spark, tmp_path):
    """A manifest written by one sink and opened by the other raises the
    same 'legacy' ValueError as a pre-segment manifest, not a KeyError."""
    from domanda_etl_spark.sinks import PartitionedVersionedTable

    flat_path, parted_path = str(tmp_path / "flat"), str(tmp_path / "parted")
    VersionedTable(flat_path).overwrite(df_of(spark, 1))
    PartitionedVersionedTable(parted_path, "name").overwrite(df_of(spark, 1))
    with pytest.raises(ValueError, match="legacy"):
        PartitionedVersionedTable(flat_path, "name").read(spark)
    with pytest.raises(ValueError, match="legacy"):
        VersionedTable(parted_path).read(spark)
    with pytest.raises(ValueError, match="legacy"):
        VersionedTable(parted_path).history()


def test_read_jdbc_requires_bounds_with_partition_column(spark):
    """partition_column without explicit bounds must fail fast with a
    ValueError instead of stringifying None into Spark options."""
    from domanda_etl_spark.sinks import read_jdbc

    with pytest.raises(ValueError, match="lower_bound"):
        read_jdbc(spark, "jdbc:sqlite:none", "t", partition_column="id")


def test_partitioned_merge_rewrites_only_affected_partitions(spark, tmp_path):
    """The 100 TB MERGE posture: updates touching one partition must carry
    every other partition's segment references over VERBATIM (zero IO)."""
    from domanda_etl_spark.sinks import PartitionedVersionedTable

    t = PartitionedVersionedTable(str(tmp_path / "pt"), "day")
    base = spark.createDataFrame(
        [(i, f"d{i % 3}", float(i)) for i in range(30)], "id INT, day STRING, v DOUBLE"
    )
    t.overwrite(base)
    m0 = t._read_manifest()
    parts0 = t._entry(m0, m0["current"])["parts"]
    assert set(parts0) == {"d0", "d1", "d2"}

    updates = spark.createDataFrame(
        [(0, "d0", 100.0), (99, "d0", 99.0)], "id INT, day STRING, v DOUBLE"
    )
    t.merge_upsert(spark, updates, ["id"])
    m1 = t._read_manifest()
    parts1 = t._entry(m1, m1["current"])["parts"]
    # untouched partitions: identical references; touched: new segment
    assert parts1["d1"] == parts0["d1"] and parts1["d2"] == parts0["d2"]
    assert parts1["d0"] != parts0["d0"]
    got = {(r["id"], r["v"]) for r in t.read(spark, partitions=["d0"]).collect()}
    assert (0, 100.0) in got and (99, 99.0) in got and (3, 3.0) in got
    assert t.read(spark).count() == 31


def test_partitioned_append_restore_and_partition_pruned_read(spark, tmp_path):
    from domanda_etl_spark.sinks import PartitionedVersionedTable

    t = PartitionedVersionedTable(str(tmp_path / "pt2"), "day", max_versions=5)
    a = spark.createDataFrame([(1, "d0", 1.0)], "id INT, day STRING, v DOUBLE")
    b = spark.createDataFrame([(2, "d1", 2.0)], "id INT, day STRING, v DOUBLE")
    v0 = t.overwrite(a)
    t.append(b)
    assert t.read(spark).count() == 2
    # manifest-level prune: only d1 is listed/read
    assert [r["id"] for r in t.read(spark, partitions=["d1"]).collect()] == [2]
    t.restore(spark, v0)
    assert t.read(spark).count() == 1
    assert t.history()[0]["op"] == "append"


def test_delete_where_publishes_restorable_version(spark, table):
    """GDPR delete on the unpartitioned table: survivors only in the new
    version, the pre-delete version restorable until retention."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "id INT, v DOUBLE")
    v0 = table.overwrite(df)
    v1 = table.delete_where(spark, F.col("id") % 2 == 0)
    assert v1 > v0
    assert sorted(r["id"] for r in table.read(spark).collect()) == [1, 3, 5, 7, 9]
    table.restore(spark, v0)
    assert table.read(spark).count() == 10


def test_partitioned_delete_keys_scoped_and_zero_io(spark, tmp_path):
    """delete_keys rewrites ONLY the partitions the feed names (untouched
    references carried verbatim), retires exactly the (key, partition)
    pairs — the same key survives in a partition the feed does not name —
    and drops a partition entirely when its last row is deleted."""
    from domanda_etl_spark.sinks import PartitionedVersionedTable

    t = PartitionedVersionedTable(str(tmp_path / "ptd"), "day")
    base = spark.createDataFrame(
        [(i, f"d{i % 3}", float(i)) for i in range(30)] + [(0, "d1", 777.0)],
        "id INT, day STRING, v DOUBLE",
    )
    v0 = t.overwrite(base)
    m0 = t._read_manifest()
    parts0 = t._entry(m0, m0["current"])["parts"]

    # delete key 0 ONLY in d0; its d1 row must survive (partition-scoped)
    feed = spark.createDataFrame([(0, "d0")], "id INT, day STRING")
    t.delete_keys(spark, feed, ["id"])
    m1 = t._read_manifest()
    parts1 = t._entry(m1, m1["current"])["parts"]
    assert parts1["d1"] == parts0["d1"] and parts1["d2"] == parts0["d2"]
    ids_d0 = {r["id"] for r in t.read(spark, partitions=["d0"]).collect()}
    assert 0 not in ids_d0 and ids_d0 == {3, 6, 9, 12, 15, 18, 21, 24, 27}
    assert (0, 777.0) in {
        (r["id"], r["v"]) for r in t.read(spark, partitions=["d1"]).collect()
    }

    # delete every remaining d0 key -> the partition disappears
    feed_all = spark.createDataFrame([(i, "d0") for i in ids_d0], "id INT, day STRING")
    t.delete_keys(spark, feed_all, ["id"])
    m2 = t._read_manifest()
    assert "d0" not in t._entry(m2, m2["current"])["parts"]
    assert t.read(spark).count() == 21  # 31 - 1 - 9
    # pre-delete state restorable
    t.restore(spark, v0)
    assert t.read(spark).count() == 31

def test_partitioned_per_version_schema_pinned(spark, tmp_path):
    """ADVICE r12: the manifest pins schema PER VERSION, so after a
    merge_upsert evolves the schema, reading an OLDER version pruned to
    zero partitions types its empty frame with THAT version's schema —
    not the latest write's."""
    from domanda_etl_spark.sinks import PartitionedVersionedTable

    t = PartitionedVersionedTable(str(tmp_path / "pvs"), "day")
    v0 = t.overwrite(spark.createDataFrame([(1, "d0", 1.0)], "id INT, day STRING, v DOUBLE"))
    # schema-evolving merge adds a column
    t.merge_upsert(
        spark,
        spark.createDataFrame([(2, "d1", 2.0, "x")], "id INT, day STRING, v DOUBLE, extra STRING"),
        ["id"],
    )
    old_empty = t.read(spark, version=v0, partitions=["nonexistent"])
    assert old_empty.count() == 0
    assert old_empty.columns == ["id", "day", "v"]  # v0's schema, no `extra`
    new_empty = t.read(spark, partitions=["nonexistent"])
    assert new_empty.count() == 0
    assert "extra" in new_empty.columns  # latest version's evolved schema


def test_partitioned_prune_to_nothing_is_typed_empty(spark, tmp_path):
    """ADVICE r12 (documented contract): a `partitions` filter matching
    none of a LIVE version's partitions returns a typed empty frame —
    pruning semantics, not FileNotFoundError."""
    from domanda_etl_spark.sinks import PartitionedVersionedTable

    t = PartitionedVersionedTable(str(tmp_path / "ppn"), "day")
    t.overwrite(spark.createDataFrame([(1, "d0", 1.0)], "id INT, day STRING, v DOUBLE"))
    out = t.read(spark, partitions=["d9"])
    assert out.count() == 0 and out.columns == ["id", "day", "v"]
