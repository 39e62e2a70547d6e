"""Versioned parquet sinks — the reference's sink surface (S4-S9,
SURVEY.md §2.1) re-expressed as table versions instead of SQL snapshots.

The reference hand-rolls atomicity against Postgres: CTAS backup ->
TRUNCATE -> row-wise INSERT -> verification read -> restore-from-backup on
failure, keep newest 3 backups (reference etl/loader.py:159-348). Here all
of that is ONE manifest log, `_VersionLog`, shared by both sinks: every
write lands in a fresh `_s{n}` segment directory, and a version is a
manifest entry naming the segments it reads. The manifest is replaced
atomically (os.replace) only after the write fully succeeds, `restore` is
a verified pointer flip to an older entry, and retention vacuums the
segments no retained entry references. Delta Lake provides exactly this
on a real lake; this implementation is dependency-free (Delta is not
installed here) with the same operator surface.

The two sinks differ only in the file set a version entry holds:
`VersionedTable` lists segments (`segments`), `PartitionedVersionedTable`
maps partition value -> segments (`parts`, plus the version's schema).

`VersionedTable.merge_upsert` is merge-on-read, O(delta) in reads and
writes: it writes the update rows once as a new segment `u` and records
`[u, keys]` in the entry's `upserts`. That segment is its own
equality-delete set (Delta's deletion vectors, keyed instead of
positional): a read of the version hides every row of an older segment
whose keys equal a key of `u`, at the cost of one broadcast anti-join per
distinct key list until `compact` folds the upserts away. A version
without upserts reads through a plain scan.

Single-writer semantics (matching the reference's advisory-lock discipline,
etl/loader.py:169-174).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class _VersionLog:
    """The manifest log: commit, history, restore and retention over
    `_s{n}` segment directories. A subclass names its version entry's
    file-set key (`_FILESET`), lists the segment ids an entry references
    (`_segments`), and provides `read(spark, version)`."""

    MAX_VERSIONS = 3  # reference MAX_BACKUPS = 3 (etl/loader.py:324)
    _FILESET: str

    def __init__(self, path: str, max_versions: int | None = None):
        self.path = path
        self.max_versions = max_versions or self.MAX_VERSIONS
        os.makedirs(path, exist_ok=True)

    # ---------------- manifest -------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_manifest.json")

    def _read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"current": None, "next_id": 0, "next_seg": 0, "versions": []}
        with open(self._manifest_path) as f:
            m = json.load(f)
        legacy = [e["id"] for e in m.get("versions", []) if self._FILESET not in e]
        if legacy:
            # the pre-segment per-version layout (_v{N} dirs), or the other
            # sink's manifest: refuse loudly instead of a bare KeyError
            # deep in read()
            raise ValueError(
                f"{self.path}: manifest versions {legacy} use the legacy "
                f"per-version layout or another sink's (no '{self._FILESET}'). "
                "Re-materialize the table by reading its parquet directly and "
                f"overwrite() into a fresh {type(self).__name__}."
            )
        return m

    def _write_manifest(self, manifest: dict) -> None:
        # atomic pointer flip: the table's "current" version changes only
        # when this replace succeeds (the reference needs backup+TRUNCATE+
        # restore to approximate this)
        fd, tmp = tempfile.mkstemp(dir=self.path, prefix="_manifest", suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path)

    def _sdir(self, segment: int) -> str:
        return os.path.join(self.path, f"_s{segment}")

    def _entry(self, m: dict, version: int | None = None) -> dict:
        """The manifest entry of `version` (default: current)."""
        v = m["current"] if version is None else version
        if v is None:
            raise FileNotFoundError(f"{self.path}: empty table")
        for e in m["versions"]:
            if e["id"] == v:
                return e
        raise FileNotFoundError(f"{self.path}: version {v} vacuumed or unknown")

    def _commit(self, m: dict, op: str, **fileset) -> int:
        """Publish one version: append its entry, flip the pointer, then
        vacuum (write -> pointer flip -> vacuum)."""
        v = m["next_id"]
        m["versions"].append({"id": v, "ts": time.time(), "op": op, **fileset})
        m["current"] = v
        m["next_id"] = v + 1
        self._write_manifest(m)
        self._vacuum(m)
        return v

    # ---------------- history / restore / retention ----------------------
    def history(self) -> list[dict]:
        """S6/DESCRIBE HISTORY — retained versions, newest first."""
        return sorted(self._read_manifest()["versions"], key=lambda e: -e["id"])

    def restore(self, spark: SparkSession, version: int | None = None) -> int:
        """S7 restore-from-backup: flip the pointer to `version` (default:
        newest version before current — the reference's 'latest backup').
        Verifies the restored version is readable and row-counted, the
        reference's count check (etl/loader.py:290-298)."""
        m = self._read_manifest()
        if version is None:
            older = [e["id"] for e in m["versions"] if e["id"] < (m["current"] or 0)]
            if not older:
                raise FileNotFoundError(f"{self.path}: no prior version to restore")
            version = max(older)
        self._entry(m, version)  # raises if vacuumed
        # verification read BEFORE the pointer flip (S7) — a plain
        # statement, not an assert, so `python -O` cannot strip the read
        self.read(spark, version).count()
        m["current"] = version
        self._write_manifest(m)
        return version

    def _vacuum(self, m: dict) -> None:
        """S8 retention: keep the newest `max_versions` versions (and never
        drop current); vacuum segment directories no retained version
        references (a segment shared by a retained and a dropped version
        survives — this is what makes O(delta) appends safe to vacuum)."""
        keep = {e["id"] for e in sorted(m["versions"], key=lambda e: -e["id"])[: self.max_versions]}
        keep.add(m["current"])
        dropped = [e for e in m["versions"] if e["id"] not in keep]
        if not dropped:
            return
        kept_entries = [e for e in m["versions"] if e["id"] in keep]
        referenced = {s for e in kept_entries for s in self._segments(e)}
        for e in dropped:
            for s in self._segments(e):
                if s not in referenced:
                    shutil.rmtree(self._sdir(s), ignore_errors=True)
        m["versions"] = kept_entries
        self._write_manifest(m)


class VersionedTable(_VersionLog):
    """Each version entry lists the segments its rows live in; a version
    published by `merge_upsert` (or an append after one) also lists its
    `upserts`, `[segment, keys]` pairs that mask older segments' rows."""

    _FILESET = "segments"
    # the segment id of a scanned row: the `_s{n}` parent directory of its
    # file, anchored so a `_s<n>` elsewhere in the table path cannot match
    _SEG_OF_FILE = r"/_s(\d+)/[^/]+$"

    @staticmethod
    def _segments(entry: dict) -> list[int]:
        return entry["segments"]

    # ---------------- write paths ----------------------------------------
    def _write_segment(self, df: DataFrame, m: dict) -> int:
        seg = m.get("next_seg", 0)
        df.write.mode("overwrite").parquet(self._sdir(seg))
        m["next_seg"] = seg + 1
        return seg

    def overwrite(self, df: DataFrame) -> int:
        """S5 truncate-and-load: full refresh as a new version. On ANY write
        failure the pointer never moves — the reference's restore-on-failure
        path (etl/loader.py:233-238) is unnecessary by construction."""
        m = self._read_manifest()
        return self._commit(m, "overwrite", segments=[self._write_segment(df, m)])

    def append(self, df: DataFrame) -> int:
        """S4 batch insert, O(delta) not O(table): ONLY the appended rows are
        written (a fresh segment directory); the new version's manifest entry
        references the previous version's segments plus the new one —
        Delta-style copy-on-write at the FILE-SET level, so appending N rows
        to a 100 TB table costs N rows of IO, not a full rewrite. The
        previous version's upserts carry over; they never mask the new
        segment, whose id is greater than theirs."""
        m = self._read_manifest()
        seg = self._write_segment(df, m)
        prev = {} if m["current"] is None else self._entry(m)
        upserts = prev.get("upserts")
        return self._commit(
            m, "append", segments=[*prev.get("segments", []), seg],
            **({"upserts": upserts} if upserts else {}),
        )

    def compact(self, spark: SparkSession, target_partitions: int | None = None) -> int:
        """OPTIMIZE / small-file compaction: after many O(delta) appends and
        merges the current version references many small segments and
        upserts; rewrite its visible rows into one bin-packed segment and
        publish that as a new version without upserts, so later reads are
        plain scans again. Older versions keep referencing the original
        segments (time travel intact) until retention vacuums them. This
        rewrite is table-wide, O(table); PartitionedVersionedTable has no
        compact because its merge_upsert and delete_keys already leave each
        partition they touch in one segment."""
        df = self.read(spark)
        if target_partitions is not None:
            df = df.coalesce(target_partitions)
        m = self._read_manifest()
        return self._commit(m, "compact", segments=[self._write_segment(df, m)])

    def merge_upsert(
        self, spark: SparkSession, updates: DataFrame, keys: list[str]
    ) -> int:
        """MERGE INTO semantics (Delta's upsert, the idiomatic form of the
        reference's delete-then-insert refresh): rows matching `keys` are
        replaced by the update, unmatched updates are inserted, everything
        else is carried over. Publishes ONE new version atomically.

        Merge-on-read, O(delta) in reads and writes: `updates` is evaluated
        and written once, as a new segment `u`; the new version lists the
        previous segments plus `u` and records `[u, keys]` in `upserts`.
        Reads of that version hide each older-segment row whose `keys`
        equal (plain equality: a NULL key part never matches) a key of the
        rows `u` holds, so the retired keys are always those of the rows
        actually written. Each read pays one broadcast anti-join per
        distinct key list until `compact` folds the upserts away."""
        m = self._read_manifest()
        if m["current"] is None:
            return self.overwrite(updates)
        updates.select(*keys)  # a missing key column fails here, before any write
        prev = self._entry(m)
        seg = self._write_segment(updates, m)
        return self._commit(
            m, "merge", segments=[*prev["segments"], seg],
            upserts=[*prev.get("upserts", []), [seg, list(keys)]],
        )

    def delete_where(self, spark: SparkSession, condition) -> int:
        """Targeted row deletion (GDPR / right-to-be-forgotten): publishes a
        new version containing only the survivors. On the unpartitioned
        table this is an O(table) rewrite — the honest copy-on-write cost;
        PartitionedVersionedTable.delete_keys restricts it to affected
        partitions. Pre-delete versions remain restorable until retention
        vacuums them (the compliance window is `max_versions` deep —
        tighten retention when deletion must become durable)."""
        survivors = self.read(spark).filter(~condition)
        return self.overwrite(survivors)

    # ---------------- read / verification --------------------------------
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        entry = self._entry(self._read_manifest(), version)
        # mergeSchema: appended segments may carry evolved schemas (the old
        # unionByName(allowMissingColumns=True) semantics, now at scan time)
        df = spark.read.option("mergeSchema", "true").parquet(
            *[self._sdir(s) for s in entry["segments"]]
        )
        upserts = entry.get("upserts")
        return self._mask(df, upserts) if upserts else df

    def _mask(self, df: DataFrame, upserts: list[list]) -> DataFrame:
        """Hide the rows the upserts retire. The key sets come from the same
        scan filtered to their segments (a second read would infer the
        schema again); one broadcast left_anti join per distinct key list,
        each retiring only rows of segments older than the upsert's."""
        path = df.metadataColumn("_metadata").getField("file_path")
        scan = df.withColumn("__seg", F.regexp_extract(path, self._SEG_OF_FILE, 1).cast("int"))
        by_keys: dict[tuple[str, ...], list[int]] = {}
        for seg, keys in upserts:
            by_keys.setdefault(tuple(keys), []).append(seg)
        df = scan
        for keys, segs in by_keys.items():
            # from the unmasked scan: an upsert retires keys of all the rows
            # it wrote, also those a later upsert hides
            dels = scan.filter(F.col("__seg").isin(segs)).select(
                *[F.col(k).alias(f"__k{i}") for i, k in enumerate(keys)],
                F.col("__seg").alias("__u"),
            )
            cond = F.col("__seg") < F.col("__u")
            for i, k in enumerate(keys):
                cond = cond & (F.col(k) == F.col(f"__k{i}"))
            df = df.join(F.broadcast(dels), cond, "left_anti")
        return df.drop("__seg")

    def verify_write(self, spark: SparkSession, predicates: dict[str, object]) -> bool:
        """S9 post-write verification read: point query on equality
        predicates, >= 1 row expected (reference etl/loader.py:68-89)."""
        df = self.read(spark)
        cond = F.lit(True)
        for c, v in predicates.items():
            cond = cond & (F.col(c).eqNullSafe(F.lit(v)))
        return df.filter(cond).limit(1).count() > 0


class PartitionedVersionedTable(_VersionLog):
    """VersionedTable with PARTITION-LEVEL copy-on-write — the shape that
    makes MERGE O(affected partitions) instead of O(table) at 100 TB.

    Each version's manifest maps partition value -> list of segment ids;
    a segment is one hive-layout write (`_s{n}/<col>=<value>/...`). An
    append adds per-partition references for only the partitions present
    in the delta; a merge rewrites ONLY the partitions the update batch
    touches and carries every other partition's references over untouched
    (zero IO — machine-checked in tests/test_sinks.py). This is the
    deletion-vector-free equivalent of Delta/Hudi partition-scoped
    merge-on-write, same discipline as the reference's per-table refresh
    (etl/loader.py:197-238) applied per partition.

    Partition values round-trip as STRINGS (hive directory semantics
    without type inference) — cast on read if a typed column is needed.
    """

    _FILESET = "parts"

    def __init__(self, path: str, partition_col: str, max_versions: int | None = None):
        super().__init__(path, max_versions)
        self.partition_col = partition_col

    @staticmethod
    def _segments(entry: dict) -> list[int]:
        return [s for segs in entry["parts"].values() for s in segs]

    # -- write paths -------------------------------------------------------
    def _write_segment(self, df: DataFrame, m: dict) -> tuple[int, list[str]]:
        seg = m.get("next_seg", 0)
        df.write.mode("overwrite").partitionBy(self.partition_col).parquet(
            self._sdir(seg)
        )
        # persist the table schema in the manifest (Delta-log style) so a
        # version with ZERO partitions — every row deleted, or an empty
        # load — still reads back as a TYPED empty frame (r12 audit). Each
        # commit pins m["schema"] into its entry, so every version records
        # the schema in force when it was published — merge_upsert with
        # allowMissingColumns=True may evolve it between versions, and
        # read(version=old) must type its empty-frame path with THAT
        # version's schema, not the latest write's (ADVICE r12)
        m["schema"] = df.schema.json()
        m["next_seg"] = seg + 1
        prefix = f"{self.partition_col}="
        parts = [
            d[len(prefix):]
            for d in os.listdir(self._sdir(seg))
            if d.startswith(prefix)
        ]
        return seg, parts

    def overwrite(self, df: DataFrame) -> int:
        m = self._read_manifest()
        seg, parts = self._write_segment(df, m)
        return self._commit(
            m, "overwrite", parts={p: [seg] for p in parts}, schema=m.get("schema")
        )

    def append(self, df: DataFrame) -> int:
        """O(delta): writes only the new rows; partitions absent from the
        delta keep their previous segment references verbatim."""
        m = self._read_manifest()
        seg, parts = self._write_segment(df, m)
        merged: dict[str, list[int]] = {}
        if m["current"] is not None:
            merged = {k: list(v) for k, v in self._entry(m)["parts"].items()}
        for p in parts:
            merged.setdefault(p, []).append(seg)
        return self._commit(m, "append", parts=merged, schema=m.get("schema"))

    def _touched(
        self, spark: SparkSession, m: dict, feed: DataFrame
    ) -> tuple[DataFrame, dict[str, list[int]], DataFrame | None]:
        """The prologue merge_upsert and delete_keys share. Returns the
        feed pinned to ONE evaluation, the current version's references
        for the partitions the feed does not name (carried over with zero
        IO), and the current rows of the partitions it does name (None
        when the current version holds none of them).

        The pin matters because the feed may be nondeterministic
        (dropDuplicates, sample, shuffle-order-dependent picks) and is read
        more than once — the partition collect, the anti-join, and for a
        merge the written union. Unpinned, those reads can see DIFFERENT
        rows and commit an inconsistent version (e.g. retiring a key in one
        partition while writing it into another). localCheckpoint is
        O(delta), which both callers already are. The partition list is a
        bounded collect (distinct partition values of the feed —
        partition-count scale, never row scale)."""
        prev = self._entry(m)["parts"]
        feed = feed.localCheckpoint(eager=True)
        pc = self.partition_col
        named = {str(r[pc]) for r in feed.select(F.col(pc).cast("string")).distinct().collect()}
        carried = {k: list(v) for k, v in prev.items() if k not in named}
        touched = {p: prev[p] for p in named if p in prev}
        return feed, carried, self._read_parts(spark, touched) if touched else None

    def merge_upsert(self, spark: SparkSession, updates: DataFrame, keys: list[str]) -> int:
        """MERGE that rewrites ONLY the partitions present in `updates`;
        untouched partitions: zero IO, references carried over.

        CONTRACT — merge identity is `keys` WITHIN a partition: the
        anti-join that retires old rows runs only over the partitions the
        delta touches. A key whose partition value CHANGES between the
        stored row and the update is an insert into the new partition; the
        stored row in the old partition is untouched (it is not read).
        Callers whose partition column is not functionally determined by
        the merge keys must either include the partition column in `keys`
        and treat moves as insert+explicit-delete, or use `overwrite`.
        This is the standard partition-scoped copy-on-write trade: exact
        cross-partition retirement would require scanning every partition
        of the table on every merge, which is precisely what this sink
        exists to avoid at 100 TB."""
        m = self._read_manifest()
        if m["current"] is None:
            return self.overwrite(updates)
        updates, new_parts, current_slice = self._touched(spark, m, updates)
        merged_rows = updates
        if current_slice is not None:
            kept = current_slice.join(updates.select(*keys).distinct(), keys, "left_anti")
            merged_rows = kept.unionByName(updates, allowMissingColumns=True)
        seg, written_parts = self._write_segment(merged_rows, m)
        for p in written_parts:
            new_parts[p] = [seg]
        return self._commit(m, "merge", parts=new_parts, schema=m.get("schema"))

    def delete_keys(self, spark: SparkSession, deletes: DataFrame, keys: list[str]) -> int:
        """Targeted deletion (GDPR / right-to-be-forgotten) with
        partition-level copy-on-write: rewrites ONLY the partitions the
        delete feed names, carrying every other partition's references
        over untouched (zero IO), and publishes one new version.

        CONTRACT — `deletes` must carry the partition column (CDC delete
        feeds do): exactly the (key, partition) pairs in the feed are
        retired; the same key's rows in partitions the feed does not name
        are untouched — the same partition-scoped discipline as
        merge_upsert, and the property that keeps a delete O(affected
        partitions) at 100 TB. A partition whose every row is deleted
        disappears from the new version (its directory simply is not
        rewritten). Pre-delete versions remain restorable until retention
        vacuums them; tighten `max_versions` when deletion must become
        durable."""
        m = self._read_manifest()
        deletes, new_parts, current_slice = self._touched(spark, m, deletes)
        if current_slice is not None:
            pc = self.partition_col
            join_cols = list(keys) if pc in keys else [*keys, pc]
            pairs = deletes.select(
                *[F.col(k) for k in keys if k != pc],
                F.col(pc).cast("string").alias(pc),
            ).distinct()
            kept = current_slice.join(pairs, join_cols, "left_anti")
            seg, written_parts = self._write_segment(kept, m)
            for p in written_parts:
                new_parts[p] = [seg]
        return self._commit(m, "delete", parts=new_parts, schema=m.get("schema"))

    # -- read ------------------------------------------------------------
    def _read_parts(self, spark: SparkSession, parts: dict[str, list[int]]) -> DataFrame:
        pc = self.partition_col
        out: DataFrame | None = None
        for val, segs in sorted(parts.items()):
            paths = [os.path.join(self._sdir(s), f"{pc}={val}") for s in segs]
            piece = (
                spark.read.option("mergeSchema", "true")
                .parquet(*paths)
                .withColumn(pc, F.lit(val))
            )
            out = piece if out is None else out.unionByName(piece, allowMissingColumns=True)
        if out is None:
            raise FileNotFoundError(f"{self.path}: no partitions to read")
        return out

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        partitions: list[str] | None = None,
    ) -> DataFrame:
        """`partitions` prunes at the MANIFEST level: only the requested
        partitions' files are ever listed or opened.

        Empty-result contract: a version with ZERO live partitions (every
        row deleted, or an empty load), and equally a `partitions` filter
        that matches none of the version's live partitions, returns a TYPED
        empty DataFrame — partition pruning to nothing is an ordinary empty
        result, not an error. The schema comes from the requested version's
        manifest entry (pinned at commit time, so schema evolution between
        versions reads back faithfully); table-level schema is the fallback
        for pre-r13 manifests. FileNotFoundError is reserved for a table
        with no versions at all or a vacuumed/unknown version id."""
        m = self._read_manifest()
        entry = self._entry(m, version)
        parts = entry["parts"]
        if partitions is not None:
            parts = {p: parts[p] for p in partitions if p in parts}
        schema_json = entry.get("schema") or m.get("schema")
        if not parts and schema_json:
            # zero live partitions (all deleted / empty load / pruned to
            # nothing): a typed empty frame, not FileNotFoundError
            from pyspark.sql.types import StringType, StructField, StructType

            stored = StructType.fromJson(json.loads(schema_json))
            # partition values round-trip as strings (class contract)
            schema = StructType(
                [
                    StructField(f.name, StringType(), True)
                    if f.name == self.partition_col
                    else f
                    for f in stored.fields
                ]
            )
            return spark.createDataFrame([], schema)
        return self._read_parts(spark, parts)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Date/key-partitioned lake layout (hive-style directories). This is
    what turns the reference's 12h-lookback predicate (S3) into a partition
    PRUNE at 100 TB: a filter on the partition column skips directories
    entirely (PartitionFilters in the scan, verified in tests) instead of
    reading and discarding rows."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """S11 — the reference's declared-but-unimplemented CSV sink
    (etl/extractor.py:29, SURVEY.md Q8)."""
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)
