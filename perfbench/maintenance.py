"""table_maintenance: the versioned sink's write paths beside its reads.

A seeded table in the 94-column sink schema goes through one maintenance
cycle per unit of work: overwrite with the base rows, an append of 1% new
rows, a `merge_upsert` of 5% rows by key (half updates, half inserts),
`compact`, a filtered read of each of the last 3 versions, then `restore`.

After every operation the benchmark records the row count and content
digest of the current version (for a read: of the rows it returned). At the
end these are compared with the state the benchmark tracked itself from the
generated base and deltas; the digests of the generated rows are computed
from the input files, not through the table.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from domanda_etl_spark.sinks import VersionedTable

import lake
from meter import SCOPE_UNITS, dir_files, written_since

N_ROWS = 6_000
N_APPENDS, APPEND_SHARE = 1, 0.01
N_MERGES, MERGE_SHARE = 1, 0.05
KEYS = ["departure_flight_number_1", "departure_date", "creation_time"]
READ_FILTER = "amadeus"  # reads keep rows with this gds_type
OPS = ("overwrite", "append", "merge", "compact", "read", "restore")


def _sink_type(col: str) -> pa.DataType:
    if "luggage_value" in col or col in (
            "ticket_price", "ticket_price_markup_percentage", "tax", "tax_markup_percentage",
            "final_price", "creation_time", "discount", "activity_fee_adjustment"):
        return pa.float64()
    if "flight_duration" in col or "transfer_count" in col:
        return pa.int32()
    if col.endswith("_price") or col.endswith("_tax"):
        return pa.int64()
    return pa.string()


def _rows(rng: np.random.Generator, ids: np.ndarray) -> pa.Table:
    """Sink rows for integer ids; creation_time = NOW - id makes the key
    (flight number, date, creation_time) unique per id."""
    m = len(ids)
    cols = {}
    for c in lake.OUTPUT_COLUMNS:
        t = _sink_type(c)
        if c == "creation_time":
            cols[c] = pa.array(lake.NOW_EPOCH - ids.astype(float))
        elif c.endswith("_3") or c.startswith("ezfly"):
            cols[c] = pa.nulls(m, t)  # third legs and the ezfly phantom are NULL
        elif pa.types.is_string(t):
            vocab = {"gds_type": lake.GDS, "departure_date": lake.DATES,
                     "return_date": lake.DATES}.get(c, [f"{c[:3]}{k}" for k in range(40)])
            cols[c] = pa.array(np.array(vocab, dtype=object)[rng.integers(0, len(vocab), m)], t)
        elif t == pa.float64():
            cols[c] = pa.array(np.round(rng.uniform(0, 50000, m), 2))
        else:
            cols[c] = pa.array(rng.integers(0, 50000, m), t, mask=rng.random(m) < 0.2)
    return pa.table(cols)


def generate(out_dir: str, seed: int, n: int) -> dict:
    """Write the base table and the cycle's deltas as parquet; return their
    paths, the creation_time keys of each, and the user bytes."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir)
    files: dict[str, pa.Table] = {"base": _rows(rng, np.arange(n))}
    next_id = n
    for k in range(N_APPENDS):
        m = max(1, int(n * APPEND_SHARE))
        files[f"append{k}"] = _rows(rng, np.arange(next_id, next_id + m))
        next_id += m
    for k in range(N_MERGES):
        m = max(2, int(n * MERGE_SHARE))
        upd = files["base"].take(pa.array(rng.choice(n, m // 2, replace=False)))
        price = upd.schema.get_field_index("final_price")
        upd = upd.set_column(price, "final_price", pa.compute.add(upd.column(price), 100.0 * (k + 1)))
        files[f"merge{k}"] = pa.concat_tables([upd, _rows(rng, np.arange(next_id, next_id + m - m // 2))])
        next_id += m - m // 2
    paths, keys, user_bytes = {}, {}, 0
    for tag, t in files.items():
        paths[tag] = os.path.join(out_dir, f"{tag}.parquet")
        pq.write_table(t, paths[tag])
        user_bytes += os.path.getsize(paths[tag])
        keys[tag] = t.column("creation_time").to_pylist()
    return {"paths": paths, "keys": keys, "user_bytes": user_bytes}


class TableMaintenance:
    def __init__(self, h, facts: dict):
        self.h = h
        self.facts = facts
        self.user_bytes = facts["user_bytes"]
        self.path = os.path.join(h.work, "table")
        self.table = VersionedTable(self.path)
        self.dfs = {tag: h.spark.read.parquet(p) for tag, p in facts["paths"].items()}
        self.ops = ([("overwrite", "base")] + [("append", f"append{k}") for k in range(N_APPENDS)]
                    + [("merge", f"merge{k}") for k in range(N_MERGES)] + [("compact", None)]
                    + [("read", k) for k in range(3)] + [("restore", None)])
        # tracked state: creation_time key -> the input file its live row came from
        self.state: dict[float, str] = {}
        self.versions: dict[int, dict[float, str]] = {}
        self.observed: list[tuple[str, dict[float, str], bool, tuple[int, int]]] = []
        self.op_bytes: dict[str, list[int]] = defaultdict(list)
        self.op_files: dict[str, list[int]] = defaultdict(list)

    def _run_op(self, op: str, arg):
        spark, t = self.h.spark, self.table
        if op == "overwrite":
            return t.overwrite(self.dfs[arg]), None
        if op == "append":
            return t.append(self.dfs[arg]), None
        if op == "merge":
            return t.merge_upsert(spark, self.dfs[arg], KEYS), None
        if op == "compact":
            return t.compact(spark), None
        if op == "read":
            v = t.history()[arg]["id"]
            return v, lake.content_digest(t.read(spark, v).filter(F.col("gds_type") == READ_FILTER))
        return t.restore(spark), None

    def _track(self, op: str, arg, version: int) -> None:
        keys = self.facts["keys"]
        if op == "overwrite":
            self.state = dict.fromkeys(keys[arg], arg)
        elif op in ("append", "merge"):
            self.state.update(dict.fromkeys(keys[arg], arg))
        elif op == "restore":
            self.state = dict(self.versions[version])
        if op != "read":
            self.versions[version] = dict(self.state)

    def unit(self) -> tuple[float, int]:
        """One maintenance cycle; returns its time, operations only, and the
        bytes it wrote under the table directory."""
        total, written = 0.0, 0
        for op, arg in self.ops:
            before = dir_files(self.path)
            with self.h.tracer.span(f"sink.{op}"):
                t0 = time.perf_counter()
                version, read_digest = self._run_op(op, arg)
                dt = time.perf_counter() - t0
            b, f = written_since(before, self.path)
            total += dt
            written += b
            self.op_bytes[op].append(b)
            self.op_files[op].append(f)
            self._track(op, arg, version)
            if op == "read":
                # a read leaves the current version as it was: check what it returned
                self.observed.append((f"read v{version}", self.versions[version], True, read_digest))
                continue
            if self.h.args.corrupt:
                # publish one stray row the tracked state does not know of
                self.versions[self.table.append(self.dfs["append0"].limit(1))] = dict(self.state)
            self.observed.append((op, dict(self.state), False, lake.content_digest(self.table.read(self.h.spark))))
        return total, written

    def finish(self) -> tuple[int, int, list[str]]:
        errors = self.check()
        return len(self.observed), len(errors), errors

    def check(self) -> list[str]:
        """Compare every recorded (count, digest) with the tracked state."""
        spark = self.h.spark
        parts = [df.select(F.lit(tag).alias("tag"), "creation_time",
                           F.expr(lake.ROW_HASH_SQL).alias("h"),
                           F.coalesce(F.col("gds_type") == READ_FILTER, F.lit(False)).alias("f"))
                 for tag, df in self.dfs.items()]
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        rows = {(r["tag"], r["creation_time"]): (r["h"], r["f"]) for r in union.collect()}
        errors = []
        for name, state, filtered, got in self.observed:
            hs = [rows[(tag, ct)] for ct, tag in state.items()]
            if filtered:
                hs = [x for x in hs if x[1]]
            want = (len(hs), sum(h for h, _ in hs))
            if got != want:
                errors.append(f"after {name}: (rows, digest) {got} != expected {want}")
        return errors

    def traced_unit(self, layers: dict[str, float]) -> float:
        """One traced cycle into `layers`; returns the time of its operations."""
        tr = self.h.tracer
        total, _ = self.unit()
        spans = [s for s in tr.spans if s.name.startswith("sink.")]
        for op in OPS:
            mine = [s for s in spans if s.name == f"sink.{op}"]
            layers[f"sink.{op}.self_s"] = statistics.median(s.end - s.start for s in mine)
            layers[f"sink.{op}.cpu_s"] = statistics.median(s.counters["cpu_s"] for s in mine)
            layers[f"sink.{op}.bytes_written"] = statistics.median(self.op_bytes[op])
            layers[f"sink.{op}.files_written"] = statistics.median(self.op_files[op])
        for k in SCOPE_UNITS:
            layers[f"cycle.{k}"] = sum(s.counters[k] for s in spans)
        return total


def make(h) -> TableMaintenance:
    n = max(200, int(N_ROWS * h.args.scale))
    facts, _ = h.setup(lambda d: generate(d, h.args.seed, n))
    return TableMaintenance(h, facts)
