"""query_mix: registry queries that exercise the iterative, UDF and
streaming operators the flight refresh never reaches.

One pass runs each query of QUERIES through the registry entry point
(`__spark_entry__.queries()`) over a seeded lake in the registry's table
layout, and materializes it with a noop write; the seed also permutes the
query order. After the timed passes, each query's result from the first
pass is compared once with its DuckDB `oracle_sql()`.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from meter import SCOPE_UNITS, dir_files, geomean, written_since

# query -> the layers it is here for
QUERIES = {
    "pagerank_purchases": "operators.graph, operators.checkpoint (8 checkpointed rounds)",
    "dedup_minhash_signatures": "operators.dedup minhash signatures",
    "image_decode_jpeg": "operators.multimodal, jpeg_codec (Arrow batches to Python workers)",
    "streaming_batch_equiv": "streaming.incremental (file stream, foreachBatch into a VersionedTable)",
    "latest_wins_dedup": "a short query, so driver and job overhead shows",
}
Q_UNITS = {"build_s": "s", "exec_s": "s", "jobs": "count", "cpu_s": "s", "driver_s": "s"}

N_ORDERS = 1_500
WORDS = ("spark join merge window batch stream table scan hash sort filter key value row "
         "column query group agg part line order customer data vector fast slow big small").split()


def generate(out_dir: str, seed: int, scale: float) -> dict:
    """Write orders, lineitem, documents, embeddings and events as one
    parquet file each (the registry's `<dir>/<table>.parquet` layout)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir)
    n_ord = max(100, int(N_ORDERS * scale))
    n_cust, n_supp = max(10, n_ord // 10), 10
    n_li, n_doc, n_ev = 4 * n_ord, max(60, n_ord // 3), max(200, 2 * n_ord // 3)
    day = np.datetime64("1995-01-01", "us")
    tables = {
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n_ord), 2)),
            "o_orderdate": pa.array(day + rng.integers(0, 2500, n_ord) * 86_400_000_000),
            "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"], n_ord)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, 200, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
            "l_shipdate": pa.array(day + rng.integers(0, 2500, n_li) * 86_400_000_000),
        }),
        "documents": _documents(rng, n_doc),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_doc)),
            "embedding": pa.array(list(rng.normal(0, 0.3, (n_doc, 64)).astype(np.float32)),
                                  pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_doc).astype(np.int32)),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev)),
            # a few days for 15 users: clicks often precede a purchase within 30 min
            "ts": pa.array(np.datetime64("2024-01-01", "us")
                           + np.sort(rng.integers(0, 3 * 86_400_000_000, n_ev))),
            "user_id": pa.array(rng.integers(0, 15, n_ev)),
            "event_type": pa.array(rng.choice(["click", "purchase", "view", "signup", "error"], n_ev)),
            "value": pa.array(np.round(rng.uniform(0, 500, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
    }
    input_bytes = 0
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        input_bytes += os.path.getsize(path)
    return {"input_bytes": input_bytes}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word texts; a third of them are near-copies (one word
    changed) of an earlier document, so LSH finds pairs and clusters."""
    texts: list[str] = []
    for i in range(n):
        if i >= 3 and rng.random() < 1 / 3:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(15, 60)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "fr", "es", "zh"], n)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


class QueryMix:
    def __init__(self, h, data_dir: str, facts: dict):
        import __spark_entry__ as entry

        self.h = h
        self.data_dir = data_dir
        self.user_bytes = facts["input_bytes"]
        registry = entry.queries()
        self.queries = {n: registry[n] for n in QUERIES}
        self.oracle = {n: entry.oracle_sql()[n] for n in QUERIES}
        order = np.random.default_rng(h.args.seed).permutation(len(QUERIES))
        self.order = [list(QUERIES)[i] for i in order]
        self.results: dict = {}  # the first pass's frames, checked after the timed passes

    def unit(self) -> tuple[float, int]:
        """One pass; returns its time and the bytes it wrote under TMPDIR
        (the streaming query's checkpoint and table)."""
        before = dir_files(self.h.tmp)
        total = self.run_pass()
        return total, written_since(before, self.h.tmp)[0]

    def finish(self) -> tuple[int, int, list[str]]:
        errors = self.check()
        return len(QUERIES), len({e.split(":")[0] for e in errors}), errors

    def run_pass(self) -> float:
        """One pass over the queries; returns its time."""
        tr, spark = self.h.tracer, self.h.spark
        total = 0.0
        for name in self.order:
            with tr.span(f"q.{name}.build"):
                t0 = time.perf_counter()
                df = self.queries[name](spark, self.data_dir)
            with tr.span(f"q.{name}.exec"):
                df.write.format("noop").mode("overwrite").save()
                t1 = time.perf_counter()
            self.results.setdefault(name, df)
            total += t1 - t0
        return total

    def check(self) -> list[str]:
        """The first pass's result of each query against its DuckDB oracle
        over the same files. Collecting a frame re-runs only what its
        query left lazy (checkpoints and stream output are kept)."""
        import duckdb

        errors = []
        con = duckdb.connect()
        try:
            for t in ("orders", "lineitem", "documents", "embeddings", "events"):
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name in self.order:
                got = self.results[name].toPandas()
                if self.h.args.corrupt and len(got):
                    got.iloc[0, 0] = None
                want = con.execute(self.oracle[name]).df()
                if len(want) == 0:
                    errors.append(f"{name}: the oracle returns no rows on this input")
                err = _compare(got, want)
                if err:
                    errors.append(f"{name}: {err}")
        finally:
            con.close()
        return errors

    def traced_unit(self, layers: dict[str, float]) -> float:
        """One traced pass into `layers`; returns its wall time."""
        tr = self.h.tracer
        with tr.span("mix.pass"):
            self.run_pass()
        by_name = {s.name: s for s in tr.spans}
        for name in QUERIES:
            b, e = by_name[f"q.{name}.build"], by_name[f"q.{name}.exec"]
            layers[f"q.{name}.build_s"] = b.end - b.start
            layers[f"q.{name}.exec_s"] = e.end - e.start
            for k in ("jobs", "cpu_s", "driver_s"):
                layers[f"q.{name}.{k}"] = b.counters[k] + e.counters[k]
        # the short queries count as much as the long ones
        layers["q.geomean_s"] = geomean([layers[f"q.{n}.build_s"] + layers[f"q.{n}.exec_s"]
                                         for n in QUERIES])
        p = by_name["mix.pass"]
        layers.update({f"mix.{k}": p.counters[k] for k in SCOPE_UNITS})
        return p.end - p.start

def _canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, float):
        return repr(round(v, 6))
    return str(v)


def _compare(got, want) -> str | None:
    """Order-insensitive comparison on name-sorted columns; None if equal."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return f"columns {cols} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    a, b = ([tuple(_canon(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
            for df in (got, want))
    diff = [(x, y) for x, y in zip(sorted(a), sorted(b)) if x != y]
    return f"values differ, first: {diff[0]}" if diff else None


def make(h) -> QueryMix:
    facts, data_dir = h.setup(lambda d: generate(d, h.args.seed, h.args.scale))
    return QueryMix(h, data_dir, facts)
