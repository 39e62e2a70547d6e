"""flight_refresh: the paper's batch refresh, run as a user runs it.

One refresh = `Extractor.extract_*` over the seeded lake ->
`plans.domanda.run_pipeline` -> `load_output` into a `VersionedTable`, with
the S9 verification read. The first refresh in the process is `cold_s`.

A traced run adds one refresh measured by prefix materialization (see
`traced_unit`): the flight layers are lazy, so each layer's output
is written to the noop sink in pipeline order, and a layer's self time is
the difference between its prefix and the one before. The prefixes are the
extractor outputs, the cleaned frames, `join_price_and_tax`, `unify` and
`run_pipeline`; the frame `load_output` loads is `run_pipeline`'s own.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark.sql import Observation
from pyspark.sql import functions as F

from domanda_etl_spark.plans import domanda as D
from domanda_etl_spark.sinks import VersionedTable
from domanda_etl_spark.sources.extractors import Extractor

import lake
from meter import SCOPE_UNITS, dir_files, written_since

N_COLA = 1_000
VERIFY_ROW = {"departure_flight_number_1": "ZP011", "creation_time": lake.NOW_EPOCH - 60}
SUPPLIER_ARGS = [("set", "extract_set_data"), ("lion", "extract_lion_data"),
                 ("eztravel", "extract_eztravel_data"),
                 ("f_eztravel", "extract_foreign_supplier_eztravel_data"),
                 ("rich", "extract_rich_data")]


class FlightRefresh:
    def __init__(self, h, lake_dir: str, facts: dict):
        self.h = h
        self.lake_dir = lake_dir
        self.facts = facts
        self.table_path = os.path.join(h.work, "flight_ticket_price_compare")
        self.table = VersionedTable(self.table_path)
        self.expected_probes = lake.probe_expected()
        self.digest = None
        self.user_bytes = facts["input_file_bytes"]
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    @property
    def spark(self):
        return self.h.spark

    def extract(self):
        ex = Extractor(self.spark, self.lake_dir, lake.CUTOFF_EPOCH)
        return [ex.extract_cola_data()] + [getattr(ex, m)() for _, m in SUPPLIER_ARGS]

    def refresh(self) -> None:
        df = D.run_pipeline(*self.extract(), now_epoch=lake.NOW_EPOCH)
        D.load_output(df, self.table, verify_row=VERIFY_ROW)

    def unit(self) -> tuple[float, int]:
        """One refresh, then its checks; returns its time and the bytes it
        wrote under the table directory."""
        before = dir_files(self.table_path)
        t0 = time.perf_counter()
        self.refresh()
        dt = time.perf_counter() - t0
        written = written_since(before, self.table_path)[0]
        if self.h.args.corrupt:
            self.corrupt()
        self._checked()
        return dt, written

    def _checked(self) -> None:
        self.attempted += 1
        errors = self.check()
        if errors:
            self.failed += 1
            self.errors += [f"refresh {self.attempted}: {e}" for e in errors]

    def finish(self) -> tuple[int, int, list[str]]:
        return self.attempted, self.failed, self.errors

    def corrupt(self) -> None:
        """Publish a copy of the output with one probe value changed."""
        out = self.table.read(self.spark)
        hit = F.col("departure_flight_number_1") == "ZP012"
        self.table.overwrite(out.withColumn(
            "lion_tax", F.when(hit, F.col("lion_tax") + 1).otherwise(F.col("lion_tax"))))

    def check(self) -> list[str]:
        """The published version: 94-column schema, probe rows exactly as
        constructed, and an order-insensitive content digest equal to the
        first refresh's."""
        out = self.table.read(self.spark)
        errors = []
        if sorted(out.columns) != sorted(lake.OUTPUT_COLUMNS):
            errors.append(f"schema: {len(out.columns)} columns {sorted(out.columns)[:5]}...")
            return errors
        got: dict[str, list] = {fn: [] for fn in self.expected_probes}
        for r in out.filter(F.col("departure_flight_number_1").startswith(lake.PROBE_AIRLINE)).collect():
            got.setdefault(r["departure_flight_number_1"], []).append(r.asDict())
        for fn, want in self.expected_probes.items():
            if _canon(got[fn]) != _canon(want):
                errors.append(f"probe {fn}: got {got[fn]} want {want}")
        digest = lake.content_digest(out)
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            errors.append(f"content digest {digest} differs from the first refresh's {self.digest}")
        return errors

    # ---- traced refresh ------------------------------------------------
    def traced_unit(self, layers: dict[str, float]) -> float:
        """One traced refresh into `layers`, then its checks; returns its
        wall time."""
        tr = self.h.tracer

        def noop(*dfs) -> list[int]:
            """Write each frame to the noop sink; its row count rides along
            as an observation, so counting runs no extra job."""
            counts = []
            for df in dfs:
                obs = Observation()
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
                counts.append(obs.get["n"])
            return counts

        with tr.span("refresh.traced"):
            with tr.span("sources.build"):
                src = self.extract()
            with tr.span("sources.prefix"):
                kept = noop(*src)
            with tr.span("clean.build"):
                cola = D.clean_cola(src[0], now_epoch=lake.NOW_EPOCH)
                sups = [D.clean_supplier(df, "票面價格", "稅金", *D.SUPPLIER_PAYLOADS[k])
                        for df, (k, _) in zip(src[1:], SUPPLIER_ARGS)]
            with tr.span("clean.prefix"):
                cleaned = noop(cola, *sups)
            with tr.span("join.build"):
                joined = D.join_price_and_tax(cola, *sups)
            with tr.span("join.prefix"):
                (n_joined,) = noop(joined)
            with tr.span("project.build"):
                unified = D.unify(cola, *sups)
            with tr.span("project.prefix"):
                (n_unified,) = noop(unified)
            # from here on the program's own DAG: run_pipeline builds the
            # same prefix again and ends in the dedup, load_output runs it
            with tr.span("dedup.build"):
                out = D.run_pipeline(*src, now_epoch=lake.NOW_EPOCH)
            with tr.span("dedup.prefix"):
                (n_deduped,) = noop(out)
            with _traced_sink(self.table, tr, layers), tr.span("refresh.load"):
                D.load_output(out, self.table, verify_row=VERIFY_ROW)

        # both eztravel extracts scan the whole eztravel table
        scanned = self.facts["rows_scanned"] + self.facts["tables"]["eztravel"]
        s = {name: (tr.total(name), tr.total(name, "cpu_s"), tr.total(name, "shuffle_w_bytes"))
             for name in ("sources.prefix", "clean.prefix", "join.prefix", "project.prefix",
                          "dedup.prefix", "sink.overwrite")}
        layers.update({
            "sources.build_s": tr.total("sources.build"),
            "sources.exec_s": s["sources.prefix"][0],
            "sources.rows_kept_ratio": sum(kept) / scanned,
            "sources.input_bytes": tr.total("sources.prefix", "input_bytes"),
            "clean.build_s": tr.total("clean.build"),
            "clean.self_s": s["clean.prefix"][0] - s["sources.prefix"][0],
            "clean.cpu_s": s["clean.prefix"][1] - s["sources.prefix"][1],
            "clean.rows_dropped": sum(kept) - sum(cleaned),
            "join.build_s": tr.total("join.build"),
            "join.self_s": s["join.prefix"][0] - s["clean.prefix"][0],
            "join.fanout_ratio": n_joined / cleaned[0],
            # unify builds the join again: its own build is the difference
            "project.build_s": tr.total("project.build") - tr.total("join.build"),
            "project.self_s": s["project.prefix"][0] - s["join.prefix"][0],
            "dedup.self_s": s["dedup.prefix"][0] - s["project.prefix"][0],
            "dedup.shuffle_w_bytes": s["dedup.prefix"][2] - s["project.prefix"][2],
            "dedup.removed_ratio": 1 - n_deduped / n_unified,
            # overwrite runs the whole lazy DAG: its self time excludes the
            # dedup prefix, which ends where the sink begins
            "sink.overwrite.self_s": s["sink.overwrite"][0] - s["dedup.prefix"][0],
            "sink.overwrite.cpu_s": s["sink.overwrite"][1] - s["dedup.prefix"][1],
        })
        load = next(sp for sp in tr.spans if sp.name == "refresh.load")
        layers.update({f"refresh.{k}": load.counters[k] for k in SCOPE_UNITS})
        self._checked()
        traced = next(sp for sp in tr.spans if sp.name == "refresh.traced")
        return traced.end - traced.start


@contextmanager
def _traced_sink(table: VersionedTable, tr, layers: dict[str, float]):
    """Spans around the table's overwrite and S9 read (`verify_write`),
    with the bytes and files the overwrite writes."""
    overwrite, verify = table.overwrite, table.verify_write

    def traced_overwrite(df):
        before = dir_files(table.path)
        with tr.span("sink.overwrite"):
            v = overwrite(df)
        b, f = written_since(before, table.path)
        layers["sink.overwrite.bytes_written"], layers["sink.overwrite.files_written"] = b, f
        return v

    def traced_verify(spark, predicates):
        with tr.span("sink.read"):
            ok = verify(spark, predicates)
        layers["sink.read.self_s"] = tr.total("sink.read")
        layers["sink.read.cpu_s"] = tr.total("sink.read", "cpu_s")
        return ok

    table.overwrite, table.verify_write = traced_overwrite, traced_verify
    try:
        yield
    finally:
        del table.overwrite, table.verify_write


def _canon(rows: list[dict]) -> list[str]:
    return sorted(repr(sorted(r.items())) for r in rows)


def make(h) -> FlightRefresh:
    n = max(200, int(N_COLA * h.args.scale))
    facts, lake_dir = h.setup(lambda d: lake.generate(d, h.args.seed, n))
    return FlightRefresh(h, lake_dir, facts)
