"""Plan and codegen evidence.

    python tools/explain.py --round rNN <tag> <query> [<query> ...]
    python tools/explain.py --refresh [--seed N] [--rows N] [--runs N]

The first form dumps `.explain("formatted")` of named registry queries to
plans/<round>/<query>_<tag>.txt — the before/after plan evidence for a
round's optimization work. For the iterative graph/CC queries the
query-level plan is checkpoint-truncated; tools/loopbody.py captures their
loop bodies.

`--refresh` runs the paper's refresh the way `perfbench/run.py --workload
flight_refresh` does (a seeded `perfbench.lake` lake -> `Extractor` ->
`run_pipeline` -> `load_output` into a `VersionedTable` with the S9 read),
once cold and then warm, in one process on local[<cores>]. Per refresh it
prints, from in-process counters only:
- jobs (status-store job ids);
- codegen compiles (the `CodegenMetrics` compile-count delta), their summed
  janino time and the generated source they compiled;
- the top 5 Catalyst rules by time (`RuleExecutor.dumpTimeSpent`);
- every whole-stage subtree of the refresh plan with its generated chars
  (`debug.codegenStringSeq`), marking the stages whose code fails to
  compile or exceeds `hugeMethodLimit` — each of those falls back to
  per-operator execution.
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys
import tempfile
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from domanda_etl_spark.session import get_spark  # noqa: E402

RULE_LINE = re.compile(r"^\s*(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*$")


def dump_round(args) -> None:
    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(ROOT, "plans", args.round)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"explain-{args.round}")
    qs = entrymod.queries()
    for n in args.names:
        df = qs[n](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{n}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
    spark.stop()


class Codegen:
    """CodegenMetrics deltas. The source-size and compile-time histograms
    keep every sample until 1,028 of them (the default reservoir), so the
    multiset difference of two snapshots is exactly the compiles in
    between; a failed compile records nothing."""

    def __init__(self, jvm):
        self._m = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def mark(self) -> tuple[int, Counter, Counter]:
        return (
            self._m.METRIC_COMPILATION_TIME().getCount(),
            Counter(self._m.METRIC_SOURCE_CODE_SIZE().getSnapshot().getValues()),
            Counter(self._m.METRIC_COMPILATION_TIME().getSnapshot().getValues()),
        )

    def delta(self, since) -> dict[str, float]:
        n, size, ms = self.mark()
        return {
            "compiles": n - since[0],
            "source_chars": sum((size - since[1]).elements()),
            "compile_s": sum((ms - since[2]).elements()) / 1e3,
        }


def top_rules(dump: str, k: int = 5) -> list[tuple[str, float, int]]:
    """(rule, total seconds, total runs) of the `k` slowest rules in a
    `RuleExecutor.dumpTimeSpent()` text."""
    rows = []
    for line in dump.splitlines():
        m = RULE_LINE.match(line)
        if m:
            rows.append((m.group(1).rsplit(".", 1)[-1], int(m.group(3)) / 1e9, int(m.group(5))))
    return sorted(rows, key=lambda r: -r[1])[:k]


def stage_inventory(spark, df) -> list[tuple[int, int, bool, str]]:
    """(generated chars, max method bytecode, compiles, first line) per
    whole-stage subtree of `df`'s plan, after running it to its final
    adaptive plan. Compiling here hits the codegen cache for every stage
    the refresh compiled."""
    jvm = spark._jvm
    plan = df._jdf.queryExecution().executedPlan()
    plan.execute().count()
    huge = spark.conf.get("spark.sql.codegen.hugeMethodLimit")
    seq = jvm.org.apache.spark.sql.execution.debug.package.codegenStringSeq(plan)
    out = []
    it = seq.iterator()
    while it.hasNext():
        t = it.next()
        max_method = t._3().maxMethodCodeSize()
        compiles = max_method >= 0 and max_method <= int(huge)
        out.append((len(t._2()), max_method, compiles, t._1().splitlines()[0].strip()))
    return out


def refresh_report(args) -> None:
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import lake
    from meter import StatusStore

    from domanda_etl_spark.plans import domanda as D
    from domanda_etl_spark.sinks import VersionedTable
    from domanda_etl_spark.sources.extractors import Extractor

    cores = len(os.sched_getaffinity(0))
    work = tempfile.mkdtemp(prefix="explain-refresh-")
    try:
        lake_dir = os.path.join(work, "lake")
        lake.generate(lake_dir, args.seed, args.rows)
        spark = get_spark(
            app_name="explain-refresh", master=f"local[{cores}]", shuffle_partitions=cores
        )
        jvm = spark._jvm
        rules = jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
        store, codegen = StatusStore(spark), Codegen(jvm)
        table = VersionedTable(os.path.join(work, "flight_ticket_price_compare"))
        verify = {"departure_flight_number_1": "ZP011", "creation_time": lake.NOW_EPOCH - 60}
        print(f"refresh of a {args.rows}-row seed-{args.seed} lake on local[{cores}]")
        for i in range(args.runs):
            rules.resetMetrics()
            mark, cg = store.mark(), codegen.mark()
            t0 = time.perf_counter()
            ex = Extractor(spark, lake_dir, lake.CUTOFF_EPOCH)
            src = [ex.extract_cola_data(), ex.extract_set_data(), ex.extract_lion_data(),
                   ex.extract_eztravel_data(), ex.extract_foreign_supplier_eztravel_data(),
                   ex.extract_rich_data()]
            df = D.run_pipeline(*src, now_epoch=lake.NOW_EPOCH)
            D.load_output(df, table, verify_row=verify)
            wall = time.perf_counter() - t0
            jobs = store.delta(mark)["jobs"]
            c = codegen.delta(cg)
            top = top_rules(rules.dumpTimeSpent())
            stages = stage_inventory(spark, df)
            fallbacks = [s for s in stages if not s[2]]
            print(f"\n== refresh {i + 1} ({'cold' if i == 0 else 'warm'}): {wall:.2f} s wall")
            print(f"jobs {jobs:.0f}")
            print(f"codegen compiles {c['compiles']}, {c['source_chars'] / 1e6:.2f} MB source, "
                  f"{c['compile_s']:.2f} s janino")
            print("top rules: " + "; ".join(f"{r} {s:.2f} s/{n}" for r, s, n in top))
            print(f"whole-stage subtrees {len(stages)}, "
                  f"{sum(s[0] for s in stages) / 1e6:.2f} MB generated, "
                  f"{len(fallbacks)} fall back")
            for chars, max_method, ok, head in stages:
                flag = "" if ok else "  FALLBACK"
                print(f"  {chars:>9,} chars  max method {max_method:>6}  {head[:80]}{flag}")
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--refresh", action="store_true",
                    help="codegen, rule and job report of a cold and a warm refresh")
    ap.add_argument("--seed", type=int, default=3, help="--refresh lake seed")
    ap.add_argument("--rows", type=int, default=1000, help="--refresh cola rows")
    ap.add_argument("--runs", type=int, default=2, help="--refresh refreshes (first is cold)")
    ap.add_argument("--round", help="plans/ subdirectory, e.g. r17")
    ap.add_argument("tag", nargs="?")
    ap.add_argument("names", nargs="*", metavar="query")
    args = ap.parse_args()
    if args.refresh:
        refresh_report(args)
    elif args.round and args.tag and args.names:
        dump_round(args)
    else:
        ap.error("give --refresh, or --round rNN <tag> <query> [<query> ...]")


if __name__ == "__main__":
    main()
