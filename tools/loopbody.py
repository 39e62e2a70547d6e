"""Dump the ITERATIVE operators' loop-body physical plans to
plans/<round>/loopbody_<op>_<tag>.txt — the before/after evidence for
the partition-preserving checkpoint work.  Query-level
`.explain` output for these queries is checkpoint-truncated (the
returned DataFrame is one Scan ExistingRDD), so the honest plan
evidence is the per-round plan collected through the operators'
`plan_probe` hook — the same hook tests/test_graph_plan_gates.py gates
on.

The operators run on the deterministic ring+chords graph the plan-gate
tests use (plan SHAPE is input-independent: the same joins, aggregates
and exchanges appear for any edge table).

Usage: python tools/loopbody.py --round rNN <tag>
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from domanda_etl_spark.operators.dedup import connected_components
from domanda_etl_spark.operators.graph import (
    bfs_levels,
    hits_integer,
    kcore,
    lpa_labels,
    pagerank_integer,
    ppr_integer,
)
from domanda_etl_spark.session import get_spark

PLANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans"
)


def _edges(spark, n=120, chords=(1, 2, 7)):
    base = spark.range(n).select(F.col("id").alias("src"))
    e = None
    for d in chords:
        part = base.select("src", ((F.col("src") + d) % n).alias("dst"))
        e = part if e is None else e.unionByName(part)
    return e


def _dump(out: str, name: str, tag: str, probes: list) -> None:
    path = os.path.join(out, f"loopbody_{name}_{tag}.txt")
    with open(path, "w") as f:
        for i, (ptag, plan) in enumerate(probes):
            f.write(f"==== probe {i}: {ptag} ====\n{plan}\n")
    n_ex = sum(
        p.count("Exchange") - p.count("ReusedExchange") for _, p in probes
    )
    print(f"wrote {path} ({len(probes)} probes, {n_ex} Exchange nodes)")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", required=True, help="plans/ subdirectory, e.g. r17")
    ap.add_argument("tag")
    args = ap.parse_args()
    tag = args.tag
    out = os.path.join(PLANS, args.round)
    os.makedirs(out, exist_ok=True)
    spark = get_spark(app_name=f"loopbody-{args.round}")

    probes: list = []
    pagerank_integer(_edges(spark), iterations=2, plan_probe=probes)
    _dump(out, "pagerank", tag, probes)

    probes = []
    seeds = spark.range(5).select(F.col("id").alias("node"))
    ppr_integer(_edges(spark), seeds, iterations=2, plan_probe=probes)
    _dump(out, "ppr", tag, probes)

    probes = []
    hits_integer(_edges(spark), iterations=2, plan_probe=probes)
    _dump(out, "hits_window_form", tag, probes)

    probes = []
    hits_integer(
        _edges(spark), iterations=2, window_norm_max_nodes=0, plan_probe=probes
    )
    _dump(out, "hits_scale_form", tag, probes)

    probes = []
    ed = _edges(spark).selectExpr("src AS a", "dst AS b")
    e2 = ed.unionByName(ed.selectExpr("b AS a", "a AS b")).localCheckpoint(
        eager=True
    )
    lpa_labels(e2, rounds=2, plan_probe=probes)
    _dump(out, "lpa", tag, probes)

    probes = []
    kcore(_edges(spark, n=30, chords=(1,)), k=3, a="src", b="dst", plan_probe=probes)
    _dump(out, "kcore", tag, probes)

    probes = []
    cc_e = _edges(spark, n=40, chords=(1,)).selectExpr("src AS id_a", "dst AS id_b")
    connected_components(cc_e, plan_probe=probes)
    _dump(out, "connected_components", tag, probes)

    probes = []
    und = e2.selectExpr("a AS src", "b AS dst").localCheckpoint(eager=True)
    seed = spark.range(1).select(F.col("id").alias("node"))
    bfs_levels(und, seed, 1, plan_probe=probes)
    _dump(out, "bfs_level", tag, probes)

    spark.stop()


if __name__ == "__main__":
    main()
