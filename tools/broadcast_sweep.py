"""Registry-wide static-broadcast sweep (the r14 triage, now a tool).

Flags every BroadcastExchange in every registry query whose build
subtree is either
  (a) a `Scan ExistingRDD` — a localCheckpoint output.  LogicalRDD
      stats are row-count-based with default column widths, a measured
      ~13x UNDER-estimate for long-pair edge lists (1.2M rows of two
      longs -> 1.49 MB estimate vs ~19 MB real), so the planner keeps
      statically broadcasting until ~50M rows, where the real hashed
      relation is already multi-GB — dead on spark.driver.maxResultSize
      long before the estimate self-corrects.  AQE can never demote a
      statically-planned broadcast.  This is the class that regressed
      resource_allocation_linkpred in the r14 driver bench (9.26 s,
      unchanged code: the broadcast build is the memory-pressure-
      sensitive component) — missed by the r14 fact-scan sweep because
      an ExistingRDD scan is not a fact-table scan.
  (b) a raw fact-table parquet scan with no intervening aggregate or
      limit — the r14 criterion, kept (file-based estimates
      self-correct with data growth, so these are usually benign, but
      they deserve eyes).

Output: one line per flag with the query, the class, and the subtree
head; exit 1 iff any class-(a) flag is not in the triaged whitelist
(tests/test_plans_quality.py::test_no_static_broadcast_of_checkpoint_outputs
runs the same check in CI).

Usage: python tools/broadcast_sweep.py [name ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")

# class-(a) flags triaged BENIGN: the ExistingRDD side is provably
# bounded (literal dimension tables, seed sets, k-row centroid tables),
# the legitimate broadcast shape.  `Scan ExistingRDD` also covers
# spark.createDataFrame literals, not just localCheckpoint outputs —
# a 3-row literal that MUST broadcast lands here, not in the gate.
# Every entry needs a one-line reason.
CHECKPOINT_BROADCAST_OK: dict[str, str] = {
    # the broadcast side is the 3-row LITERAL bands table
    # (createDataFrame, not a checkpoint); the range-join plan gate
    # REQUIRES BroadcastNestedLoopJoin here — broadcast is the point
    "range_join_value_bands": "3-row literal bands dimension",
    # the broadcast side is the literal expectations contract table
    # (createDataFrame, not a checkpoint), same class as the bands above
    "column_profile_contract": "literal expectations contract table",
}


def _depth(s: str) -> int:
    """Tree depth of a plan line = length of its indentation prefix.

    WholeStageCodegen annotations (`*(3) Project`) put a literal `*`
    right where the tree-prefix regex is matching, so a codegen-starred
    sibling (`+- *(2) Project` after a `:- BroadcastExchange`) used to
    parse one level DEEPER and get absorbed into the broadcast subtree —
    a verified false flag on final-plan / formatted-explain text (ADVICE
    r15 low).  Strip the markers before measuring.
    """
    s = re.sub(r"\*\(\d+\)\s*", "", s)
    m = re.match(r"^[\s:+\-]*", s)
    return len(m.group(0)) if m else 0


def _subtree_idx(lines: list[str], i: int) -> list[int]:
    """Indices of the plan subtree rooted at line i (indentation-based)."""
    d0 = _depth(lines[i])
    out = [i]
    for j in range(i + 1, len(lines)):
        if lines[j].strip() == "" or _depth(lines[j]) <= d0:
            break
        out.append(j)
    return out


_BOUND_RE = re.compile(r"Aggregate\(keys=\[\]|Limit|TakeOrdered")


def _scan_path_bounded(lines: list[str], root: int, scan: int) -> bool:
    """True iff a keys=[] aggregate or Limit lies on the ANCESTOR PATH
    from the `Scan ExistingRDD` at line `scan` up to (exclusive) the
    BroadcastExchange at line `root`.  Scoping the exemption per scan
    matters: a broadcast of (count(1) agg) JOIN (raw checkpoint scan)
    has an unkeyed aggregate SOMEWHERE in the subtree but NOT above the
    raw scan — that broadcast still collects the unbounded side and must
    flag (ADVICE r15 medium: the whole-body check silently passed it)."""
    cur = _depth(lines[scan])
    for k in range(scan - 1, root, -1):
        d = _depth(lines[k])
        if d < cur:  # k is the nearest unvisited ancestor of the scan
            if _BOUND_RE.search(lines[k]):
                return True
            cur = d
    return False


def sweep_plan(name: str, plan: str) -> list[tuple[str, str, str]]:
    flags = []
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        idx = _subtree_idx(lines, i)
        sub = [lines[j] for j in idx]
        body = "\n".join(sub)
        scans = [j for j in idx if "Scan ExistingRDD" in lines[j]]
        if scans:
            # an UNKEYED aggregate (keys=[] -> 1 row) or an explicit
            # limit between the broadcast and the checkpoint scan bounds
            # the build regardless of the scan's size — the legitimate
            # broadcast shape (e.g. degree_assortativity's n_nodes count).
            # Checked PER SCAN on its own ancestor path, not per subtree.
            if not all(_scan_path_bounded(lines, i, j) for j in scans):
                flags.append((name, "checkpoint-output", sub[1].strip()[:100] if len(sub) > 1 else ""))
        else:
            has_fact = any(
                re.search(rf"Scan parquet .*{t}|FileScan .*{t}", body)
                for t in FACT_TABLES
            )
            has_bound = any(
                k in body
                for k in ("HashAggregate", "ObjectHashAggregate", "Limit", "TakeOrdered", "WindowGroupLimit")
            )
            if has_fact and not has_bound:
                flags.append((name, "fact-scan", sub[1].strip()[:100] if len(sub) > 1 else ""))
    return flags


def main() -> int:
    from domanda_etl_spark.session import get_spark
    from tools.dump_plans import build_registry

    spark = get_spark(app_name="broadcast-sweep")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = build_registry(spark, sf_dir, sys.argv[1:] or None)
    all_flags: list[tuple[str, str, str]] = []
    for n, (plan, _) in registry.items():
        for f in sweep_plan(n, plan):
            all_flags.append(f)
            print(f"FLAG {f[1]:<18} {f[0]}: {f[2]}", flush=True)
    bad = [
        f for f in all_flags
        if f[1] == "checkpoint-output" and f[0] not in CHECKPOINT_BROADCAST_OK
    ]
    print(
        f"--- swept={len(registry)} flags={len(all_flags)} "
        f"checkpoint-output-unwhitelisted={len(bad)}"
    )
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
