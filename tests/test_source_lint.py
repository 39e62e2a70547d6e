"""Source lint: the library must stay distributed — no driver-side
collects, pandas materialization, or row-at-a-time Python UDFs outside an
explicit, justified whitelist. (The query registry in __spark_entry__.py
is allowed bounded-state collects — centroids, partition values, range
bounds — each documented at the call site; the library itself gets the
stricter rule.)"""

from __future__ import annotations

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "domanda_etl_spark")

# file -> allowed occurrence count, with the justification
COLLECT_WHITELIST = {
    # partition-scoped MERGE + DELETE, one shared prologue: distinct
    # partition VALUES of the update/delete batch (bounded by partition
    # count, never row count)
    "sinks/versioned.py": 1,
    # key_bitset_prefilter: the <=n_bits/64-long bitset words (8 KiB at
    # the 65536-bit default, independent of build-side row count)
    "operators/joins.py": 1,
    # hits_integer: the ONE-ROW (countDistinct src, countDistinct dst)
    # probe that picks the size-gated normalization form (r12) — two
    # scalars, once per call, never row-scale
    "operators/graph.py": 1,
}


def _occurrences(pattern: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, PKG)
            with open(full) as fh:
                n = len(re.findall(pattern, fh.read()))
            if n:
                out[rel] = n
    return out


def test_no_unjustified_collects_in_library():
    got = _occurrences(r"\.collect\(\)")
    assert got == COLLECT_WHITELIST, (
        f"driver-side .collect() outside the whitelist: {got} "
        f"(whitelist: {COLLECT_WHITELIST}) — justify and whitelist, or re-express distributed"
    )


def test_no_topandas_in_library():
    assert _occurrences(r"\.toPandas\(") == {}


def test_one_map_in_pandas_call_in_library():
    # every mapInPandas operator is a per-row function handed to
    # multimodal._map_rows, which owns the package shipping and the
    # Arrow-batch loop; a second call site is a copy of that plumbing
    assert _occurrences(r"mapInPandas\(") == {"operators/multimodal.py": 1}


def test_no_row_at_a_time_udfs_in_library():
    # mapInPandas / applyInPandasWithState (Arrow-batched) are the sanctioned
    # Python escape hatches; F.udf / @udf row-at-a-time is banned
    assert _occurrences(r"F\.udf\(|@udf\b|functions\.udf\(") == {}


def test_no_module_level_rebinding_in_entry():
    # a second top-level binding silently replaces the first for every
    # later reader, and tools/backlog.py hashes the LAST binding of a name
    # into the freeze stamps of queries that used the first
    import ast
    from collections import Counter

    entry = os.path.join(os.path.dirname(PKG), "__spark_entry__.py")
    with open(entry) as fh:
        tree = ast.parse(fh.read())
    bound = Counter()

    def bind(t: ast.expr) -> None:  # names, not subscripts or attributes
        if isinstance(t, ast.Name):
            bound[t.id] += 1
        elif isinstance(t, (ast.Tuple, ast.List)):
            for e in t.elts:
                bind(e)
        elif isinstance(t, ast.Starred):
            bind(t.value)

    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            bound[node.name] += 1
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            for t in node.targets if isinstance(node, ast.Assign) else [node.target]:
                bind(t)
    twice = sorted(n for n, c in bound.items() if c > 1)
    assert not twice, f"module-level names bound more than once in __spark_entry__.py: {twice}"
