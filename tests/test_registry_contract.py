"""Registry/window contract guards (VERDICT r9 ask #6).

The import-time raise in q() covers duplicate REGISTRATION; these cover
the _FIRST50 driver window that `tools/backlog.py --freeze` composes and
the entry file reads back, so a bad window becomes a test failure
instead of a silently shorter CORRECTNESS file.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as ent  # noqa: E402


def test_first50_names_all_registered():
    missing = [n for n in ent._FIRST50 if n not in ent._REGISTRY]
    assert not missing, f"_FIRST50 references unregistered queries: {missing}"


def test_first50_no_duplicates_and_within_window():
    assert len(ent._FIRST50) <= 50, "driver window is 50 entries"
    dupes = {n for n in ent._FIRST50 if ent._FIRST50.count(n) > 1}
    assert not dupes, f"duplicate window entries: {dupes}"


def test_flagship_leads_every_window():
    # the standing regression guard over the whole ETL surface
    assert ent._FIRST50[0] == "domanda_pipeline_full"


def test_queries_order_is_window_then_rest_covering_registry():
    names = list(ent.queries())
    assert names[: len(ent._FIRST50)] == ent._FIRST50
    assert len(names) == len(set(names)) == len(ent._REGISTRY)


def test_every_query_has_oracle_or_is_known_rows_only():
    # all current queries carry a DuckDB oracle; a new rows-only query must
    # be added to the allowlist here CONSCIOUSLY, not by omission
    rows_only_allowlist: set[str] = set()
    missing = [
        n
        for n, (_, sql) in ent._REGISTRY.items()
        if sql is None and n not in rows_only_allowlist
    ]
    assert not missing, f"queries without oracle SQL: {missing}"


def test_window_freeze_covers_all_edits():
    """VERDICT r14 §next#1 (the r8 lesson, mechanized): 8 family queries
    were re-planned AFTER the r14 window froze, so the round closed with
    no driver hash on the shipped plans.  WINDOW_FREEZE.json stamps a
    sha256 of every query's source + oracle at window-composition time
    (`python tools/backlog.py --freeze`); any query whose hash has
    drifted from the stamp — or that is missing from it — must be in
    _FIRST50, or this test is red until the window is re-composed and
    re-frozen."""
    from tools.backlog import FREEZE_FILE, drift

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), FREEZE_FILE)
    assert os.path.exists(path), (
        f"{FREEZE_FILE} missing — run `python tools/backlog.py --freeze` "
        "after composing the window"
    )
    window = set(ent._FIRST50)
    drifted = [n for n in drift() if n not in window]
    assert not drifted, (
        "queries modified (or added) after the window froze but NOT in "
        f"_FIRST50 — re-window and re-freeze: {drifted}"
    )


def test_compose_window(monkeypatch):
    """`compose` over a synthetic registry: flagship, then the drifted
    queries stalest first, then the previous window, then the rest of the
    registry stalest first; unregistered names dropped, cut at 50."""
    from types import SimpleNamespace

    from tools import backlog as B

    names = [B.FLAGSHIP] + [f"q{i:03d}" for i in range(120)]
    monkeypatch.setattr(B, "entrymod", SimpleNamespace(_REGISTRY=dict.fromkeys(names)))
    last = {n: 1 + i % 7 for i, n in enumerate(names)}  # latest round 1..7
    del last["q006"], last["q013"]  # never checked

    first = B.compose([], [], last)
    assert first[0] == B.FLAGSHIP and len(first) == 50
    assert first[1:3] == ["q006", "q013"]

    # rounds: q006 never, q050 3, q100 4
    w = B.compose(["q100", "q050", "q006", "gone"], first + ["gone"], last)
    assert w[:4] == [B.FLAGSHIP, "q006", "q050", "q100"]
    assert w[4:] == [n for n in first if n not in w[:4]][:46]  # previous window carried
    assert "gone" not in w and len(w) == 50
    assert B.compose([], w, last) == w  # nothing drifted: unchanged

    # overflow: 70 drifted, the 49 stalest win
    many = names[1:71]
    over = B.compose(many, w, last)
    assert over[1:] == sorted(many, key=lambda n: (last.get(n, 0), n))[:49]


def test_freeze_hash_sees_package_helper_edits(tmp_path, monkeypatch):
    """VERDICT r15 §next#1 (the freeze-hash helper hole, closed): the r15
    LPA pins landed in operators/graph.py while the registry function's
    own source was untouched, so the old getsource-only hash could not
    see the re-plan and test_window_freeze_covers_all_edits stayed green
    on a post-freeze package edit.  source_hash now folds in the hashes
    of every package module file the query's plan transitively depends
    on — prove it end-to-end: mutate operators/graph.py in a tmp copy of
    the package and assert (a) the stamps of graph-helper queries DRIFT,
    (b) the stamp of a query with no graph dependency is UNCHANGED (the
    mechanism is precise, not a global tripwire)."""
    import shutil

    from tools import backlog as B

    names = (
        "label_propagation_communities",  # lpa_labels lives in graph.py
        "pagerank_purchases",             # pagerank_integer too
        "dedup_cluster_assignment",       # connected_components (dedup.py)
        "group_agg_pricing_summary",      # no graph/dedup dependency
        "scalar_luggage",                 # F4/F5 SQL forms (scalars.py)
        "similarity_topk_bruteforce",     # functions/vectors.py, not scalars.py
        "versioned_sink_roundtrip",       # sinks/versioned.py
    )
    before = {n: B.source_hash(n) for n in names}
    pkg_copy = tmp_path / "domanda_etl_spark"
    shutil.copytree(B.PKG_ROOT, pkg_copy)
    monkeypatch.setattr(B, "PKG_ROOT", str(pkg_copy))

    def edit(rel: str) -> dict[str, str]:
        mod = pkg_copy / rel
        mod.write_text(mod.read_text() + "\n# post-freeze re-plan\n")
        B._file_hash.cache_clear()  # path unchanged, content changed
        return {n: B.source_hash(n) for n in names}

    after = edit("operators/graph.py")
    assert after["label_propagation_communities"] != before["label_propagation_communities"]
    assert after["pagerank_purchases"] != before["pagerank_purchases"]
    # not a graph.py dependent: connected_components is operators/dedup.py
    assert after["dedup_cluster_assignment"] == before["dedup_cluster_assignment"]
    assert after["group_agg_pricing_summary"] == before["group_agg_pricing_summary"]

    # and a dedup.py edit drifts the CC-based query but not the others
    third = edit("operators/dedup.py")
    assert third["dedup_cluster_assignment"] != before["dedup_cluster_assignment"]
    assert third["group_agg_pricing_summary"] == before["group_agg_pricing_summary"]

    # a package __init__ that re-exports its submodules would widen every
    # stamp to the whole package: a scalars.py edit must drift only its
    # consumers, a sink edit only the queries that reach the sink
    fourth = edit("functions/scalars.py")
    assert fourth["scalar_luggage"] != third["scalar_luggage"]
    assert fourth["similarity_topk_bruteforce"] == third["similarity_topk_bruteforce"]
    assert fourth["dedup_cluster_assignment"] == third["dedup_cluster_assignment"]

    fifth = edit("sinks/versioned.py")
    assert fifth["versioned_sink_roundtrip"] != fourth["versioned_sink_roundtrip"]
    for n in ("group_agg_pricing_summary", "pagerank_purchases", "dedup_cluster_assignment"):
        assert fifth[n] == fourth[n], n
