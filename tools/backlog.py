"""Print the driver-verification backlog AND the evidence-age ranking
that drives the staleness-first window rotation (policy documented next
to `_FIRST50` in __spark_entry__.py, adopted round 11 per VERDICT r10
§next#1):

- backlog: registered queries never seen in any CORRECTNESS_r*.json and
  not in the current _FIRST50 window (must reach zero every round);
- age report: for every registered query, the LATEST round it appeared
  in a driver window, sorted oldest-first (ties alphabetical) — the
  window's slot-(c) candidates are read straight off the top.

Usage: python tools/backlog.py [--ages N]   (N = rows to print, def 60)
       python tools/backlog.py --freeze     (stamp WINDOW_FREEZE.json)
       python tools/backlog.py --drift      (queries whose stamp drifted:
                                             the policy-(b) window set)

--freeze records a sha256 of every registry query's SOURCE + ORACLE +
TRANSITIVE HELPER CODE at window-composition time into
WINDOW_FREEZE.json.  The companion test
(tests/test_registry_contract.py::test_window_freeze_covers_all_edits)
fails when any query's hash differs from the stamp and the query is NOT
in _FIRST50 — the r8/r14 lesson, mechanized (VERDICT r14 §next#1: 8
family queries were re-planned AFTER the r14 window froze, so the round
closed with no driver hash on the shipped plans).  Re-run --freeze after
every window edit; the diff of WINDOW_FREEZE.json shows exactly which
queries changed since the last freeze.

The stamp covers MORE than the registry function's own text (VERDICT
r15 §next#1: the r15 LPA pins landed in operators/graph.py while the
registry source was untouched, so the old getsource-only hash could not
see the re-plan).  Per query it now folds in, resolved by AST over the
entry module:
  - every domanda_etl_spark MODULE FILE the query's plan depends on —
    via the entry module's package-import aliases (S, T, dedup, ...),
    function-local `from domanda_etl_spark...` imports, and the
    package's own transitive intra-package imports;
  - every TOP-LEVEL entry-module helper (function or constant) the
    query references, transitively — the same hole one file closer
    (a shared `_t`/`_minhash` helper edit must drift its dependents).
Editing operators/graph.py after a freeze therefore drifts exactly the
graph-family stamps, and the contract test goes red until those queries
are re-windowed (proven by tests/test_registry_contract.py::
test_freeze_hash_sees_package_helper_edits against a mutated tmp copy).
"""

from __future__ import annotations

import ast
import glob
import hashlib
import inspect
import json
import os
import re
import sys
import textwrap
from collections import Counter
from functools import lru_cache
from pathlib import Path

sys.path.insert(0, ".")
import __spark_entry__ as entrymod  # noqa: E402

FREEZE_FILE = "WINDOW_FREEZE.json"

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the package tree the file hashes are read from — tests point this at a
# mutated tmp copy to prove helper edits drift the right stamps
PKG_ROOT = os.path.join(REPO_ROOT, "domanda_etl_spark")
_PKG = "domanda_etl_spark"


@lru_cache(maxsize=None)
def _pkg_modules(root: str) -> dict[str, tuple[str, bool]]:
    """module name -> (file path, is_package) for every package .py."""
    out: dict[str, tuple[str, bool]] = {}
    for p in sorted(Path(root).rglob("*.py")):
        rel = p.relative_to(Path(root).parent)
        parts = list(rel.with_suffix("").parts)
        is_pkg = parts[-1] == "__init__"
        if is_pkg:
            parts = parts[:-1]
        # the tmp-copy test renames the tree's parent dir; module names
        # must stay rooted at the package name regardless of location
        parts[0] = _PKG
        out[".".join(parts)] = (str(p), is_pkg)
    return out


def _resolve_from(module: str, names: list[str], known: set[str]) -> set[str]:
    """`from <module> import <names>` -> the module files it binds."""
    deps = set()
    for n in names:
        sub = f"{module}.{n}"
        deps.add(sub if sub in known else module)
    return {d for d in deps if d in known}


def _imports_of(tree: ast.AST, self_mod: str, is_pkg: bool, known: set[str]) -> set[str]:
    """domanda_etl_spark modules imported anywhere in `tree` (absolute
    or relative)."""
    deps: set[str] = set()
    container = self_mod.split(".") if is_pkg else self_mod.split(".")[:-1]
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == _PKG:
                    mod = a.name
                    while mod and mod not in known:
                        mod = mod.rpartition(".")[0]
                    if mod:
                        deps.add(mod)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = container[: len(container) - (node.level - 1)]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            if mod.split(".")[0] == _PKG:
                deps |= _resolve_from(mod, [a.name for a in node.names], known)
                if mod in known:
                    deps.add(mod)
    return deps


@lru_cache(maxsize=None)
def _module_graph(root: str) -> dict[str, frozenset[str]]:
    """Transitive intra-package dependency closure per module file."""
    mods = _pkg_modules(root)
    known = set(mods)
    direct = {
        m: _imports_of(ast.parse(Path(p).read_text()), m, is_pkg, known)
        for m, (p, is_pkg) in mods.items()
    }
    closed: dict[str, frozenset[str]] = {}

    def close(m: str, seen: frozenset[str]) -> frozenset[str]:
        if m in closed:
            return closed[m]
        acc = {m}
        for d in direct.get(m, ()):
            if d not in seen:
                acc |= close(d, seen | {m})
        result = frozenset(acc)
        if not (seen & direct.get(m, set())):  # cycle-free from here: cacheable
            closed[m] = result
        return result

    return {m: close(m, frozenset()) for m in mods}


@lru_cache(maxsize=None)
def _file_hash(root: str, mod: str) -> str:
    path, _ = _pkg_modules(root)[mod]
    return hashlib.sha256(Path(path).read_bytes()).hexdigest()


# ---- entry-module AST maps (parsed once; the entry file never changes
# ---- during a process) ---------------------------------------------------
@lru_cache(maxsize=None)
def _entry_maps() -> tuple[dict[str, str], dict[str, str], dict[str, str]]:
    """(alias -> pkg module, top-level def name -> source segment,
    top-level constant name -> source segment) for __spark_entry__."""
    src = Path(inspect.getsourcefile(entrymod)).read_text()
    tree = ast.parse(src)
    lines = src.splitlines()

    def seg_of(node: ast.AST) -> str:
        # line-sliced (ast.get_source_segment re-scans the whole 25k-line
        # file per call — quadratic over ~2k top-level nodes)
        return "\n".join(lines[node.lineno - 1 : node.end_lineno])

    known = set(_pkg_modules(PKG_ROOT))
    aliases: dict[str, str] = {}
    defs: dict[str, str] = {}
    consts: dict[str, str] = {}
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and not node.level:
            mod = node.module or ""
            if mod.split(".")[0] == _PKG:
                for a in node.names:
                    sub = f"{mod}.{a.name}"
                    aliases[a.asname or a.name] = sub if sub in known else mod
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            defs[node.name] = seg_of(node)
        elif isinstance(node, ast.Assign):
            seg = seg_of(node)
            for t in node.targets:
                if isinstance(t, ast.Name):
                    consts[t.id] = seg
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            consts[node.target.id] = seg_of(node)
    return aliases, defs, consts


def _names_and_imports(src: str) -> tuple[set[str], set[str]]:
    """(referenced names, pkg modules imported locally) in a source blob."""
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        return set(), set()
    names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    known = set(_pkg_modules(PKG_ROOT))
    mods = _imports_of(tree, _PKG, True, known)
    return names, mods


@lru_cache(maxsize=None)
def _deps_of(src: str, root: str) -> tuple[frozenset[str], frozenset[str]]:
    """(pkg modules, entry-module helper names) the source transitively
    depends on.  Helper expansion recurses through top-level entry
    functions; constants are leaves."""
    aliases, defs, consts = _entry_maps()
    mods: set[str] = set()
    helpers: set[str] = set()
    pending = [src]
    visited: set[str] = set()
    while pending:
        blob = pending.pop()
        names, direct_mods = _names_and_imports(blob)
        mods |= direct_mods
        for n in names:
            if n in aliases:
                mods.add(aliases[n])
            if n in visited:
                continue
            visited.add(n)
            if n in defs:
                helpers.add(n)
                pending.append(defs[n])
            elif n in consts:
                helpers.add(n)
    # expand to the package's transitive import closure
    graph = _module_graph(root)
    closed: set[str] = set()
    for m in mods:
        closed |= graph.get(m, frozenset())
    return frozenset(closed), frozenset(helpers)


def source_hash(name: str) -> str:
    """sha256 over the query's function source + oracle SQL + the hashes
    of every package module file and entry-module helper its plan
    transitively depends on (see module docstring — the r15 freeze-hash
    helper hole, closed)."""
    fn, sql = entrymod._REGISTRY[name]
    src = inspect.getsource(fn)
    mods, helpers = _deps_of(src, PKG_ROOT)
    _, defs, consts = _entry_maps()
    h = hashlib.sha256()
    h.update(src.encode("utf-8"))
    h.update(b"\0")
    h.update((sql or "").encode("utf-8"))
    for m in sorted(mods):
        h.update(b"\0" + m.encode() + b"=" + _file_hash(PKG_ROOT, m).encode())
    for n in sorted(helpers):
        seg = defs.get(n) or consts.get(n) or ""
        h.update(b"\0" + n.encode() + b"=")
        h.update(hashlib.sha256(seg.encode("utf-8")).digest())
    return h.hexdigest()


def freeze() -> None:
    stamp = {n: source_hash(n) for n in sorted(entrymod._REGISTRY)}
    with open(FREEZE_FILE, "w") as f:
        json.dump(stamp, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"froze {len(stamp)} query hashes -> {FREEZE_FILE}")


def drift() -> list[str]:
    """Registry queries (registration order) whose source_hash differs
    from the WINDOW_FREEZE.json stamp, or that the stamp lacks."""
    with open(os.path.join(REPO_ROOT, FREEZE_FILE)) as f:
        stamp = json.load(f)
    return [n for n in entrymod._REGISTRY if stamp.get(n) != source_hash(n)]


def evidence_rounds() -> dict[str, int]:
    """name -> latest CORRECTNESS round that checked it (0 = never)."""
    last: dict[str, int] = {}
    for f in sorted(glob.glob("CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", f).group(1))
        for k in json.load(open(f)):
            last[k] = max(last.get(k, 0), rnd)
    return last


def main() -> None:
    if "--freeze" in sys.argv:
        freeze()
        return
    if "--drift" in sys.argv:
        for n in drift():
            print(n)
        return
    n_show = 60
    if "--ages" in sys.argv:
        n_show = int(sys.argv[sys.argv.index("--ages") + 1])
    last = evidence_rounds()
    names = list(entrymod.queries().keys())
    window = set(entrymod._FIRST50)
    ever = {n for n in names if last.get(n, 0) > 0}
    backlog = [n for n in names if n not in ever and n not in window]
    print(
        f"registry={len(names)} ever-verified={len(ever)} "
        f"window={len(window)} backlog={len(backlog)}"
    )
    if backlog:
        print(textwrap.fill(", ".join(backlog), width=74))
    dist = Counter(last.get(n, 0) for n in names)
    print("evidence-round distribution:", dict(sorted(dist.items())))
    ranked = sorted(names, key=lambda n: (last.get(n, 0), n))
    print(f"oldest-evidence-first (top {n_show}; * = in current window):")
    for n in ranked[:n_show]:
        mark = "*" if n in window else " "
        print(f"  r{last.get(n, 0):02d} {mark} {n}")


if __name__ == "__main__":
    main()
