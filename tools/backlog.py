"""The driver window and the freeze stamps: one file, one writer.

The driver checks the first 50 names `queries()` yields against DuckDB.
That window, and a sha256 stamp per registry query, live together in
WINDOW_FREEZE.json; `__spark_entry__.py` reads the window back at import.

Usage: python tools/backlog.py --freeze   (compose the window, re-stamp,
                                           rewrite QUERIES.md, print what
                                           entered and left)
       python tools/backlog.py --drift    (queries whose stamp drifted)

A stamp is a sha256 of the query's source + oracle SQL + the code its
plan transitively depends on, resolved by AST over the entry module:
  - the code (not the comments or docstrings) of every
    domanda_etl_spark MODULE FILE the query's plan depends on —
    via the entry module's package-import aliases (S, T, dedup, ...),
    function-local `from domanda_etl_spark...` imports, and the
    package's own transitive intra-package imports;
  - every TOP-LEVEL entry-module helper (function or constant) the
    query references, transitively.
Editing operators/graph.py therefore drifts exactly the graph-family
stamps (tests/test_registry_contract.py::
test_freeze_hash_sees_package_helper_edits proves it on a mutated tmp
copy), and test_window_freeze_covers_all_edits fails while any drifted
query is outside the window, until the next --freeze puts it in.
"""

from __future__ import annotations

import ast
import glob
import hashlib
import inspect
import io
import json
import os
import re
import sys
import textwrap
import tokenize
from functools import lru_cache
from pathlib import Path

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
import __spark_entry__ as entrymod  # noqa: E402
from tools import dump_queries  # noqa: E402

FREEZE_FILE = "WINDOW_FREEZE.json"
FLAGSHIP = "domanda_pipeline_full"
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


_LINE_START = (tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT)


@lru_cache(maxsize=None)
def _file_hash(root: str, mod: str) -> str:
    """sha256 of the module's code as a token stream: comments, blank
    lines, line wrapping, spacing and docstrings (any statement that is a
    lone string) do not count, so a documentation-only edit drifts no
    stamp.  Token text is stable across Python versions, except that
    3.12+ splits an f-string into parts: moving the stamping interpreter
    past 3.11 drifts the stamps of modules with f-strings once."""
    path, _ = _pkg_modules(root)[mod]
    toks = [
        t
        for t in tokenize.generate_tokens(io.StringIO(Path(path).read_text()).readline)
        if t.type not in (tokenize.COMMENT, tokenize.NL, tokenize.ENDMARKER)
    ]
    lone = {
        i
        for i, t in enumerate(toks[:-1])
        if t.type == tokenize.STRING
        and toks[i + 1].type == tokenize.NEWLINE
        and (i == 0 or toks[i - 1].type in _LINE_START)
    }
    words = [
        tokenize.tok_name[t.type] if t.type in _LINE_START else t.string
        for i, t in enumerate(toks)
        if i not in lone and i - 1 not in lone  # the string and its line end
    ]
    return hashlib.sha256("\0".join(words).encode()).hexdigest()


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
    transitively depends on (see the module docstring)."""
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


def _frozen() -> dict:
    with open(os.path.join(REPO_ROOT, FREEZE_FILE)) as f:
        return json.load(f)


def compose(drifted: list[str], previous: list[str], last: dict[str, int]) -> list[str]:
    """The driver window, in order:
      1. the flagship `domanda_pipeline_full`, the regression guard over
         the whole ETL surface, in every window;
      2. every drifted query (added, or its stamp changed since the last
         freeze), oldest driver evidence first, so it gets driver evidence
         on the plan it ships with; when more than 49 drifted, the
         stalest win and the rest stay under the full-registry parity
         run of tests/test_oracle_parity.py;
      3. the previous window in its order, which keeps an earlier
         freeze's drifted queries in until the driver has run them;
      4. the rest of the registry, oldest driver evidence first;
    unregistered names dropped, cut at 50. Oldest evidence first means
    by (latest CORRECTNESS round that checked it, 0 if none; name), so a
    new query (no stamp, no evidence) comes first among the drifted.
    Nothing drifted leaves a full window unchanged: compose([], W, last)
    == W, so a second --freeze changes nothing."""
    registry = entrymod._REGISTRY

    def rank(n: str) -> tuple[int, str]:
        return (last.get(n, 0), n)

    order = [FLAGSHIP, *sorted(drifted, key=rank), *previous, *sorted(registry, key=rank)]
    return [n for n in dict.fromkeys(order) if n in registry][:50]


def freeze() -> None:
    """Compose the window from the drift against the current stamps, then
    write it with fresh stamps in one file write, and QUERIES.md in the
    order queries() will yield once the entry module re-reads it."""
    previous = _frozen()["window"]
    window = compose(drift(), previous, evidence_rounds())
    stamps = {n: source_hash(n) for n in sorted(entrymod._REGISTRY)}
    with open(os.path.join(REPO_ROOT, FREEZE_FILE), "w") as f:
        json.dump({"window": window, "stamps": stamps}, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"froze {len(stamps)} query hashes and a {len(window)}-query window -> {FREEZE_FILE}")
    dump_queries.main([*window, *(n for n in entrymod._REGISTRY if n not in window)])
    entered = [n for n in window if n not in previous]
    left = [n for n in previous if n not in window]
    print(f"entered ({len(entered)}): {', '.join(entered)}")
    print(f"left ({len(left)}): {', '.join(left)}")


def drift() -> list[str]:
    """Registry queries (registration order) whose source_hash differs
    from their WINDOW_FREEZE.json stamp, or that have no stamp."""
    stamps = _frozen()["stamps"]
    return [n for n in entrymod._REGISTRY if stamps.get(n) != source_hash(n)]


def evidence_rounds() -> dict[str, int]:
    """name -> latest CORRECTNESS round that checked it (0 = never)."""
    last: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)\.json$", f).group(1))
        with open(f) as fh:
            for k in json.load(fh):
                last[k] = max(last.get(k, 0), rnd)
    return last


def main() -> None:
    if "--freeze" in sys.argv:
        freeze()
    elif "--drift" in sys.argv:
        for n in drift():
            print(n)
    else:
        sys.exit("usage: python tools/backlog.py --freeze | --drift")


if __name__ == "__main__":
    main()
