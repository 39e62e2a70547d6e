"""Regenerate QUERIES.md: the full query registry as a table — every
registered query with its first docstring line, oracle status, and driver
window membership. Run: python tools/dump_queries.py"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def first_line(fn) -> str:
    doc = (fn.__doc__ or "").strip()
    if doc:
        return doc.splitlines()[0].strip()
    # fallback: the first inline comment in the function body
    import inspect

    try:
        for ln in inspect.getsource(fn).splitlines():
            s = ln.strip()
            if s.startswith("# "):
                return s[2:].strip()
    except (OSError, TypeError):
        pass
    return ""


def main(names: list[str] | None = None) -> None:
    """Write QUERIES.md with its rows in `names` order (default: the
    order queries() yields)."""
    names = names or entrymod._ordered_names()
    oracles = entrymod.oracle_sql()
    rows = []
    for i, n in enumerate(names):
        fn = entrymod._REGISTRY[n][0]
        window = "window" if i < 50 else "local gate"
        oracle = "SQL oracle" if n in oracles else "rows-only"
        summary = first_line(fn)
        if not summary and n in oracles:
            # fall back to the oracle's own text — the semantics in one line
            sql = " ".join(oracles[n].split())
            summary = f"`{sql[:110]}…`" if len(sql) > 110 else f"`{sql}`"
        rows.append((n, window, oracle, summary))
    out = [
        "# QUERIES — the full registry (generated by tools/dump_queries.py)",
        "",
        f"{len(names)} registered queries. The first 50 form the driver's",
        "CORRECTNESS window this round; every other entry runs under the",
        "identical local DuckDB-parity gate (tests/test_oracle_parity.py).",
        '"rows-only" = declared non-SQL-expressible (inherently approximate).',
        "",
        "| # | query | evidence | oracle | summary |",
        "|---|---|---|---|---|",
    ]
    for i, (n, window, oracle, doc) in enumerate(rows):
        doc = doc.replace("|", "\\|")
        out.append(f"| {i + 1} | `{n}` | {window} | {oracle} | {doc} |")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"QUERIES.md written ({len(names)} queries)")


if __name__ == "__main__":
    main()
