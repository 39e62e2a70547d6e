"""Dump `.explain("formatted")` of named registry queries to
plans/<round>/<query>_<tag>.txt — the before/after plan evidence for a
round's optimization work.

Usage: python tools/explain.py --round rNN <tag> <query> [<query> ...]

For the iterative graph/CC queries the query-level plan is
checkpoint-truncated; tools/loopbody.py captures their loop bodies.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from domanda_etl_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", required=True, help="plans/ subdirectory, e.g. r17")
    ap.add_argument("tag")
    ap.add_argument("names", nargs="+", metavar="query")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.round,
    )
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


if __name__ == "__main__":
    main()
