"""Interleaved A/B harness for per-query wall-time adjudications.

Runs the named queries INTERLEAVED (round-robin, N reps each) at sf0.1
with a control query in the rotation, printing per-rep wall seconds —
the protocol from PERF.md r12-r14 (same-session interleaving defeats
the 1.26x host-drift band that sequential runs conflate with plan
changes).  Usage:

    python tools/ab.py q1 q2 control [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from domanda_etl_spark.session import get_spark


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.isdigit()]
    reps = int(sys.argv[-1]) if sys.argv[-1].isdigit() else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ab")
    qs = entrymod.queries()
    # warmup: pay JIT/codegen once
    entrymod.entry(spark).write.format("noop").mode("overwrite").save()
    results: dict[str, list[float]] = {n: [] for n in names}
    for r in range(reps):
        for n in names:
            t0 = time.perf_counter()
            qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            results[n].append(dt)
            print(f"rep{r} {n}: {dt:.2f}s", flush=True)
    print("---")
    for n in names:
        v = results[n]
        print(f"{n}: min={min(v):.2f} reps={[round(x, 2) for x in v]}")
    spark.stop()


if __name__ == "__main__":
    main()
