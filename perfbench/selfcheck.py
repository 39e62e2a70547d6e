"""Self-check of the benchmark at a tiny input scale.

    python3 perfbench/selfcheck.py

For each workload it asserts that an untraced run prints every end-to-end
metric of BENCHMARK.json with its unit and a traced run every per-layer
metric, both with a correct result and exit code 0; that a run whose
published output is corrupted after each operation reports
`"correct": false` and exits non-zero; and that the benchmark exits
non-zero without a result line when the program's sources are missing.
Takes about ten minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.05"


def run(*extra: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seed", "7",
           "--seconds", "1", "--scale", SCALE, *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def expect_metrics(result: dict | None, spec: list[dict], what: str) -> None:
    assert result is not None, f"{what}: no result line"
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in spec}
    assert got == want, f"{what}: metrics/units differ: {set(got.items()) ^ set(want.items())}"
    assert all(isinstance(v["value"], float) for v in result["metrics"].values()), what


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (x["name"] for x in bench["workloads"]):
        for trace, spec in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            rc, res = run("--workload", w, "--trace", trace)
            what = f"{w} --trace {trace}"
            assert rc == 0 and res and res["correct"] and res["failed"] == 0, f"{what}: {rc} {res}"
            expect_metrics(res, spec, what)
            print(f"ok   {what}: {len(spec)} metrics with units", flush=True)
        rc, res = run("--workload", w, "--trace", "0", "--corrupt")
        assert rc != 0 and res and not res["correct"] and res["failed"] > 0, f"{w} corrupt: {rc} {res}"
        print(f"ok   {w} --corrupt: run fails ({res['failed']} of {res['attempted']} failed)", flush=True)
    # a checkout that holds only the benchmark, inside this one
    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, res = run("--workload", bench["workloads"][0]["name"], cwd=bare)
        assert rc != 0 and res is None, f"bare checkout: {rc} {res}"
        print("ok   without the program's sources: exit code", rc, "and no result", flush=True)
    finally:
        shutil.rmtree(bare)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:  # a benchmark run's directory is still there
            pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
