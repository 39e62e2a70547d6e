"""Benchmark of the domanda refresh job and of the program's surfaces beside
it (versioned-table maintenance and registry queries).

    python3 perfbench/run.py --workload flight_refresh --seed 1 --seconds 5 --trace 0

Runs one workload in one process against local[<cores>], checks every
output, and prints one JSON line as the last line of stdout:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones of BENCHMARK.json, with `--trace 1` the
per-layer ones; a traced run also writes its spans to stderr as one JSON
line at the end. The exit code is 0 only when every check passed.
See perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from domanda_etl_spark.session import get_spark  # noqa: E402
from pyspark import SparkContext  # noqa: E402

import flight  # noqa: E402
import maintenance  # noqa: E402
import mix  # noqa: E402
from meter import SCOPE_UNITS, RssSampler, StatusStore, Tracer  # noqa: E402

WORKLOADS = {"flight_refresh": flight, "query_mix": mix, "table_maintenance": maintenance}
WORK_DIR = ".perfbench_work"

E2E_UNITS = {"setup_s": "s", "cold_s": "s", "write_amp": "B/B"}
PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants: Spark's
    Python workers, forked by the JVM, outlive it for a moment, and
    `stop_children` must be able to wait for them."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def children() -> list[int]:
    """Pids whose parent is this process, ended-but-unreaped ones too."""
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(d))
    return out


def reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def stop_children(grace_s: float = 10.0) -> None:
    """Stop every process this one started and wait until each has ended:
    close the JVM's stdin (Spark's gateway exits on EOF), then send SIGTERM
    and at last SIGKILL to whatever is left."""
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # the JVM side may already be gone
            pass
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in children() if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while True:
            reap()
            if not children():
                return
            if time.monotonic() >= deadline:
                break
            time.sleep(0.05)


def layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit; a workload that does not
    exercise a layer reports 0 for it."""
    u = {"session.start_s": "s", "proc.peak_rss_mb": "MB", "unit.warm_s": "s",
         "trace.overhead_ratio": "ratio"}
    u.update({"sources.build_s": "s", "sources.exec_s": "s",
              "sources.rows_kept_ratio": "ratio", "sources.input_bytes": "bytes"})
    u.update({"clean.build_s": "s", "clean.self_s": "s", "clean.cpu_s": "s",
              "clean.rows_dropped": "count"})
    u.update({"join.build_s": "s", "join.self_s": "s", "join.fanout_ratio": "ratio"})
    u.update({"project.build_s": "s", "project.self_s": "s"})
    u.update({"dedup.self_s": "s", "dedup.shuffle_w_bytes": "bytes", "dedup.removed_ratio": "ratio"})
    for op in ("overwrite", "append", "merge", "compact", "read", "restore"):
        u.update({f"sink.{op}.self_s": "s", f"sink.{op}.bytes_written": "bytes",
                  f"sink.{op}.files_written": "count", f"sink.{op}.cpu_s": "s"})
    for scope in ("refresh", "cycle", "mix"):
        u.update({f"{scope}.{k}": unit for k, unit in SCOPE_UNITS.items()})
    u["q.geomean_s"] = "s"
    for q in mix.QUERIES:
        u.update({f"q.{q}.{k}": unit for k, unit in mix.Q_UNITS.items()})
    return u


class Harness:
    """One benchmark process: its work directory, Spark session, RSS
    sampler and tracer, and the timed set-up."""

    def __init__(self, args):
        self.args = args
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.abspath(
            os.path.join(WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}"))
        os.makedirs(self.work)
        # streaming checkpoints, manifests and Python workers' temp files
        # stay inside the work directory
        self.tmp = os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp)
        self.spark = None
        self.rss = RssSampler()
        self.tracer = Tracer(None, f"{args.workload}-{args.seed}")
        self.session_s = self.setup_s = 0.0

    def start_tracing(self):
        """Spans record from here on (the cold operation stays untraced)."""
        self.tracer.store = StatusStore(self.spark)

    def setup(self, generate) -> tuple[object, str]:
        """The process's one set-up: launch the JVM and start the session
        with the program's own settings, then generate the inputs. Returns
        the generator's result and the input directory."""
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        self.session_s = time.perf_counter() - t0
        self.rss.add_pid(self.spark._jvm.ProcessHandle.current().pid())
        out_dir = os.path.join(self.work, "input")
        result = generate(out_dir)
        self.setup_s = time.perf_counter() - t0
        return result, out_dir

    def deadline_passed(self, start: float) -> bool:
        return time.perf_counter() - start >= self.args.seconds

    def close(self):
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            stop_children()
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                os.rmdir(WORK_DIR)
            except OSError:  # another run's directory is still there
                pass


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (the self-check runs at a tiny scale)")
    p.add_argument("--corrupt", action="store_true",
                   help="corrupt the published output after each operation; the run must fail")
    return p.parse_args(argv)


def drive(h, w) -> tuple[dict[str, float], dict[str, float]]:
    """Units of work until `--seconds` have passed (at least one: the cold
    unit); a traced run then does one untraced warm unit and one traced
    unit. Returns the end-to-end and the per-layer values it measured."""
    start = time.perf_counter()
    times, written = [], []
    while True:
        seconds, nbytes = w.unit()
        times.append(seconds)
        written.append(nbytes)
        if h.deadline_passed(start):
            break
    e2e = {"setup_s": h.setup_s, "cold_s": times[0],
           "write_amp": statistics.median(written) / w.user_bytes}
    layers = {"session.start_s": h.session_s}
    if h.args.trace:
        layers["unit.warm_s"] = w.unit()[0]
        h.start_tracing()
        traced_s = w.traced_unit(layers)
        layers["trace.overhead_ratio"] = h.tracer.overhead_s / traced_s
    return e2e, layers


def main(argv=None) -> int:
    args = parse_args(argv)
    adopt_orphans()
    h = Harness(args)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with h.rss:
            w = WORKLOADS[args.workload].make(h)
            e2e, layers = drive(h, w)
            attempted, failed, errors = w.finish()
    finally:
        h.close()
    layers["proc.peak_rss_mb"] = h.rss.peak_bytes / 2**20
    units = layer_units() if args.trace else E2E_UNITS
    values = layers if args.trace else e2e
    if h.tracer.spans:
        print(json.dumps({"spans": h.tracer.dump()}, ensure_ascii=False), file=sys.stderr)
    for err in errors:
        print(f"CHECK FAILED: {err}", file=sys.stderr)
    out = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        # a workload that does not exercise a layer reports 0 for it
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(out, ensure_ascii=False), flush=True)
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
