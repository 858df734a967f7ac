"""Benchmark of the ``idu`` user flows: analyze, query, stats refresh.

Run from the root of a checkout of this repository:

    python3 perfbench/run.py --workload query_snapshot --seed 1 \
        --seconds 10 --trace 0

Each workload drives the real CLI in-process (``dudb_spark.cli.main``)
against generated inputs, closed-loop with one client, and checks every
result against an oracle computed from the generator's arrays.  The last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.
See README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))

WORKLOADS = ("analyze_tree", "query_snapshot")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pin_environment(work: str) -> dict:
    """Environment the session is built from; recorded in the output."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # the engine's 16g default does not fit small machines; a quarter of
    # RAM, at most 4g, is ample for these inputs
    mem_g = max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    tmp = os.path.join(work, "tmp")
    env = {
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", f"{mem_g}g"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, the launcher's too: no perf-data or temp files
        # outside the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    os.environ.update(env)
    return env


def start_spark(work: str):
    from dudb_spark.session import get_spark

    spark = get_spark("dudb_spark-cli", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for tid in os.listdir(f"/proc/{p}/task") if os.path.isdir(
                f"/proc/{p}/task") else ():
            with contextlib.suppress(OSError):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(x) for x in f.read().split()]
                out += kids
                todo += kids
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched, and the
    Python workers the JVM started, have exited."""
    import signal

    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    workers = _descendants(proc.pid)
    with contextlib.suppress(Exception):
        gw.shutdown()
    proc.stdin.close()  # the JVM exits on end of input
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    for pid in workers:  # reparented on the JVM's exit; poll until gone
        while True:
            try:
                os.kill(pid, 0 if time.monotonic() < deadline
                        else signal.SIGKILL)
            except ProcessLookupError:
                break
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reset_peak_rss() -> None:
    with contextlib.suppress(OSError):
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/self/status")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class _Sink(io.TextIOBase):
    """Captures a command's stdout: line count, time of the first write,
    and the text when asked to keep it."""

    def __init__(self, keep: bool):
        self.keep = keep
        self.parts: list[str] = []
        self.lines = 0
        self.first = None

    def write(self, s: str) -> int:
        if self.first is None and s:
            self.first = time.perf_counter()
        self.lines += s.count("\n")
        if self.keep:
            self.parts.append(s)
        return len(s)

    def text(self) -> str:
        return "".join(self.parts)


class Bench:
    """Operation runner shared by the workloads: times each operation,
    traces it when asked, and tallies oracle checks."""

    def __init__(self, spark, work: str, trace: bool):
        import dudb_spark.cli as cli

        self.cli = cli
        self.spark = spark
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.rec = None
        self.undo: list = []
        self.op_log: list[dict] = []
        if trace:
            import spans as tr

            self.rec = tr.Recorder(spark.sparkContext)
            self.undo = tr.install(self.rec)

    def close(self) -> None:
        if self.rec is not None:
            import spans as tr

            tr.uninstall(self.undo)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- operations -----------------------------------------------------

    def _timed(self, name: str, fn, keep: bool, measured: bool):
        sink = _Sink(keep)
        rec = self.rec
        span = None
        err = None
        t0 = time.perf_counter()
        if rec is not None:
            rec.op += 1
            span = rec.begin(name)
        try:
            with contextlib.redirect_stdout(sink):
                fn()
        except (Exception, SystemExit) as e:  # counted, never fatal
            err = f"{name}: {type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        finally:
            if span is not None:
                rec.end(span)
        wall = time.perf_counter() - t0
        if span is not None:
            span.attrs["rows"] = sink.lines
            if sink.first is not None:
                span.attrs["first_row_s"] = sink.first - t0
            rec.finish_op(rec.op)
        self.op_log.append({"op": name, "s": wall, "measured": measured,
                            "error": err})
        return wall, sink, err

    def cli_op(self, argv: list[str], keep: bool = True,
               measured: bool = True):
        """Run one CLI command; returns (seconds, sink) or (None, sink)
        when it raised (the failure is counted)."""
        name = "cli." + "_".join(a for a in argv[:2] if a in _CMD_WORDS)
        wall, sink, err = self._timed(name, lambda: self.cli.main(argv),
                                      keep, measured)
        if err is not None:
            self.check(False, err)
            return None, sink
        return wall, sink

    def lib_op(self, name: str, fn, measured: bool = True):
        box = {}
        wall, _, err = self._timed(name, lambda: box.update(out=fn()),
                                   False, measured)
        if err is not None:
            self.check(False, err)
            return None, None
        return wall, box["out"]

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def check_equal(self, got, want, what: str) -> bool:
        return self.check(got == want, f"{what}: got {got!r}, want {want!r}")


_CMD_WORDS = {"analyze", "find", "stats", "compute", "reports", "generate"}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes (tiny: the smoke test)")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    repo = os.getcwd()
    if not os.path.isfile(os.path.join(repo, "dudb_spark", "cli.py")):
        _fail("run from the root of a dudb_spark checkout "
              "(no dudb_spark/cli.py here)")
    sys.path.insert(0, repo)
    try:
        import numpy  # noqa: F401
        import pyarrow  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        _fail(f"missing dependency: {e}")

    import workloads

    base = os.path.join(repo, ".bench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_environment(work)
    load_start = loadavg()
    spark = None
    bench = None
    try:
        fixtures = workloads.prepare(args.workload, args.seed, args.scale,
                                     work)
        reset_peak_rss()
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        bench = Bench(spark, work, bool(args.trace))
        res = workloads.RUNNERS[args.workload](bench, fixtures, args.seconds)
        rss = peak_rss_mb()
        if bench.rec is not None:
            bench.rec.dump(os.path.join(
                base, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        if bench is not None:
            bench.close()
        if spark is not None:
            stop_spark(spark)
        from gen import make_unlocked

        make_unlocked(work)
        shutil.rmtree(work, ignore_errors=True)

    setup_s = session_s + res["seed_s"]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "env": env,
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        "session_s": session_s,
        "seed_s": res["seed_s"],
        "flows": res["flows"],
        "error_rate": bench.failed / max(bench.attempted, 1),
        "failures": bench.failures[:20],
        "ops": bench.op_log,
    }
    print(json.dumps(detail))
    if args.trace:
        metrics = workloads.layer_metrics(bench, res)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (median(res["primary"]), "s"),
            "op_total_s": (median(res["cycles"]), "s"),
            "py_peak_rss_mb": (rss, "MB"),
            "db_bytes_per_entry": (res["db_bytes_per_entry"], "B"),
        }
    out = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
