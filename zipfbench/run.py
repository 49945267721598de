"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 zipfbench/run.py --workload {offline,serve,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout of the repository (the engine package
`telegram2elastic_spark` is imported from there).  Spark runs at
local[<cores>]; its scratch space, the generated corpus and every index live
in `.bench_work/` under the checkout and are removed at exit, as is every
process the run started.  The last line of standard output is
`{"correct", "attempted", "failed", "metrics"}`; with --trace 0 the metrics
are the end-to-end metrics, with --trace 1 the per-layer ones (the span
trace then goes to `.bench_out/`).  Every workload prints the same metrics,
each measured over its own operations; the line before the result gives
the figures particular to the workload.  Exit status is 0 only when every
check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

import spans as tracing  # the benchmark's own module, beside this file

ROOT = os.getcwd()
sys.path.insert(1, ROOT)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


class Context:
    """What a workload gets: Spark, the seed, its scratch dir, the clock."""

    def __init__(self, spark, args, work: str, t_proc0: float, spark_start_s: float, tracer):
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.t_proc0 = t_proc0
        self.spark_start_s = spark_start_s
        self.tr = tracer
        self.setup_s = None

    def setup_done(self) -> None:
        """Ends set-up: process start to here is setup_s."""
        self.setup_s = time.perf_counter() - self.t_proc0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


def _start_spark(work: str, cores: int):
    os.environ["SPARK_LOCAL_DIRS"] = work
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    from telegram2elastic_spark.session import get_spark

    spark = get_spark(
        "zipfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark


def _stop_spark() -> None:
    """Stop Spark, end the JVM, and wait for every process it started
    (also after a failed start: whatever the gateway launched)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = tracing.descendants(os.getpid())
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        _reap(tree)


def _alive(pid: int) -> bool:
    f = tracing.stat_fields(pid)
    return f is not None and f[0] != "Z"


def _reap(pids: list[int], timeout: float = 20.0) -> None:
    end = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < end:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids) and time.monotonic() < end + 10:
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_proc0 = tracing.process_start_perf()
    steal0 = tracing.steal_s()

    if not os.path.isdir(os.path.join(ROOT, "telegram2elastic_spark")):
        print(
            "zipfbench: run from a checkout root holding telegram2elastic_spark/",
            file=sys.stderr,
        )
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"zipfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".bench_work"))
    try:
        spark = _start_spark(work, _cores())
        spark_start_s = time.perf_counter() - t_proc0
        tracer = (
            tracing.Tracer(spark, os.getpid()) if args.trace else tracing.NullTracer()
        )
        ctx = Context(spark, args, work, t_proc0, spark_start_s, tracer)
        res = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            out = os.path.join(ROOT, ".bench_out")
            os.makedirs(out, exist_ok=True)
            tracer.write(
                os.path.join(out, f"trace-{args.workload}-{args.seed}.json"),
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "end_to_end": res.end_to_end,
                    "detail": res.detail,
                },
            )
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if "pyspark" in sys.modules:
            _stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    print(f"host steal during the run: {tracing.steal_s() - steal0:.1f} cpu-s")
    for p in res.problems[:20]:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    metrics = res.layer if args.trace else res.end_to_end
    print(
        f"workload={args.workload} seed={args.seed} rounds={res.rounds} "
        f"attempted={res.attempted} failed={res.failed}"
    )
    print("detail: " + ", ".join(f"{k}={v:.4g} {u}" for k, (v, u) in res.detail.items()))
    print(
        json.dumps(
            {
                "correct": not res.problems,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0 if not res.problems else 1


if __name__ == "__main__":
    sys.exit(main())
