"""Product-path benchmark for the mds_provider_spark engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload validate --seed 1 --seconds 1 --trace 0

Builds its inputs from the seed, starts Spark on local[N] with N the
number of usable cores (the set-up), then runs closed-loop passes for
``--seconds``: one pass after another in this one process, at least one.
The first pass is the first in a fresh JVM, as in a spark-submit job.
Every pass's output is checked. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a
traced run with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench")


def _program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "mds_provider_spark", "__init__.py"))


def _isolate_env() -> None:
    """Point Spark's and Python's scratch space into the checkout, and let
    the Python workers import the program from it."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM Spark starts (the launcher and the Spark JVM): temporary files
    # into the checkout, and no hsperfdata directory under /tmp. The JVM
    # lives for one pass, so it is tuned for start-up: C1 only, because C2's
    # compile time does not pay off within one pass, and no verification of
    # the bytecode of Spark's jars and of generated code (measurements in
    # perfbench/README.md).
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UnlockDiagnosticVMOptions "
        f"-XX:-BytecodeVerificationRemote -Djava.io.tmpdir={tmp}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def parallelism() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(par: int):
    from mds_provider_spark.session import get_spark

    spark = get_spark(
        "perfbench", parallelism=par,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
            # a traced pass can hold more executions and jobs than the default
            "spark.sql.ui.retainedExecutions": "5000",
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "10000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class MemSampler:
    """Peak resident memory (MB, summed PSS) of this process and all its
    descendants."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        from perfbench.proc import tree_pss_mb

        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def setup(par: int):
    """Start the JVM, the SparkContext and the session. Returns the
    session and the seconds it took."""
    t0 = time.perf_counter()
    spark = start_spark(par)
    setup_s = time.perf_counter() - t0
    log(f"set-up: {setup_s:.2f} s")
    return spark, setup_s


def closed_loop(workload, spark, seconds: float, tag: str, results: list,
                tracer=None, noop: bool = False) -> None:
    """Passes one after another until ``seconds`` have gone by; with a
    tracer, each pass's spans carry the pass's tag. ``noop`` adds the
    no-op resume to each validation pass."""
    t_end = time.perf_counter() + seconds
    while not results or time.perf_counter() < t_end:
        pass_tag = f"{tag}{len(results)}"
        if tracer is not None:
            tracer.pass_id = pass_tag
        try:
            results.append(workload.run_pass(spark, pass_tag, noop=noop))
            r = results[-1]
            log(f"pass {tag}{len(results) - 1}: {r.wall_s:.2f} s, {r.rows} rows, "
                f"{'ok' if r.ok else 'FAILED'}")
        except Exception as exc:  # a pass that raised counts as failed
            from perfbench.workloads import PassResult

            print(f"pass raised: {exc!r}", file=sys.stderr)
            results.append(PassResult(0.0, 0, False, repr(exc), tag=pass_tag))


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_pct"):
        return "%"
    if last.endswith("_n"):
        return "count"
    if last == "rows_per_s":
        return "rows/s"
    if last == "s" or last.endswith("_s") or "_s_" in last:
        return "s"
    if "bytes" in last:
        return "B"
    if last.endswith(("ratio", "coverage", "overhead", "share")):
        return "ratio"
    return "count"


def end_to_end(results: list, setup_s: float, peak_mb: float) -> dict:
    good = [r for r in results if r.ok]
    return {
        "rows_per_cpu_s": metric(statistics.median(
            [r.rows / r.cpu_s for r in good if r.cpu_s > 0] or [0.0]), "rows/cpu-s"),
        "setup_s": metric(setup_s, "s"),
        "peak_pss_mb": metric(peak_mb, "MB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _program_present():
        print(f"program not found: {ROOT}/mds_provider_spark", file=sys.stderr)
        return 2
    _isolate_env()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    workload = WORKLOADS[args.workload](CACHE, args.seed)
    log(f"inputs for seed {args.seed}: {time.perf_counter() - t0:.2f} s")
    par = parallelism()
    spark, setup_s = setup(par)
    results: list = []
    try:
        if args.trace:
            from perfbench import layers

            raw, results = layers.traced_run(workload, spark, args.seconds, CACHE,
                                             closed_loop)
            metrics = {k: metric(v, unit_of(k)) for k, v in raw.items()}
        else:
            with MemSampler() as mem:
                closed_loop(workload, spark, args.seconds, "p", results)
            metrics = end_to_end(results, setup_s, mem.peak_mb)
    finally:
        stop_spark(spark)
    failed = sum(not r.ok for r in results)
    for r in results:
        if not r.ok:
            print(f"failed pass: {r.error}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": len(results),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
