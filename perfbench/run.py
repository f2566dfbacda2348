"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds nothing: the program is the
``connect_spark`` package beside this directory. Inputs are generated
from the seed into ``.perfbench/`` under the checkout and removed at the
end; with ``--trace 1`` the span file and the Spark event log are kept
in ``.perfbench/traces/``. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("headline_queries", "pipeline_compiled", "cdc_stream")
# Spark task slots per workload. The CDC stream's micro-batches are
# small and its driver side is busy (the Python data source's planner
# process, the foreachBatch function, the tail generator), so it gets two
# of the four cores: with four slots its drains ran 17-42 % slower and
# no steadier on a 4-vCPU host.
CORES = {"headline_queries": 4, "pipeline_compiled": 4, "cdc_stream": 2}
DRIVER_MEM = "3g"
MIN_FREE_BYTES = 2 << 30


def _environment(work: str, cores: int, trace: bool, event_log: str
                 ) -> None:
    """Settings for the Spark session the program builds. Set before the
    JVM starts; the program itself is not changed."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(min(cores, os.cpu_count() or 1))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # every JVM, the spark-submit launcher's too, keeps its files here
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    args = ["--conf spark.ui.showConsoleProgress=false"]
    if trace:
        os.makedirs(event_log, exist_ok=True)
        args += ["--conf spark.eventLog.enabled=true",
                 "--conf spark.eventLog.compress=false",
                 f"--conf spark.eventLog.dir=file://{event_log}",
                 "--conf spark.sql.pyspark.udf.profiler=perf"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _stop_jvm() -> None:
    """End the JVM the session launched and wait for it; its Python
    workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "connect_spark", "__init__.py")):
        print(f"perfbench: no connect_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    free = shutil.disk_usage(base).free
    if free < MIN_FREE_BYTES:
        print(f"perfbench: {free >> 20} MiB free under {base}, need "
              f"{MIN_FREE_BYTES >> 20}", file=sys.stderr)
        return 3
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(base, f"{tag}-{os.getpid()}")
    traces = os.path.join(base, "traces")
    event_log = os.path.join(traces, f"{tag}.eventlog")
    shutil.rmtree(event_log, ignore_errors=True)
    _environment(work, CORES[args.workload], bool(args.trace), event_log)

    sys.path.insert(0, ROOT)
    import workloads

    run = workloads.Run(args.seed, args.seconds, bool(args.trace), work,
                        T_START, event_log if args.trace else None)
    run.rss.start()
    try:
        result = workloads.WORKLOADS[args.workload](run)
        run.tracer.write(os.path.join(traces, f"{tag}.spans.json"))
    finally:
        run.rss.stop()
        if run.spark is not None:
            run.spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: done at {time.perf_counter() - T_START:.1f} s",
          file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
