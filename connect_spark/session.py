"""SparkSession factory and bootstrap for this engine.

Local test mode runs ``local[$SPARK_GRAFT_CPUS]`` in one JVM, but every
config here is chosen to also hold on a large multi-executor cluster:

- AQE on (runtime re-plan: coalesce small shuffle partitions, skew-join
  splitting, dynamic broadcast) — the reference has no optimizer at all
  (SURVEY.md §4.1), Catalyst+AQE is our substitute and upgrade.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster AQE coalescing makes the initial number mostly a ceiling.
- Arrow enabled so the pandas-UDF tail (the few operators that genuinely
  need Python) moves columnar batches, not pickled rows.

Sessions built elsewhere (the round driver's, a script's) reach the
engine too, so what the engine relies on lives in ``ensure_session``,
which every entry point that accepts a session calls: ``get_spark``,
``catalog.load_table``, ``Pipeline.dataframe``,
``sources.cdc_stream.register`` and the streaming registry queries.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

# Runtime SQL confs the engine relies on, pinned on every
# ``ensure_session`` call because a foreign session or a test may
# change them between calls:
# - nanosAsLong: events.parquet carries TIMESTAMP(NANOS), which Spark
#   otherwise refuses to read (PARQUET_TYPE_ILLEGAL); the catalog
#   loader converts the int64 nanos back to a timestamp;
# - UTC session tz: event-time windows and timestamp→string casts must
#   agree with the DuckDB oracle's naive timestamps;
# - LAST_WIN: Bloblang merge/squash, the right side wins on duplicate
#   map keys.
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
}

_SHIP_LOCK = threading.Lock()


def ensure_session(spark: SparkSession) -> SparkSession:
    """Make any session fit to run this engine; idempotent and
    thread-safe.  Pins ``RUNTIME_CONFS`` and, once per SparkContext,
    ships the ``connect_spark`` package to the Python workers.

    Pandas-UDF closures defined in this package are pickled BY
    REFERENCE, so the worker must import the module — which fails if
    the caller started Spark from a different cwd with no PYTHONPATH
    (exactly what an external driver does).  addPyFile works after
    session start and distributes to real clusters too.  The lock keeps
    concurrent first calls from rewriting the zip and adding it twice
    (Spark then fails tasks with "File ... exists and does not match
    contents")."""
    for key, value in RUNTIME_CONFS.items():
        spark.conf.set(key, value)
    sc = spark.sparkContext
    with _SHIP_LOCK:
        if not getattr(sc, "_connect_spark_shipped", False):
            sc.addPyFile(_package_zip())
            sc._connect_spark_shipped = True
    return spark


def _package_zip() -> str:
    """Zip the package's ``.py`` files to a per-process temp path."""
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"connect_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_STORED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, pkg_dir)
                    zf.write(full, os.path.join("connect_spark", rel))
    return zpath


def _cpus() -> int:
    """$SPARK_GRAFT_CPUS if set and positive, else 0 (= use cpu_count).
    The previous max(1, ...) clamped the unset sentinel 0 up to 1, so
    sessions built without the env var silently ran local[1]."""
    try:
        n = int(os.environ.get("SPARK_GRAFT_CPUS", "0"))
    except ValueError:
        return 0
    return n if n > 0 else 0


def get_spark(app_name: str = "connect_spark") -> SparkSession:
    """Build (or return) the shared SparkSession."""
    n = _cpus() or (os.cpu_count() or 4)
    # Shuffle width defaults to the core count; override for sessions
    # whose workloads are dominated by fixed per-partition overhead
    # (the unit suite: streaming state stores open one per shuffle
    # partition per micro-batch, and AQE cannot coalesce streaming).
    # bench.py and the round driver never set it.
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or str(n)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Optional override for sc.parallelize / local-list createDataFrame
    # slice counts (RDD default parallelism).  Unset = Spark's own
    # default (total cores).  The test suite pins a small value so
    # control-plane-sized local frames stop fanning into one empty
    # Python-RDD slice per core; bench.py and the round driver never
    # set it, so measured query behavior is unchanged.
    dp = os.environ.get("SPARK_GRAFT_DEFAULT_PARALLELISM")
    if dp:
        builder = builder.config("spark.default.parallelism", dp)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_session(spark)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
