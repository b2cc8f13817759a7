"""SparkSession factory and runtime configuration defaults.

Two layers:

* builder-time confs — only for sessions this package creates itself
  (tests, bench.py). The correctness driver passes its *own* session into
  ``queries()`` callables, so nothing correctness-critical may live here.
  They change speed only; a session built elsewhere keeps Spark's own
  behaviour, PySpark's ``pyspark.daemon`` included.
* runtime (SQLConf) defaults — settable on ANY session at any time.
  Each session is configured exactly once: by :func:`get_spark` for
  the sessions it builds, or on the first catalog read for a session
  someone else built (the driver's). A conf a caller sets afterwards
  with ``spark.conf.set`` sticks.

Scale notes (100 TB design point, local[32] test point):

* AQE is on: runtime join-strategy switching, skew-join splitting and
  partition coalescing replace hand-tuned shuffle partition counts on a
  real cluster (SURVEY.md §4 O1–O3).
* ``spark.sql.shuffle.partitions`` matches the local core count: one
  task wave per shuffle stage. An ABA-ordered sf1 matrix measured 64 vs
  32 as 0.37->0.28s on agg_groupby, 0.73->0.59s on llm_text_stats,
  neutral on join_large/dedup_lastwins — the extra wave is pure
  scheduling overhead at this data size. On a 1000-executor cluster
  set ~2-3x total cores and let AQE coalesce — the operators
  themselves never depend on the value.
* The session timezone is pinned to UTC so TIMESTAMP_LTZ values coincide
  with the naive timestamps DuckDB (the correctness oracle) produces.
* Python workers run under ``etl_verkada_spark.pyworker``
  (``spark.python.daemon.module``). PySpark's worker calls
  ``importlib.invalidate_caches()`` before every task, and on CPython
  3.11/3.12 each cached ``zipimport.zipimporter`` then re-reads its whole
  archive directory. The worker's ``sys.path`` holds ``pyspark.zip``
  (1,328 entries), the py4j zip and the spark-core jar (5,359 entries); a
  reused worker caches 16 importers over them (12, 2 and 2), and the call
  took 145-208 ms per task before any kernel ran (CPython 3.11.7, 4
  vCPUs). The daemon re-reads an archive only when its mtime or size
  changed: 0.1 ms. CPython 3.13 re-reads lazily, so there it saves
  nothing and costs a ``stat``. The daemon also moves those three
  archives behind the installed ``pyspark`` when it is the same release,
  so it imports pyspark from cached bytecode instead of compiling
  ``pyspark.zip``'s sources on every start (1.0 s -> 0.23 s). The
  package's parent directory goes on the workers' ``PYTHONPATH`` so the
  daemon imports from any working directory.
* ``nanosAsLong`` is required because the driver's ``events`` table is
  parquet TIMESTAMP(NANOS), which Spark 4 cannot read natively; the
  catalog converts the long back to a microsecond timestamp (lossless for
  this data — values carry exactly microsecond precision).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

#: Confs that are runtime-settable (plain SQLConf) and required for
#: correct + fast behavior regardless of who built the session.
RUNTIME_DEFAULTS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # events.parquet is TIMESTAMP(NANOS): read as long, convert in catalog.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for every pandas_udf / toPandas crossing of the JVM<->Python wall;
    # bigger batches amortize the per-batch Arrow framing cost.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Arrow-batched UDTF eval (functions/udtfs.py)
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # 64 MB broadcast budget (default 10 MB): a compact 2-3 column dim of
    # a few million rows is far cheaper to broadcast than to shuffle the
    # fact side against — measured at synthesized sf1, join_large flips
    # SMJ -> BHJ and drops ~17%. On a real cluster this rides executor
    # memory (64 MB build per executor is nothing at 16 GB+); AQE still
    # downgrades when runtime stats exceed the budget.
    "spark.sql.autoBroadcastJoinThreshold": "67108864",
}

#: The directory holding the package, for the Python workers' path.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Sessions that already carry the runtime defaults, held weakly so a
#: stopped session goes with it (as ``catalog._SCHEMAS`` does).
_CONFIGURED: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply the runtime defaults once per session.

    A session already configured returns at once, so a conf the caller
    set after that (``spark.conf.set``) is never overwritten. Confs the
    session refuses (e.g. static confs on some builds) are skipped.

    On a local[*] master ``spark.sql.shuffle.partitions`` is one wave
    per shuffle stage at ``SPARK_GRAFT_CPUS`` (default: the host's CPU
    count; the module docstring has the measured 64-vs-32 matrix at 32
    cores): derived, not constant, so lower-core bench runs keep one
    wave too. On any other master the driver host's cpu_count says
    nothing about executor parallelism, so the cluster's own setting is
    left untouched.
    """
    if spark in _CONFIGURED:
        return spark
    defaults = dict(RUNTIME_DEFAULTS)
    try:
        master = spark.conf.get("spark.master", "")
    except Exception:  # pragma: no cover - Connect sessions hide it
        master = ""
    if master.startswith("local"):
        defaults["spark.sql.shuffle.partitions"] = os.environ.get(
            "SPARK_GRAFT_CPUS"
        ) or str(os.cpu_count() or 8)
    for key, value in defaults.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf rejected; keep going
            pass
    _CONFIGURED.add(spark)
    return spark


def get_spark(app_name: str = "etl-verkada-spark") -> SparkSession:
    """Create (or fetch) a local session tuned for this machine.

    Honors ``SPARK_GRAFT_CPUS`` (the bench driver's thread count knob).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        # no console progress bar: its \r lines glue onto tool output
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.python.daemon.module", "etl_verkada_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    return ensure_session_defaults(builder.getOrCreate())
