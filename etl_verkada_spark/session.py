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
  real cluster.
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
* A JVM that :func:`get_spark` launches starts from a JDK dynamic AppCDS
  archive, ``/tmp/spark_graft_cds/<app>.<key>.jsa``: its classes come
  parsed and verified from a mapped file instead of the jars. ``<app>`` is
  the ``app_name`` of the launch, so tests, bench.py, perfbench and each
  tool map an archive their own traffic trained: an archive holds what its
  training run loaded, and the JVM keeps all of it resident. The key hashes
  the java binary Spark's launcher runs (real path, ``lib/modules`` size
  and mtime) and the name, size and mtime of every jar in
  ``$SPARK_HOME/jars``. With the archive the JVM gets
  ``-XX:SharedArchiveFile``; without it the launch trains one:
  ``-XX:ArchiveClassesAtExit=<app>.<key>.<pid>.part``, dumped when the JVM
  exits. On 4 vCPUs the dump takes 9-15 s and writes 170-210 MB, and the
  training run itself is slower (perfbench ``iterative_build`` cold pass
  11.7 and 13.4 s in two training runs, medians of 9.6-10.0 s stock and
  7.4-8.2 s from the archive). An ``atexit``
  handler stops the context, closes the JVM's stdin, waits for it, and
  renames the part to the archive only if the JVM exited with code 0: a
  dump that was killed or failed leaves a truncated file, and JDK 17 does
  not fall back from a truncated archive (it dies of SIGBUS mapping it). A
  caller that kills the JVM before the dump ends (perfbench's teardown
  does so after 30 s) gets no archive, and its next launch trains again.
  The next launch deletes parts whose owning process is gone and the
  app's archives of other keys. Two launches may train at once, each into
  its own part; a rename replaces the archive's directory entry, and a JVM
  that has the old archive mapped keeps its inode. The archive lives
  outside any per-run ``TMPDIR``, like the landing dirs; deleting the
  directory forces a retrain. The JVM maps code from that directory, so it
  must be a real directory (not a symlink) of the launching user that no
  one else can write to, created with mode 0700; any other gets a stock
  launch.
* The JVM refuses CDS with a non-empty directory on its classpath, and
  Spark puts its conf dir there. When that dir (``SPARK_CONF_DIR`` or
  ``$SPARK_HOME/conf``) holds only ``*.template`` files, the launch gets
  the empty ``/tmp/spark_graft_cds/conf`` instead, and the process env is
  restored once the session is up. Any other conf dir, a classpath
  extended by environment (``SPARK_DIST_CLASSPATH``, ``HADOOP_CONF_DIR``,
  ...) or a JVM that was already running gets a stock launch. JVM unified
  logging of these launches goes to stderr, so stdout stays the caller's;
  the dump's per-class ``[cds]`` notes are off.
* ``nanosAsLong`` is required because the driver's ``events`` table is
  parquet TIMESTAMP(NANOS), which Spark 4 cannot read natively; the
  catalog converts the long back to a microsecond timestamp (lossless for
  this data — values carry exactly microsecond precision).
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
import stat
import subprocess
import weakref

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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


#: Class-data-sharing archives of the JVMs :func:`get_spark` launches. A
#: fixed path, not ``tempfile.gettempdir()``: a harness that points ``TMPDIR``
#: at a per-run dir and deletes it would otherwise retrain on every run.
_CDS_DIR = "/tmp/spark_graft_cds"

#: Seconds a training launch waits at exit for its JVM to write the archive.
_CDS_DUMP_TIMEOUT_S = 120

#: Environment that puts more on the JVM's classpath than the jars the key
#: covers and the empty conf dir (Spark's launcher adds these when set).
_CLASSPATH_ENV = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                  "SPARK_PREPEND_CLASSES")


def _cds_key(spark_home: str) -> str:
    """Hash of what the archive depends on: the java binary Spark's
    launcher runs (its real path, its ``lib/modules`` size and mtime) and
    the name, size and mtime of every jar in ``$SPARK_HOME/jars``. No
    ``java -version`` subprocess.
    """
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    java = os.path.realpath(java or "java")
    modules = os.stat(os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules"))
    h = hashlib.sha1(
        f"{java}\0{modules.st_size}\0{modules.st_mtime_ns}".encode()
    )
    with os.scandir(os.path.join(spark_home, "jars")) as entries:
        for e in sorted(entries, key=lambda e: e.name):
            st = e.stat()
            h.update(f"\0{e.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, owned by another user
        pass
    return True


def _private_dir(path: str) -> bool:
    """Create ``path`` (mode 0700) if missing; True if it is a real
    directory of this user that no one else can write to."""
    with contextlib.suppress(FileExistsError):
        os.mkdir(path, 0o700)
    st = os.lstat(path)
    return stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid() and not st.st_mode & 0o022


def _cds_plan(app_name: str) -> tuple[str, str, str | None, str] | None:
    """``(JVM options, conf dir, .part to train or None, archive)`` for a
    launch of ``app_name`` from a class-data-sharing archive, or None for a
    stock launch.

    On the way it deletes this app's archives of other keys and the
    ``.part`` files whose owning process is gone.
    """
    if "PYSPARK_GATEWAY_PORT" in os.environ or any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    spark_home = _find_spark_home()
    real_conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    conf_dir = os.path.join(_CDS_DIR, "conf")
    app = re.sub(r"[^A-Za-z0-9_-]", "_", app_name)
    try:
        if os.path.isdir(real_conf) and not all(
            name.endswith(".template") for name in os.listdir(real_conf)
        ):
            return None
        # The JVM maps code from this dir and the loop below deletes in it:
        # someone else's dir, or a symlink to one, gets a stock launch.
        if not _private_dir(_CDS_DIR):
            return None
        with contextlib.suppress(FileExistsError):
            os.mkdir(conf_dir, 0o700)
        if os.listdir(conf_dir):
            return None
        key = _cds_key(spark_home)
        for name in os.listdir(_CDS_DIR):
            stem, _, ext = name.rpartition(".")
            head, _, tail = stem.rpartition(".")
            if (ext == "jsa" and head == app and tail != key) or (
                ext == "part" and not (tail.isdigit() and _pid_alive(int(tail)))
            ):
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(_CDS_DIR, name))
    except OSError:
        return None
    # JVM unified logging goes to stdout by default, where a harness prints
    # its result line; the dump at exit would log after it. Warnings go to
    # stderr, less the ~700 per-class "Skipping" notes the dump writes.
    log = "-Xlog:disable -Xlog:all=warning:stderr -Xlog:cds=off:stderr"
    archive = os.path.join(_CDS_DIR, f"{app}.{key}.jsa")
    if os.path.isfile(archive):
        return f"-XX:SharedArchiveFile={archive} {log}", conf_dir, None, archive
    part = os.path.join(_CDS_DIR, f"{app}.{key}.{os.getpid()}.part")
    return f"-XX:ArchiveClassesAtExit={part} {log}", conf_dir, part, archive


def _promote_at_exit(proc: subprocess.Popen, part: str, archive: str, owner: int) -> None:
    """End the training JVM; rename its ``.part`` to ``archive`` if the JVM
    exited with code 0, else delete it."""
    if os.getpid() != owner:  # a forked child inherits the handler
        return
    # Stopped first, the context's accumulator server does not see the JVM
    # hang up on it (an EOFError traceback on stderr).
    sc = SparkContext._active_spark_context
    if sc is not None:
        with contextlib.suppress(Exception):
            sc.stop()
    proc.stdin.close()
    try:
        code = proc.wait(timeout=_CDS_DUMP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return  # still dumping: the next launch deletes the orphaned part
    with contextlib.suppress(OSError):  # a JVM that failed early wrote no part
        if code == 0:
            os.replace(part, archive)
        else:
            os.remove(part)


def _launch(builder: SparkSession.Builder, app_name: str) -> SparkSession:
    """``builder.getOrCreate()`` for a session that launches the JVM, from
    ``app_name``'s class-data-sharing archive when the classpath allows one."""
    plan = _cds_plan(app_name)
    if plan is None:
        return builder.getOrCreate()
    options, conf_dir, part, archive = plan
    builder.config("spark.driver.extraJavaOptions", options)
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    proc = getattr(SparkContext._gateway, "proc", None)
    if part and proc is not None:
        atexit.register(_promote_at_exit, proc, part, archive, os.getpid())
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
    if SparkContext._gateway is None:
        return ensure_session_defaults(_launch(builder, app_name))
    return ensure_session_defaults(builder.getOrCreate())
