"""Table loaders for the driver testdata (TESTDATA.md).

All queries go through :func:`table` so that

* a session gets the runtime defaults of :mod:`.session` before its
  first read (the correctness driver passes its own SparkSession).
  Each session is configured once, so a conf set after that with
  ``spark.conf.set`` sticks;
* the ``events`` nanosecond-timestamp quirk is handled in exactly one
  place;
* column pruning / predicate pushdown reach the parquet scan — loaders
  return plain ``spark.read.parquet`` DataFrames, never cached/collected
  copies, so Catalyst sees the full logical plan down to the file scan;
* a read runs no Spark job once its file's schema is known. Reading
  parquet without a schema starts a one-task inference job on every
  call, so :func:`_file_schema` infers each file's schema once and
  every read passes it in. The memo key is the session (held weakly,
  so a stopped session's entries are freed) plus the file's version:
  its path, length and modification time. Only the schema is kept: the
  data is re-read on every action. A rewrite in place that keeps both
  length and mtime is not detected, the same staleness as Spark's own
  file-status cache;
* :func:`sql` registers a table's temp view only when the session's
  view is stale: bound to another file version, or no longer the view
  :func:`sql` registered;
* :func:`landing` decides when a fixture built from the tables (landed
  once, then reused across calls) is still current: it is keyed on the
  versions of the files it was built from.

Schema-on-read validation (reference S3, ``task.ts:104-106,155-158``) is
exposed via :func:`table_validated`, which applies an expected schema with
FAILFAST semantics the way the reference's TypeBox ``.typed(schema)``
aborts the run on shape drift.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import weakref
from collections.abc import Callable, Sequence

from py4j.java_gateway import JavaObject
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import _PACKAGE_ROOT, ensure_session_defaults

#: Every table the driver generates (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: A file's version: its path, length and modification time.
Version = tuple[str, int, int]

#: session -> {file version: inferred schema}. Sessions are held weakly
#: so a stopped session's entries go with it; keying on the session
#: keeps inference confs such as ``nanosAsLong`` per session.
_SCHEMAS: weakref.WeakKeyDictionary[
    SparkSession, dict[Version, T.StructType]
] = weakref.WeakKeyDictionary()


def _file_version(spark: SparkSession, path: str) -> Version:
    """``path``'s version, from the path's own Hadoop ``FileSystem``:
    about a millisecond, and it works for any URI the reader accepts
    (for a directory, the directory's own status).

    Every read starts here, so this is where a session built elsewhere
    gets its defaults: before inference, because ``events`` must be
    inferred with ``nanosAsLong`` set."""
    ensure_session_defaults(spark)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    status = jpath.getFileSystem(spark._jsc.hadoopConfiguration()).getFileStatus(
        jpath
    )
    return path, status.getLen(), status.getModificationTime()


def _file_schema(spark: SparkSession, version: Version) -> T.StructType:
    """The parquet schema Spark infers for the file at ``version``,
    memoized in ``_SCHEMAS``."""
    memo = _SCHEMAS.setdefault(spark, {})
    if version not in memo:
        memo[version] = spark.read.parquet(version[0]).schema
    return memo[version]


def _read(spark: SparkSession, version: Version) -> DataFrame:
    return spark.read.schema(_file_schema(spark, version)).parquet(version[0])


def _micros_ts(df: DataFrame) -> DataFrame:
    """``events.ts`` as Spark's native microsecond timestamp.

    Parquet TIMESTAMP(NANOS) reads as long ns (``nanosAsLong``); the
    data carries exactly microsecond precision, so the truncation is
    lossless. A ``ts`` that is already a timestamp passes through.
    """
    if dict(df.dtypes).get("ts") != "bigint":
        return df
    return df.withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
    )


def _table_at(spark: SparkSession, version: Version, name: str) -> DataFrame:
    df = _read(spark, version)
    return _micros_ts(df) if name == "events" else df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing engine-specific quirks.

    Runs no Spark job when this session has already read the file at
    its current length and mtime: the schema comes from the memo of
    :func:`_file_schema` (keyed on the weakly held session and the
    file's version). The first read runs Spark's one-task schema
    inference. An in-place rewrite that keeps length and mtime is not
    detected, as with Spark's file-status cache.
    """
    return _table_at(spark, _file_version(spark, _path(sf_dir, name)), name)


def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the full catalog as a dict."""
    return {name: table(spark, sf_dir, name) for name in TABLES}


#: session -> (its JVM ``SessionCatalog``, {bare table name: (the file
#: version its view reads, the view as :func:`sql` registered it)}),
#: held weakly like ``_SCHEMAS``.
_VIEWS: weakref.WeakKeyDictionary[
    SparkSession, tuple[JavaObject, dict[str, tuple[Version, JavaObject]]]
] = weakref.WeakKeyDictionary()


def sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """Run ``text`` on Spark over the catalog tables it names.

    This function owns the session's temp views named like a catalog
    table (``orders``, ``events``, ...). Each table named in ``text`` as
    a whole word gets a view under its bare name, read through
    :func:`table`. The view is registered again only when it is stale:

    * the file it would read now (``sf_dir``'s file, at its current
      length and mtime) is not the one the view reads, as after a
      switch to another scale or a rewrite of the file;
    * or the session's view of that name is no longer the one this
      function registered: someone else replaced or dropped it. That
      check costs two Py4J round trips per table.

    Otherwise the view is reused, and a repeat call costs the file
    version, that check and ``spark.sql``. Re-registering is safe
    because ``spark.sql`` resolves views when it analyzes the text: a
    DataFrame returned earlier keeps the tables it was built on.
    """
    if spark not in _VIEWS:
        _VIEWS[spark] = (spark._jsparkSession.sessionState().catalog(), {})
    session_catalog, bound = _VIEWS[spark]
    for name in TABLES:
        if not re.search(rf"\b{name}\b", text):
            continue
        version = _file_version(spark, _path(sf_dir, name))
        view = bound.get(name)
        if (
            view is None
            or view[0] != version
            or not view[1].equals(session_catalog.getTempView(name))
        ):
            _table_at(spark, version, name).createOrReplaceTempView(name)
            bound[name] = (version, session_catalog.getTempView(name))
    return spark.sql(text)


def land_dir(sf_dir: str, name: str) -> str:
    """The landing dir of ``name`` for ``sf_dir`` under ``/tmp/spark_graft_land``.

    Keyed on the data dir's basename, for reading, and a short hash of its
    real path and of this checkout's root: two data dirs with one basename,
    or two checkouts, each get their own landing.
    """
    base = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    where = f"{os.path.realpath(sf_dir)}\0{_PACKAGE_ROOT}"
    digest = hashlib.sha1(where.encode()).hexdigest()[:10]
    return f"/tmp/spark_graft_land/{name}_{base}-{digest}"


def landing(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    sources: Sequence[str],
    build: Callable[[str], None],
    *params: object,
) -> str:
    """The path of fixture ``name``, built by ``build(path)`` from the
    tables ``sources`` of ``sf_dir`` and reused while they are unchanged.

    The path is ``land_dir(sf_dir, name)/<version>``, where the version
    hashes each source file's length and mtime and ``params``, the
    values the build bakes in. A build is complete once its ``_LANDED``
    marker is written; without one, the whole ``land_dir`` is removed
    first, which drops older versions and builds that died part-way.
    Spark's readers skip ``_``-prefixed names, so state derived from the
    fixture can live inside it (``path/_state``) and goes with it.
    """
    key = [_file_version(spark, _path(sf_dir, t))[1:] for t in sources]
    version = hashlib.sha1(repr((key, params)).encode()).hexdigest()[:12]
    root = land_dir(sf_dir, name)
    path = os.path.join(root, version)
    marker = os.path.join(path, "_LANDED")
    if not os.path.exists(marker):
        shutil.rmtree(root, ignore_errors=True)
        build(path)
        open(marker, "w").close()
    return path


# ---------------------------------------------------------------------------
# Validated ingest (reference S3): explicit schema + FAILFAST, the Spark
# analogue of TypeBox `.typed(schema)` on every response page.
# ---------------------------------------------------------------------------

#: Expected schemas for strict reads. Parquet is self-describing, so the
#: FAILFAST path here is a *verification* (mismatch -> error at analysis),
#: mirroring the reference's runtime schema validation.
EXPECTED_SCHEMAS: dict[str, T.StructType] = {
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
}


def table_validated(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Strict schema-on-read: declared StructType, fail on drift.

    Reference parity: ``.typed(schema)`` + throw (task.ts:155-158); the
    v1.17.0 fix for optional/null tolerance on the last page maps to
    marking fields nullable here.
    """
    df = _read(spark, _file_version(spark, _path(sf_dir, name)))
    expected = EXPECTED_SCHEMAS.get(name)
    if expected is not None:
        have = {f.name: f.dataType for f in df.schema.fields}
        for field in expected.fields:
            if field.name not in have:
                raise ValueError(f"{name}: missing column {field.name}")
            if have[field.name] != field.dataType:
                raise ValueError(
                    f"{name}.{field.name}: expected {field.dataType}, "
                    f"got {have[field.name]}"
                )
    return df
