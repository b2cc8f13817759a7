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
  so a stopped session's entries are freed) plus the file's path,
  length and modification time. Only the schema is kept: the data is
  re-read on every action. A rewrite in place that keeps both length
  and mtime is not detected, the same staleness as Spark's own
  file-status cache.

Schema-on-read validation (reference S3, ``task.ts:104-106,155-158``) is
exposed via :func:`table_validated`, which applies an expected schema with
FAILFAST semantics the way the reference's TypeBox ``.typed(schema)``
aborts the run on shape drift.
"""

from __future__ import annotations

import os
import re
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import ensure_session_defaults

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


#: session -> {(path, length, mtime): inferred schema}. Sessions are
#: held weakly so a stopped session's entries go with it; keying on the
#: session keeps inference confs such as ``nanosAsLong`` per session.
_SCHEMAS: weakref.WeakKeyDictionary[
    SparkSession, dict[tuple[str, int, int], T.StructType]
] = weakref.WeakKeyDictionary()


def _file_schema(spark: SparkSession, path: str) -> T.StructType:
    """The parquet schema Spark infers for ``path``, memoized in
    ``_SCHEMAS``. The ``FileStatus`` comes from the path's own Hadoop
    ``FileSystem``: about a millisecond, and it works for any URI the
    reader accepts (for a directory, the directory's own status).

    Every read passes through here, so this is where a session built
    elsewhere gets its defaults: before inference, because ``events``
    must be inferred with ``nanosAsLong`` set."""
    ensure_session_defaults(spark)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    status = jpath.getFileSystem(spark._jsc.hadoopConfiguration()).getFileStatus(
        jpath
    )
    key = (path, status.getLen(), status.getModificationTime())
    memo = _SCHEMAS.setdefault(spark, {})
    if key not in memo:
        memo[key] = spark.read.parquet(path).schema
    return memo[key]


def _read(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(_file_schema(spark, path)).parquet(path)


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


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing engine-specific quirks.

    Runs no Spark job when this session has already read the file at
    its current length and mtime: the schema comes from the memo of
    :func:`_file_schema` (keyed on the weakly held session, path,
    length and mtime). The first read runs Spark's one-task schema
    inference. An in-place rewrite that keeps length and mtime is not
    detected, as with Spark's file-status cache.
    """
    df = _read(spark, _path(sf_dir, name))
    return _micros_ts(df) if name == "events" else df


def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the full catalog as a dict."""
    return {name: table(spark, sf_dir, name) for name in TABLES}


def sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """Run ``text`` on Spark over the catalog tables it names.

    Each table named as a whole word is read through :func:`table` and
    registered as a temp view under its bare name, replacing any view of
    that name from an earlier call, at this or another scale. That is
    safe because ``spark.sql`` resolves views when it analyzes the
    text: a DataFrame returned earlier keeps the tables it was built on.
    """
    for name in TABLES:
        if re.search(rf"\b{name}\b", text):
            table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(text)


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
    df = _read(spark, _path(sf_dir, name))
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
