"""Schema introspection — the engine's answer to the reference's
``schema()`` hook (reference task.ts:78-91, which serves the output
schema of the connector so a consumer can wire up typed downstream
layers before any data flows).

Spark DataFrames are lazily analyzed, so a query's output schema is
available *without running a job*: building the DataFrame triggers
analysis only, and ``df.schema`` is the resolved output type.  The
helpers below expose that per registered query, as both a
``StructType`` and its canonical JSON form (round-trippable via
``StructType.fromJson``).

Caveat: a handful of registered callables perform side effects while
*building* the plan (landing files, starting a streaming query), so
``schemas()`` resolves lazily per name rather than eagerly snapshotting
every registered query — a consumer asks for the queries it will
actually wire up.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .catalog import DEFAULT_SF_DIR, TABLES, table
from .registry import build_registry


def query_schema(
    spark: SparkSession,
    name: str,
    sf_dir: str = DEFAULT_SF_DIR,
    registry=None,
) -> T.StructType:
    """Resolved output schema of one registered query.

    Analysis only — no job runs once the session has read the query's
    tables — except for the callables named in ``BUILD_JOB_ALLOW``
    (tests/test_relational.py), which run bounded jobs while they build
    (eager supersteps, cell-sized driver reads, land-then-read scans)."""
    if registry is None:
        registry = build_registry()
    if name not in registry:
        raise KeyError(f"unknown query: {name!r} (have {len(registry)})")
    return registry[name].fn(spark, sf_dir).schema


def schemas(
    spark: SparkSession,
    names: list[str],
    sf_dir: str = DEFAULT_SF_DIR,
) -> dict[str, str]:
    """``{query_name: schema_json}`` for the requested queries.

    JSON via ``StructType.jsonValue`` — byte-stable and parseable back
    with ``StructType.fromJson`` (asserted in tests/test_introspect.py).
    The registry is built once and shared across lookups.
    """
    registry = build_registry()
    return {
        n: json.dumps(query_schema(spark, n, sf_dir, registry).jsonValue())
        for n in names
    }


def table_schemas(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR
) -> dict[str, str]:
    """Input-side schemas: every catalog table's resolved schema JSON
    (after the catalog's quirk normalization, e.g. the events
    nanosecond-timestamp conversion)."""
    return {
        n: json.dumps(table(spark, sf_dir, n).schema.jsonValue())
        for n in TABLES
    }
