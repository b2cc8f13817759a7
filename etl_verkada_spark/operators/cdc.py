"""Change-data-capture and slowly-changing-dimension operators
(SURVEY.md §2 S9-adjacent — the batch complements of the streaming
foreachBatch MERGE in streaming/upsert.py; the reference's scheduled
re-sync, task.ts:228-271, is the degenerate 'latest snapshot wins'
case of both).

* ``scd2_build`` — collapse an event stream into type-2 validity
  intervals: one row per (entity, state-run) with [valid_from,
  valid_to) bounds. The warehouse-side history table every
  point-in-time join needs.
* ``cdc_snapshot_diff`` — diff two table snapshots into an
  insert/update/delete changeset keyed by primary key.

Both are single-shuffle plans: SCD2 is two window passes over one
(user, time) sort; the snapshot diff is one full-outer join on the
key. At 100 TB the diff's scan cost is the two snapshots and nothing
else — no sort, no window — and the output is only the churn, which
is what makes log-shipping cheaper than re-copying snapshots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import sql, table
from ..registry import spec, sql_spec


def _scd2_intervals(ev: DataFrame, weighted: bool = False) -> DataFrame:
    """Gaps-and-islands core shared by scd2_build and scd2_apply.

    ``ev`` columns: user_id, event_type, us, event_id [, w]. With
    ``weighted`` each row contributes ``w`` to its run's n_events —
    scd2_apply uses this to fold an already-aggregated open interval
    in as a single seed row.
    """
    order = Window.partitionBy("user_id").orderBy("us", "event_id")
    run = ev.withColumn(
        "is_start",
        F.when(
            F.lag("event_type").over(order).isNull()
            | (F.lag("event_type").over(order) != F.col("event_type")),
            1,
        ).otherwise(0),
    ).withColumn(
        "run_id",
        F.sum("is_start").over(
            order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    n_events = (
        F.sum("w") if weighted else F.count(F.lit(1))
    )
    intervals = run.groupBy("user_id", "run_id").agg(
        # all rows in a run share one state by construction; MIN (not
        # first()) keeps the aggregate deterministic and oracle-equal
        F.min("event_type").alias("state"),
        F.min("us").alias("valid_from"),
        n_events.alias("n_events"),
    )
    nxt = Window.partitionBy("user_id").orderBy("run_id")
    return intervals.select(
        "user_id",
        "run_id",
        "state",
        "valid_from",
        F.lead("valid_from").over(nxt).alias("valid_to"),
        "n_events",
    )


def scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 intervals of each user's event_type state.

    Gaps-and-islands over one sort: a run starts where the state
    differs from the previous event's (lag), run ids are the running
    count of starts, and each run aggregates to [first ts, next run's
    first ts). The NULL valid_to of the open (current) interval is the
    SCD2 convention. Both windows share the (user_id, us, event_id)
    sort — one exchange, one sort, asserted in tests. The total order
    includes event_id because ts alone is not unique.
    """
    e = table(spark, sf_dir, "events")
    ev = e.select(
        "user_id",
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        "event_id",
    )
    return _scd2_intervals(ev)


ORACLE_SCD2_BUILD = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
  FROM events
),
runs AS (
  SELECT *,
    CASE WHEN LAG(event_type) OVER w IS NULL
           OR LAG(event_type) OVER w <> event_type
         THEN 1 ELSE 0 END AS is_start
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
numbered AS (
  SELECT *,
    CAST(SUM(is_start) OVER (
      PARTITION BY user_id ORDER BY us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
  FROM runs
),
intervals AS (
  SELECT
    user_id,
    run_id,
    MIN(event_type) AS state,
    MIN(us) AS valid_from,
    COUNT(*) AS n_events
  FROM numbered
  GROUP BY user_id, run_id
)
SELECT
  user_id,
  run_id,
  state,
  valid_from,
  LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to,
  n_events
FROM intervals
"""


#: scd2_apply history/delta split: events span 2024-01-01..01-30 at
#: every SF; the last week is the "arriving" batch.
SCD2_SPLIT_US = 1_706_054_400_000_000  # 2024-01-24T00:00:00Z, micros


def scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance: fold a batch of newly-arrived
    events into an existing type-2 history WITHOUT rescanning closed
    history — and prove the fold exact, because the oracle is the
    full-recompute SQL (the same "incremental == recompute" discipline
    as agg_incremental_merge / stream_mv_refresh, applied to the
    warehouse's core dimension-history op).

    Mechanics: history = the MATERIALIZED interval table (landed once
    per sf_dir as a parquet fixture — the upstream state a real
    warehouse would hold; the fold itself runs from it every call,
    mirroring stream_mv_refresh's landing discipline); delta = events
    at/after SCD2_SPLIT_US (event time is a clean split, so every
    delta event sorts after every history event). Users absent from
    the delta pass their intervals through UNTOUCHED. For touched
    users, only the OPEN interval (valid_to IS NULL — by construction
    each user's last) can change: it is re-encoded as one weighted
    seed row (its state at its valid_from carrying n_events as weight)
    and the gaps-and-islands core reruns over seed + delta rows alone;
    recomputed run ids are then shifted by the open run's position so
    numbering matches the recompute. Closed intervals are never
    recomputed, resorted, or even re-read beyond the pass-through —
    at 100 TB the work is |delta| + |touched open intervals| (one row
    per touched user), while the full recompute resorts the entire
    history. The oracle equality is exactly the statement that this
    shortcut loses nothing; the bench row (sf1) is the incremental-
    vs-recompute crossover measured.
    """
    import os

    from .scans import _land_dir

    e = table(spark, sf_dir, "events")
    ev = e.select(
        "user_id",
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        "event_id",
    )
    land = _land_dir(sf_dir, "scd2_hist")
    done = os.path.join(land, "_LANDED")
    if not os.path.exists(done):
        import shutil

        shutil.rmtree(land, ignore_errors=True)
        _scd2_intervals(
            ev.filter(F.col("us") < SCD2_SPLIT_US)
        ).write.mode("overwrite").parquet(land)
        with open(done, "w") as f:
            f.write("ok")
    hist = spark.read.parquet(land).select(
        "user_id", "run_id", "state", "valid_from", "valid_to", "n_events"
    )
    delta = ev.filter(F.col("us") >= SCD2_SPLIT_US)

    touched = delta.select("user_id").distinct()
    untouched = hist.join(touched, "user_id", "left_anti")
    h_touched = hist.join(touched, "user_id", "left_semi")
    closed = h_touched.filter(F.col("valid_to").isNotNull())
    opened = h_touched.filter(F.col("valid_to").isNull())

    seed = opened.select(
        "user_id",
        F.col("state").alias("event_type"),
        F.col("valid_from").alias("us"),
        F.lit(-1).cast("long").alias("event_id"),
        F.col("n_events").alias("w"),
    )
    merged = seed.unionByName(
        delta.withColumn("w", F.lit(1).cast("long"))
    )
    recomputed = _scd2_intervals(merged, weighted=True)
    bases = opened.select(
        "user_id", (F.col("run_id") - 1).alias("base_run")
    )
    recomputed = (
        recomputed.join(bases, "user_id", "left")
        .withColumn(
            "run_id",
            F.col("run_id") + F.coalesce(F.col("base_run"), F.lit(0)),
        )
        .drop("base_run")
    )
    cols = ["user_id", "run_id", "state", "valid_from", "valid_to",
            "n_events"]
    return (
        untouched.select(*cols)
        .unionByName(closed.select(*cols))
        .unionByName(recomputed.select(*cols))
    )


#: deterministic synthetic "old snapshot" perturbation: rows dropped
#: from the old snapshot (-> inserts in the diff), rows changed in the
#: new one (-> updates), rows present only in the old one (-> deletes).
CDC_INS_MOD = 97
CDC_UPD_MOD = 89
CDC_DEL_MOD = 101


def _snapshots(spark: SparkSession, sf_dir: str):
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = o.filter(F.col("o_orderkey") % CDC_INS_MOD != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % CDC_UPD_MOD == 0,
            F.col("o_totalprice") + 1.0,
        ).otherwise(F.col("o_totalprice")),
    )
    new = o.filter(F.col("o_orderkey") % CDC_DEL_MOD != 0)
    return old, new


# Keyed diff of two snapshots -> (op, key, new values). One full-outer
# join on the primary key; the op is decided by key presence and column
# comparison. Comparison on +1.0-perturbed doubles is exact
# (integer-valued deltas). Unchanged rows are dropped: the changeset is
# the output, so its size is the churn, not the table. At 100 TB both
# snapshots shuffle once on the key; with both stored bucketed on the
# key (join_bucketed's layout) the diff is exchange-free.
#
# The full-outer sort-merge join beats a tag-union + single-exchange
# groupBy(key) diff (sf1, one session, min of 5): 0.89-1.00 s against
# 1.19-1.29 s for the max(when(side, struct)) form (SortAggregate) and
# 1.10-1.22 s for the scalar max(when) + min/max(side) form
# (HashAggregate). Halving the exchanges does not pay for building a
# |keys|-sized hash/sort agg state: the SMJ streams both sorted sides
# with O(1) state, and nearly-unique keys make partial aggregation pure
# overhead.
ORACLE_CDC_SNAPSHOT_DIFF = f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
old AS (
  SELECT
    o_orderkey,
    o_orderstatus,
    CASE WHEN o_orderkey % {CDC_UPD_MOD} = 0 THEN o_totalprice + 1.0
         ELSE o_totalprice END AS o_totalprice
  FROM base WHERE o_orderkey % {CDC_INS_MOD} <> 0
),
new AS (
  SELECT * FROM base WHERE o_orderkey % {CDC_DEL_MOD} <> 0
)
SELECT op, o_orderkey, new_status, new_totalprice FROM (
  SELECT
    CASE
      WHEN o.o_orderkey IS NULL THEN 'insert'
      WHEN n.o_orderkey IS NULL THEN 'delete'
      WHEN o.o_orderstatus <> n.o_orderstatus
        OR o.o_totalprice <> n.o_totalprice THEN 'update'
    END AS op,
    COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
    n.o_orderstatus AS new_status,
    n.o_totalprice AS new_totalprice
  FROM old o
  FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
WHERE op IS NOT NULL
"""


def cdc_merge_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply an insert/update/delete changeset to a snapshot — the batch
    MERGE-with-deletes that upsert_merge (update/insert only) does not
    cover. Proof obligation by construction: applying
    ``cdc_snapshot_diff(old, new)`` onto ``old`` must reproduce ``new``
    exactly, so the oracle is simply the new-snapshot definition — the
    driver's hash check certifies the apply semantics end-to-end
    (deletes removed, updates replaced, inserts present, untouched rows
    carried unchanged).

    Plan: one left-anti join of the snapshot against the changeset keys
    (drops deleted AND updated rows) + a union of the insert/update
    images. Both sides hash-partition on the key — at 100 TB with the
    snapshot stored bucketed on o_orderkey (join_bucketed's layout) the
    anti join is exchange-free and only the changeset (churn-sized, not
    table-sized) shuffles. This is the DataFrame form of the
    ``MERGE WHEN MATCHED [AND op='delete'] THEN DELETE`` statement
    lakehouse table formats execute.
    """
    old, _ = _snapshots(spark, sf_dir)
    ops = sql(spark, sf_dir, ORACLE_CDC_SNAPSHOT_DIFF)
    upserts = ops.filter(F.col("op") != "delete").select(
        "o_orderkey",
        F.col("new_status").alias("o_orderstatus"),
        F.col("new_totalprice").alias("o_totalprice"),
    )
    touched = ops.select("o_orderkey")
    return old.join(touched, "o_orderkey", "left_anti").unionByName(upserts)


#: the applied table must equal the new snapshot by definition
ORACLE_CDC_MERGE_OPS = f"""
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders
WHERE o_orderkey % {CDC_DEL_MOD} <> 0
"""


QUERIES = {
    "scd2_build": spec(
        scd2_build, ORACLE_SCD2_BUILD, "beyond",
        doc="SCD type-2 validity intervals (gaps-and-islands, one sort)",
    ),
    "cdc_snapshot_diff": sql_spec(
        ORACLE_CDC_SNAPSHOT_DIFF, "beyond",
        doc="keyed snapshot diff -> insert/update/delete changeset",
    ),
    "scd2_apply": spec(
        scd2_apply, ORACLE_SCD2_BUILD, "beyond",
        doc="incremental SCD2 fold of arriving events == full recompute "
            "(oracle is the rescan)",
    ),
    "cdc_merge_ops": spec(
        cdc_merge_ops, ORACLE_CDC_MERGE_OPS, "beyond",
        doc="apply insert/update/delete changeset to a snapshot "
            "(MERGE with deletes; oracle is the target snapshot)",
    ),
}
