"""Upsert / MERGE semantics (reference S9, task.ts:228-271).

The reference's lease sync: per camera, PATCH the existing lease else
POST a new one — an upsert keyed on source_id, with the v1.17.0 "don't
duplicate" fix (CHANGELOG.md:16) making it last-wins. Spark-first
mapping:

* :func:`merge_last_wins` — the pure relational MERGE: union(state,
  updates) -> row_number window keyed on the merge key, ordered by the
  explicit version ordinal. One shuffle on the key; with the state
  table bucketed by key on disk, shuffle-free.
* :func:`foreach_batch_merge` — the Structured Streaming form: a
  ``foreachBatch`` sink applying the same merge into a parquet state
  dir per micro-batch (exactly the scheduled-run snapshot-diff the
  reference performs per Lambda invocation).

The ``upsert_merge`` registered query simulates two scheduled runs over
the orders table and oracle-checks the final converged state; MERGE
idempotence (applying a batch twice == once) is property-tested in
tests/test_properties.py.

Three incremental-maintenance families extend the pattern: a
materialized view (``stream_mv_*``), a drift monitor
(``stream_drift*``) and a per-series top-K board (``stream_topk*``).
Each is a :class:`Family`; one replay driver (a ``foreachBatch`` fold,
:func:`state_fold`) and one apply driver (the last landed chunk over a
cached prior state) run all three.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..catalog import landing, table
from ..checkpoints import release
from ..operators.aggregates import (
    ORACLE_AGG_INCREMENTAL_MERGE,
    scaled_long,
    unscale,
)
from ..operators.dedup import last_wins
from ..operators.quality import ORACLE_DQ_DRIFT, drift_pairs, drift_tvd
from ..registry import spec


def merge_last_wins(
    state: DataFrame | None,
    updates: DataFrame,
    key: list[str],
    version: list[str],
) -> DataFrame:
    """MERGE INTO state USING updates: WHEN MATCHED update (if newer),
    WHEN NOT MATCHED insert — expressed as union + last-wins window."""
    merged = updates if state is None else state.unionByName(updates)
    return last_wins(merged, key, version)


#: state-table bucket count. At 100 TB size this so one bucket's rows fit
#: an executor comfortably (e.g. 4096 buckets over 100 TB ~ 25 GB/bucket
#: on disk); locally 16 keeps the partition dirs observable in tests.
N_STATE_BUCKETS = 16


def state_bucket(key: list[str], n_buckets: int) -> F.Column:
    """Deterministic bucket of the merge key: pmod(hash(key), n)."""
    return F.pmod(F.hash(*[F.col(k) for k in key]), F.lit(n_buckets))


def _read_state(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a parquet state table; None ONLY when the path does not
    exist yet (the first batch). Any other read failure — corrupt or
    partial files, transient IO — must PROPAGATE: treating it as
    'first batch' would silently discard accumulated state and the
    stream would re-converge to a wrong answer."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e):
            return None
        raise


def foreach_batch_merge(
    target_path: str,
    key: list[str],
    version: list[str],
    n_buckets: int = N_STATE_BUCKETS,
):
    """Build a foreachBatch sink function merging each micro-batch into a
    parquet state directory (the streaming S9).

    The state table is laid out ``partitionBy(__bucket)`` with
    ``__bucket = pmod(hash(key), n_buckets)``, and each micro-batch is a
    partition-scoped MERGE (the Delta ``MERGE INTO`` / replaceWhere
    pattern, SURVEY §2.1 S9):

    1. the batch's touched buckets are computed (<= n_buckets ints);
    2. only those state partitions are read back (partition-pruned scan);
    3. merge = union + last-wins within the slice;
    4. dynamic partition overwrite rewrites ONLY the touched bucket dirs.

    A micro-batch that touches k of n buckets therefore rewrites k/n of
    the state instead of all of it — the difference between a bounded
    write per batch and a full-table write per batch at 100 TB. Re-running
    a batch is still idempotent (merge of already-merged rows is a no-op),
    which is the task-retry contract foreachBatch requires.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.withColumn("__bucket", state_bucket(key, n_buckets))
        state = _read_state(spark, target_path)
        if state is not None:
            touched = [
                r["__bucket"]
                for r in batch.select("__bucket").distinct().collect()
            ]
            # partition-pruned read: only the touched bucket dirs
            slice_ = state.filter(F.col("__bucket").isin(touched))
            # __bucket is a function of the key, so grouping by key alone
            # is enough; last_wins carries it through as a payload column
            merged = last_wins(slice_.unionByName(batch), key, version)
        else:
            merged = last_wins(batch, key, version)
        # localCheckpoint breaks lineage to the input path before the
        # overwrite (read-modify-write on the same location); dynamic
        # mode limits the overwrite to partitions present in `merged`,
        # i.e. exactly the touched buckets.
        snap = merged.localCheckpoint(eager=True)
        (
            snap.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket")
            .parquet(target_path)
        )
        # the snapshot existed only to break lineage across the
        # read-modify-write; once written it has no readers — free it
        # (checkpoints.py) instead of leaking one block set per batch
        release(snap)

    return _sink


def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 as two scheduled runs converging to one state.

    Run 1 upserts the even orders, run 2 the odd orders, keyed by
    customer; later runs win, ties broken by the highest order key —
    the deterministic replacement for the reference's arrival order.
    """
    # project to the merged columns first — the merge's argmax carries
    # whole rows, so surviving width is per-row cost (dedup.py docstring)
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    run1 = o.filter(F.col("o_orderkey") % 2 == 0).withColumn("run_idx", F.lit(1))
    run2 = o.filter(F.col("o_orderkey") % 2 == 1).withColumn("run_idx", F.lit(2))
    state = merge_last_wins(None, run1, ["o_custkey"], ["run_idx", "o_orderkey"])
    state = merge_last_wins(state, run2, ["o_custkey"], ["run_idx", "o_orderkey"])
    return state.select(
        "o_custkey",
        F.col("o_orderkey").alias("last_orderkey"),
        "run_idx",
        "o_totalprice",
    )


# The oracle performs the SAME two-phase merge the query simulates
# (run-1 argmax, then merge run-2), not the collapsed one-window
# shortcut: the collapsed form is value-equivalent but does half the
# work, so a bench ratio against it would price the query's semantics
# (two scheduled runs) against a baseline doing one.
ORACLE_UPSERT_MERGE = """
WITH run1 AS (
  SELECT o_custkey, o_orderkey, o_totalprice, CAST(1 AS INTEGER) AS run_idx
  FROM orders WHERE o_orderkey % 2 = 0
),
state1 AS (
  SELECT o_custkey, o_orderkey, o_totalprice, run_idx FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY o_custkey ORDER BY run_idx DESC, o_orderkey DESC
    ) AS rn FROM run1
  ) WHERE rn = 1
),
run2 AS (
  SELECT o_custkey, o_orderkey, o_totalprice, CAST(2 AS INTEGER) AS run_idx
  FROM orders WHERE o_orderkey % 2 = 1
),
merged AS (
  SELECT * FROM state1 UNION ALL SELECT * FROM run2
)
SELECT o_custkey, o_orderkey AS last_orderkey, run_idx, o_totalprice
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY o_custkey ORDER BY run_idx DESC, o_orderkey DESC
  ) AS rn FROM merged
) WHERE rn = 1
"""


#: part files per landed chunk. A chunk landed as ONE coalesce(1) file
#: is a single row group, so every downstream read of it — the
#: micro-batch trigger's scan AND the apply twin's arriving-chunk scan
#: — is a single task regardless of cores. Landing each chunk as
#: N_CHUNK_FILES deterministic part files parallelizes both, and the
#: write itself runs as N parallel tasks instead of one. 8 keeps file
#: sizes row-group-scale at the test SFs; a production landing sizes
#: this to arriving-partition bytes / maxPartitionBytes.
N_CHUNK_FILES = 8


@dataclass(frozen=True)
class Family:
    """One incremental-maintenance family as data.

    The landing source is ``columns`` of ``table``, split into
    ``n_chunks`` chunks by the SQL expression ``chunk`` and landed as
    the :func:`~..catalog.landing` named ``land``; ``version`` is the
    landing layout version — bump it when the chunk naming or the state
    layout changes, so stale fixtures rebuild instead of mis-parsing.

    The fold is ``partial`` (a batch -> mergeable partials), ``merge``
    (a union of partials -> partials) and ``finish`` (partials -> the
    output rows). ``merge`` must be associative and commutative over
    partials, so the replay's trigger grouping (``files_per_trigger``
    landed files per micro-batch) is free to differ from chunk
    boundaries without changing the state.
    """

    land: str
    table: str
    columns: tuple[str, ...]
    chunk: str
    n_chunks: int
    version: str
    files_per_trigger: int
    partial: Callable[[DataFrame], DataFrame]
    merge: Callable[[DataFrame], DataFrame]
    finish: Callable[[DataFrame], DataFrame]


def _mv_latest_version(state_dir: str) -> int | None:
    """Highest COMMITTED state version under ``state_dir`` (a ``v{bid}``
    subdirectory with Spark's ``_SUCCESS`` marker), or None. Pure
    driver-side directory listing — no Spark job."""
    best = None
    try:
        names = os.listdir(state_dir)
    except OSError:
        return None
    for nm in names:
        if nm.startswith("v") and os.path.exists(
            os.path.join(state_dir, nm, "_SUCCESS")
        ):
            try:
                bid = int(nm[1:])
            except ValueError:
                continue
            best = bid if best is None or bid > best else best
    return best


def state_fold(family: Family, state_dir: str):
    """Build the foreachBatch fold of ``family``'s partials into a
    parquet state table.

    State is VERSIONED: fold N writes ``state_dir/v{batch_id}``; the
    current state is the highest committed (``_SUCCESS``-marked)
    version. This buys three things over overwriting one state
    directory in place: (1) replay detection — sums and counts are not
    idempotent and foreachBatch is at-least-once, so a batch_id at or
    below the latest version is skipped — is a driver-side directory
    listing instead of a ``max(last_bid)`` Spark job per batch; (2)
    writing to a fresh directory removes the read-then-overwrite of one
    path, so no eager ``localCheckpoint`` job per batch is needed to
    break lineage — together those two jobs were ~40% of the sf1
    wall-clock of the MV replay; (3) a fold that dies mid-write leaves
    no ``_SUCCESS``, so the redelivered batch folds from the last
    committed version and rewrites the torn one (``mode=overwrite``:
    nothing ever reads a version without its marker). Superseded
    versions are pruned after commit (production would vacuum
    asynchronously). The state is metadata-sized (groups or K rows per
    series), so each version is written as one file.
    """

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        latest = _mv_latest_version(state_dir)
        if latest is not None and batch_id <= latest:
            return  # at-least-once replay: already folded, skip
        part = family.partial(batch_df)
        if latest is not None:
            state = batch_df.sparkSession.read.parquet(
                os.path.join(state_dir, f"v{latest}")
            )
            part = family.merge(state.unionByName(part))
        part.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{batch_id}")
        )
        if latest is not None:
            shutil.rmtree(
                os.path.join(state_dir, f"v{latest}"), ignore_errors=True
            )

    return fold


def _land_chunks(src: DataFrame, n_chunks: int, land: str) -> None:
    """Land a "files arriving" fixture: each chunk of ``src`` (rows
    tagged by a ``__chunk`` column) lands as up to N_CHUNK_FILES
    parquet parts under DETERMINISTIC names (``chunk_00_p00.parquet``
    ...), so lexical order IS landing order — append-mode part files
    carry UUID names whose sort order is arbitrary, which would make
    the 'arriving chunk' an arbitrary one. Each chunk is written to a
    staging dir and its part files renamed into place.

    The landing is the upstream fixture, not the operator under
    measurement, so it is built once per source version and reused (at
    sf1 the chunk re-scans and writes were 90%+ of the measured time,
    drowning the fold being benchmarked). Folds still run from scratch
    per call, and their state lives inside the landing, so a rebuilt
    landing never meets state derived from an older one.
    """
    stage = os.path.join(land, "_stage")
    for c in range(n_chunks):
        src.filter(F.col("__chunk") == c).drop("__chunk").repartition(
            N_CHUNK_FILES
        ).write.mode("overwrite").parquet(stage)
        parts = sorted(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        for i, part in enumerate(parts):
            os.replace(
                os.path.join(stage, part),
                os.path.join(land, f"chunk_{c:02d}_p{i:02d}.parquet"),
            )
    shutil.rmtree(stage)


def _landing(
    spark: SparkSession, sf_dir: str, family: Family
) -> tuple[str, StructType]:
    """The family's landing dir (built on first use) and the schema of
    its landed rows, which the replay stream reads with."""
    src = table(spark, sf_dir, family.table).select(
        *family.columns, F.expr(family.chunk).alias("__chunk")
    )
    land = landing(
        spark, sf_dir, family.land, [family.table],
        lambda path: _land_chunks(src, family.n_chunks, path),
        family.version,
    )
    return land, src.drop("__chunk").schema


def _chunk_groups(land: str, n_chunks: int) -> list[list[str]]:
    """The landed chunk files grouped by chunk, in landing order,
    validated: a group-count mismatch means a foreign or half-built
    landing — fail with the real story instead of an IndexError
    downstream."""
    groups: dict[str, list[str]] = {}
    for f in sorted(os.listdir(land)):
        if f.endswith(".parquet") and f.startswith("chunk_"):
            groups.setdefault(f[: len("chunk_00")], []).append(f)
    if len(groups) != n_chunks:
        raise RuntimeError(
            f"landing {land} holds {len(groups)} chunk groups "
            f"(expected {n_chunks}): {sorted(groups)}"
        )
    return [groups[k] for k in sorted(groups)]


def _replay(spark: SparkSession, sf_dir: str, family: Family) -> DataFrame:
    """Fold every landed chunk through an availableNow ``foreachBatch``
    stream from empty state; finish the last committed version."""
    land, schema = _landing(spark, sf_dir, family)
    state_dir = os.path.join(land, "_state")
    shutil.rmtree(state_dir, ignore_errors=True)
    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", family.files_per_trigger)
        .parquet(land)
        .writeStream.foreachBatch(state_fold(family, state_dir))
        .queryName(f"{family.land}_{uuid.uuid4().hex[:12]}")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    final = os.path.join(state_dir, f"v{_mv_latest_version(state_dir)}")
    return family.finish(spark.read.parquet(final))


def _apply(spark: SparkSession, sf_dir: str, family: Family) -> DataFrame:
    """One delta-only refresh: merge the last landed chunk's partials
    into the state of every earlier chunk. That prior state is a cached
    fixture inside the landing, primed once: its location names the
    landing version, so a rebuilt landing starts without it, and
    Spark's ``_SUCCESS`` marks a complete prime."""
    land, _ = _landing(spark, sf_dir, family)
    *earlier, last = _chunk_groups(land, family.n_chunks)
    state_dir = os.path.join(land, "_prior_state")
    if not os.path.exists(os.path.join(state_dir, "_SUCCESS")):
        family.partial(
            spark.read.parquet(
                *[os.path.join(land, f) for g in earlier for f in g]
            )
        ).coalesce(1).write.mode("overwrite").parquet(state_dir)
    part = family.partial(
        spark.read.parquet(*[os.path.join(land, f) for f in last])
    )
    state = spark.read.parquet(state_dir)
    return family.finish(family.merge(state.unionByName(part)))


#: landed event chunks of the MV family (one per event day modulo 4)
MV_CHUNKS = 4
MV_DAY_US = 86_400_000_000

#: the MV state: (event_type, count, int-cent sum) partials, never
#: finals, so the fold is a sum
MV = Family(
    land="mv_chunks",
    table="events",
    columns=("event_type", "value"),
    chunk=f"(unix_micros(cast(ts as timestamp)) div {MV_DAY_US}) % {MV_CHUNKS}",
    n_chunks=MV_CHUNKS,
    version="v3",
    files_per_trigger=N_CHUNK_FILES,
    partial=lambda df: df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(scaled_long("value")).alias("c"),
    ),
    merge=lambda df: df.groupBy("event_type").agg(
        F.sum("n").alias("n"), F.sum("c").alias("c")
    ),
    finish=lambda df: df.select(
        "event_type",
        F.col("n").alias("n_events"),
        unscale(F.col("c"), 2).alias("sum_value"),
    ),
)


def stream_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental materialized-view maintenance — the
    streaming twin of agg_incremental_merge: events arrive as
    micro-batches (one chunk-sized group of landed part files per
    trigger), a foreachBatch sink folds each batch's (event_type,
    count, int-cent sum) partials into a parquet state table, and the
    FINAL state must equal a from-scratch aggregate — the oracle IS the
    full recompute, so the driver's hash check proves no batch boundary
    lost or double-counted anything.

    The state stores associative partials (n, c), never finals; a sum
    is not idempotent the way last-wins MERGE is, so a replayed batch
    is skipped by version (see :func:`state_fold`).

    At 100 TB: state is |group| rows (metadata-sized); each refresh
    touches only the arriving partition — the streaming form of "never
    rescan history".
    """
    return _replay(spark, sf_dir, MV)


def stream_mv_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE incremental MV refresh step — the delta-only cost the
    continuous-aggregate pattern exists to buy (stream_mv_refresh's
    batch-apply twin, exactly like scd2_apply next to scd2_build).

    stream_mv_refresh replays ALL chunks through the fold, so its
    wall-clock is full-data work plus 4x micro-batch machinery — a
    statement about replay, not about steady-state refresh. THIS query
    answers the production question: the MV is current through
    yesterday (state folded from chunks 0..n-2, a cached fixture, same
    discipline as scd2_apply's landed history), one new day-chunk
    lands, what does bringing the MV current cost? Work = scan ONE
    arriving chunk + merge with metadata-sized state; the oracle is the
    from-scratch aggregate over ALL events, so the driver's hash check
    proves the shortcut loses nothing — and the bench ratio measures
    incremental refresh vs the full recompute a stateless engine must
    run.

    At 100 TB: this is the number that matters — refresh cost scales
    with the arriving partition, never with history.
    """
    return _apply(spark, sf_dir, MV)


#: drift monitor chunks (order rows by o_orderkey modulo 4)
DRIFT_CHUNKS = 4

#: the drift state: (feature, category, cnt_ref, cnt_cur) count
#: partials; TVD is finished from them once
DRIFT = Family(
    land="drift_chunks",
    table="orders",
    columns=(
        "o_orderkey", "o_orderdate", "o_orderstatus",
        "o_orderpriority", "o_totalprice",
    ),
    chunk=f"o_orderkey % {DRIFT_CHUNKS}",
    n_chunks=DRIFT_CHUNKS,
    version="v2",
    files_per_trigger=N_CHUNK_FILES,
    partial=lambda df: drift_pairs(df).groupBy("feature", "category").agg(
        F.sum("is_ref").alias("cnt_ref"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("cnt_cur"),
    ),
    merge=lambda df: df.groupBy("feature", "category").agg(
        F.sum("cnt_ref").alias("cnt_ref"),
        F.sum("cnt_cur").alias("cnt_cur"),
    ),
    finish=drift_tvd,
)


def stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor — the streaming twin of ``dq_drift``:
    order rows arrive as micro-batches (one chunk-sized group of landed
    part files per trigger), a foreachBatch sink folds each batch's
    (feature, category) count partials into a parquet state table, and
    the final TVD computed FROM THE FOLDED STATE must equal the batch
    audit's from-scratch answer — the oracle IS ``ORACLE_DQ_DRIFT``, so
    the driver's hash check proves no micro-batch boundary lost or
    double-counted a category.

    This is the production shape of drift monitoring: the reference
    window's counts are state, each arriving drop updates them
    incrementally, and the alert statistic is recomputed from
    metadata-sized partials — never by rescanning history. TVD's
    integer-exact numerator is what makes the streaming fold
    hash-comparable to the batch recompute (a PSI fold would
    accumulate float error per batch).

    At 100 TB: state is |feature x category| rows; per refresh cost is
    one aggregate over the arriving partition plus a state-version
    write, exactly like stream_mv_refresh.
    """
    return _replay(spark, sf_dir, DRIFT)


def stream_drift_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE incremental drift-monitor refresh step — stream_drift's
    batch-apply twin, completing the replay/steady-state pair the
    mv_refresh/mv_apply and scd2_build/scd2_apply rows already have.

    stream_drift replays ALL chunks through availableNow micro-batch
    machinery (DRIFT_CHUNKS triggers, a state version per trigger) — a
    replay-stress statement. THIS query answers the production
    question: counts are current through the last drop (state folded
    from chunks 0..n-2, a cached parquet fixture primed once per
    sf_dir), one new drop lands, what does bringing the TVD alert
    current cost? Work = one aggregate over the arriving chunk + a
    merge with the metadata-sized (feature, category) state. The
    oracle is dq_drift's from-scratch SQL over ALL orders, so the
    driver's hash check proves the incremental fold loses nothing.

    At 100 TB: refresh cost scales with the arriving partition, never
    with the reference window's history.
    """
    return _apply(spark, sf_dir, DRIFT)


#: streaming top-K: chunks landed (event_id modulo 4) / K kept per series
TOPK_CHUNKS = 4
TOPK_K = 5


def _topk_ranked(df: DataFrame) -> DataFrame:
    """Rank each series by exact cents, event_id tiebreak, and keep the
    top K with their rank — the semilattice prune
    ``topK(A ∪ B) = topK(topK(A) ∪ topK(B))``. The state keeps ``rnk``,
    so finishing is a projection, not a second window."""
    w = Window.partitionBy("event_type").orderBy(
        F.col("v_c").desc(), F.col("event_id").desc()
    )
    return df.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= TOPK_K
    )


#: the top-K state: K rows per series, whatever streamed through. The
#: replay groups chunk PAIRS per trigger: each micro-batch pays a fixed
#: offsets-log + listing + planning cost that dominated the replay and
#: swung 3x between clean runs, and two batches over four chunks still
#: exercise the multi-batch fold.
TOPK = Family(
    land="topk_chunks",
    table="events",
    columns=("event_id", "event_type", "value"),
    chunk=f"event_id % {TOPK_CHUNKS}",
    n_chunks=TOPK_CHUNKS,
    version="v3",
    files_per_trigger=2 * N_CHUNK_FILES,
    partial=lambda df: _topk_ranked(
        df.select("event_type", "event_id", scaled_long("value").alias("v_c"))
    ),
    merge=_topk_ranked,
    finish=lambda df: df.select(
        "event_type", "rnk", "event_id", unscale(F.col("v_c")).alias("value")
    ),
)


def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-series top-K leaderboard — the continuously
    maintained "largest transactions" board every ops dashboard has.
    Events arrive as micro-batches (landed part files per trigger; the
    prune-merge is associative and commutative, so trigger grouping is
    free to differ from chunk boundaries without changing the state); a
    foreachBatch fold keeps only K rows per series as state (the
    semilattice prune-merge of :func:`_topk_ranked`); the final
    leaderboard read FROM STATE must equal the from-scratch ranking
    over all events — the oracle is that one-shot SQL, so the driver's
    hash check proves no batch boundary dropped a contender.

    Windowed ranking is not expressible as a built-in streaming
    aggregate (rank needs its peers); the bounded prune-merge fold is
    the standard scalable answer: per-batch work is a TakeOrdered over
    the arriving chunk, state is K x |series| rows forever. At 100 TB
    that is the difference between maintaining a leaderboard and
    re-sorting history per refresh. Ordering is exact integer cents
    with event_id tiebreak, so the fold and the oracle agree
    bit-for-bit.
    """
    return _replay(spark, sf_dir, TOPK)


def stream_topk_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE incremental leaderboard refresh — stream_topk's batch-apply
    twin, completing the replay/steady-state pair the mv_refresh/
    mv_apply and drift/drift_apply rows have.

    stream_topk replays ALL chunks through availableNow micro-batch
    machinery (a replay-stress statement). THIS query answers the
    production question: the board is current through the last drop
    (state = K x |series| rows pruned from chunks 0..n-2, a cached
    parquet fixture primed once per sf_dir), one new chunk lands, what
    does bringing the leaderboard current cost? Work = TakeOrdered
    over the arriving chunk + a K-row merge. The oracle is the
    from-scratch ranking over ALL events, so the driver's hash check
    proves the semilattice prune loses no contender.

    At 100 TB: refresh cost scales with the arriving chunk; state
    never grows past K x |series| no matter how much history streamed.
    """
    return _apply(spark, sf_dir, TOPK)


ORACLE_STREAM_TOPK = f"""
WITH ranked AS (
  SELECT
    event_type,
    event_id,
    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v_c,
    ROW_NUMBER() OVER (
      PARTITION BY event_type
      ORDER BY CAST(FLOOR(value * 100 + 0.5) AS BIGINT) DESC,
               event_id DESC
    ) AS rnk
  FROM events
)
SELECT event_type, rnk, event_id,
       CAST(CAST(v_c AS DECIMAL(38,0)) / 100 AS DOUBLE) AS value
FROM ranked
WHERE rnk <= {TOPK_K}
"""


#: bench-only matched-work twin: the correctness oracle above is a
#: ONE-SHOT ranking, so an sf1 ratio against it would price Spark's
#: multi-batch replay against an engine doing a single pass. The chunk
#: assignment is ``event_id % TOPK_CHUNKS`` (deterministic, see TOPK)
#: and the replay groups chunk PAIRS per trigger, so DuckDB can fold
#: the IDENTICAL two batches: per-batch top-K prune, then prune-merge —
#: the same semilattice fold ``topK(topK(b1) ∪ topK(b2))``, whose
#: result provably equals the one-shot ranking (that equality is what
#: the correctness row verifies). Spark's residual streaming-machinery
#: tax (offsets log, state versioning I/O) stays priced against the
#: twin, deliberately.
SF1_TWIN_STREAM_TOPK = f"""
WITH pruned AS (
  SELECT event_type, event_id, v_c, half FROM (
    SELECT
      event_type,
      event_id,
      CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v_c,
      (event_id % {TOPK_CHUNKS}) // 2 AS half,
      ROW_NUMBER() OVER (
        PARTITION BY event_type, (event_id % {TOPK_CHUNKS}) // 2
        ORDER BY CAST(FLOOR(value * 100 + 0.5) AS BIGINT) DESC,
                 event_id DESC
      ) AS rn
    FROM events
  ) WHERE rn <= {TOPK_K}
),
merged AS (
  SELECT
    event_type, event_id, v_c,
    ROW_NUMBER() OVER (
      PARTITION BY event_type
      ORDER BY v_c DESC, event_id DESC
    ) AS rnk
  FROM pruned
)
SELECT event_type, rnk, event_id,
       CAST(CAST(v_c AS DECIMAL(38,0)) / 100 AS DOUBLE) AS value
FROM merged
WHERE rnk <= {TOPK_K}
"""


QUERIES = {
    "upsert_merge": spec(
        upsert_merge, ORACLE_UPSERT_MERGE, "reference:S9",
        doc="MERGE upsert across scheduled runs (PATCH/POST sync), task.ts:228-271",
    ),
    "stream_mv_refresh": spec(
        stream_mv_refresh, ORACLE_AGG_INCREMENTAL_MERGE, "beyond",
        doc="streaming incremental MV: foreachBatch partial folds == "
            "full recompute (oracle is the rescan)",
    ),
    "stream_mv_apply": spec(
        stream_mv_apply, ORACLE_AGG_INCREMENTAL_MERGE, "beyond",
        doc="one delta-only MV refresh step from cached state == full "
            "recompute (the steady-state incremental cost)",
    ),
    "stream_drift": spec(
        stream_drift, ORACLE_DQ_DRIFT, "beyond",
        doc="streaming drift monitor: micro-batch count folds -> TVD "
            "== batch dq_drift recompute (oracle is dq_drift's SQL)",
    ),
    "stream_drift_apply": spec(
        stream_drift_apply, ORACLE_DQ_DRIFT, "beyond",
        doc="one delta-only drift refresh from cached count state == "
            "full dq_drift recompute (the steady-state incremental cost)",
    ),
    "stream_topk": spec(
        stream_topk, ORACLE_STREAM_TOPK, "beyond",
        doc="streaming per-series top-K leaderboard via bounded "
            "semilattice prune-merge fold (oracle: one-shot ranking)",
    ),
    "stream_topk_apply": spec(
        stream_topk_apply, ORACLE_STREAM_TOPK, "beyond",
        doc="one delta-only leaderboard refresh from cached K-row "
            "state == full re-ranking (the steady-state incremental "
            "cost)",
    ),
}
