"""Per-operator edge cases + physical-plan assertions (SURVEY.md §5.3).

The plan assertions are the scale story made testable: broadcast joins
must broadcast, filters must reach the parquet scan, top-k must compile
to TakeOrderedAndProject — at 100 TB these are the difference between a
working plan and a melted cluster.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_verkada_spark.operators.dedup import last_wins
from etl_verkada_spark.operators.joins import join_asof
from etl_verkada_spark.operators.scans import keyset_pages, validate_json
from etl_verkada_spark.catalog import TABLES, table_validated
from etl_verkada_spark.registry import build_registry

from .conftest import SF_SMALL


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# --- physical plan assertions ------------------------------------------------

@pytest.mark.parametrize(
    "name, join",
    [
        ("join_broadcast_left", "BroadcastHashJoin"),
        ("join_semi", "BroadcastHashJoin"),
        ("join_anti", "BroadcastHashJoin"),
        ("geo_geofence_join", "BroadcastNestedLoopJoin"),
    ],
)
def test_hinted_join_broadcasts_without_auto_broadcast(spark, name, join):
    """The small side must broadcast because the query says so, not
    because the test tables sit under the auto-broadcast threshold: with
    that threshold off, an unhinted plan is a SortMergeJoin (or, for the
    range-predicate geofence, a CartesianProduct), a shuffle of the big
    side that breaks the 100-TB story."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        tree = plan_tree(build_registry()[name].fn(spark, SF_SMALL))
    finally:
        spark.conf.set(key, saved)
    assert join in tree, tree
    assert "SortMergeJoin" not in tree, tree
    assert "CartesianProduct" not in tree, tree


def test_filter_pushdown_reaches_scan(spark):
    plan = formatted_plan(build_registry()["filter_conj"].fn(spark, SF_SMALL))
    assert "PushedFilters: [" in plan
    # the equality predicate must actually be pushed, not just declared
    assert "EqualTo(l_returnflag,A)" in plan.replace(" ", "")


def test_column_pruning(spark):
    plan = formatted_plan(build_registry()["filter_conj"].fn(spark, SF_SMALL))
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # projection uses 4 cols + filter col; the 11-col table must be pruned
    assert "l_extendedprice" not in scan_schema
    assert "l_shipdate" not in scan_schema


def test_topk_is_take_ordered(spark):
    df = build_registry()["topk"].fn(spark, SF_SMALL)
    assert "TakeOrderedAndProject" in plan_of(df)


# --- scans -------------------------------------------------------------------

def test_keyset_pages_walks_everything(spark):
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select("o_orderkey")
    total = orders.count()
    seen = 0
    for page in keyset_pages(orders, "o_orderkey", 400):
        seen += page.count()
    assert seen == total


def test_keyset_pages_empty_input(spark):
    empty = spark.range(0).select(F.col("id").alias("k"))
    assert list(keyset_pages(empty, "k", 10)) == []


def test_validate_json_failfast_raises(spark):
    bad = spark.createDataFrame(
        [(1, '{"k": 1}'), (2, "not json at all")], "event_id long, props string"
    ).withColumn("event_type", F.lit("x"))
    parsed = bad.select(
        F.from_json("props", "k INT", {"mode": "FAILFAST"}).alias("p")
    )
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        parsed.collect()


def test_table_validated_rejects_drift(spark):
    from etl_verkada_spark import catalog

    old = catalog.EXPECTED_SCHEMAS
    try:
        import pyspark.sql.types as T

        catalog.EXPECTED_SCHEMAS = {
            "orders": T.StructType([T.StructField("o_orderkey", T.StringType())])
        }
        with pytest.raises(ValueError, match="o_orderkey"):
            table_validated(spark, SF_SMALL, "orders")
    finally:
        catalog.EXPECTED_SCHEMAS = old


# --- dedup -------------------------------------------------------------------

def test_last_wins_ties_and_determinism(spark):
    df = spark.createDataFrame(
        [("a", 1, "first"), ("a", 2, "second"), ("a", 2, "second"), ("b", 1, "only")],
        "k string, ord int, v string",
    )
    out = last_wins(df, ["k"], ["ord"]).orderBy("k").collect()
    assert [r["v"] for r in out] == ["second", "only"]
    # idempotent: applying again changes nothing
    again = last_wins(last_wins(df, ["k"], ["ord"]), ["k"], ["ord"])
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out))


# --- joins -------------------------------------------------------------------

def test_join_asof_matches_naive(spark):
    ev = spark.createDataFrame(
        [
            (1, 10, "click", 100),
            (2, 10, "purchase", 120),   # latest click at 100
            (3, 10, "click", 150),      # same-instant click...
            (4, 10, "purchase", 150),   # ...counts (<= semantics)
            (5, 20, "purchase", 50),    # user with no clicks -> null
        ],
        "event_id long, user_id long, event_type string, t long",
    ).select(
        "event_id", "user_id", "event_type",
        F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"),
    )
    ev.createOrReplaceTempView("ev_asof")
    got = {
        r["event_id"]: r["click_ts_us"]
        for r in _asof_on(ev).collect()
    }
    assert got[2] == 100 * 1_000_000
    assert got[4] == 150 * 1_000_000
    assert got[5] is None


def _asof_on(ev):
    from pyspark.sql import Window

    clicks = ev.filter(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts",
        F.lit(0).alias("is_p"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_p")
    )
    u = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        u.withColumn("click_ts", F.max(F.when(F.col("is_p") == 0, F.col("ts"))).over(w))
        .filter(F.col("is_p") == 1)
        .select("event_id", F.unix_micros(F.col("click_ts").cast("timestamp")).alias("click_ts_us"))
    )


def test_asof_registered_query_sane(spark):
    out = join_asof(spark, SF_SMALL)
    rows = out.collect()
    # every match must be at-or-before the purchase
    for r in rows:
        if r["click_ts_us"] is not None:
            assert r["click_ts_us"] <= r["ts_us"]


# --- set ops -----------------------------------------------------------------

def test_except_is_distinct_semantics(spark):
    left = spark.createDataFrame([(1,), (1,), (2,)], "key long")
    right = spark.createDataFrame([(1,)], "key long")
    # SQL EXCEPT removes key 1 entirely (it exists on the right)
    assert [r["key"] for r in left.subtract(right).collect()] == [2]


# --- banded range join -------------------------------------------------------

def test_range_join_matches_naive_theta(spark):
    """The banded equi-join + filter must find exactly the pairs a naive
    theta-join finds (the banding is a pure execution-strategy rewrite)."""
    from pyspark.sql import functions as F

    from etl_verkada_spark.catalog import table
    from etl_verkada_spark.operators.joins import join_range

    e = table(spark, SF_SMALL, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("ts_c")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("ts_p")
    )
    naive = (
        purchases.join(clicks, "user_id")
        .filter(
            (F.col("ts_c") <= F.col("ts_p"))
            & (F.col("ts_c") > F.col("ts_p") - F.expr("INTERVAL 10 MINUTES"))
        )
        .groupBy("event_id", "user_id")
        .agg(F.count(F.lit(1)).alias("n_prior_clicks"))
    )
    banded = join_range(spark, SF_SMALL)
    assert sorted(map(tuple, banded.collect())) == sorted(
        map(tuple, naive.collect())
    )


# --- distribution windows ----------------------------------------------------

def test_ntile_quartiles_balanced(spark):
    rows = build_registry()["win_ntile"].fn(spark, SF_SMALL).collect()
    by_seg = {}
    for r in rows:
        by_seg.setdefault(r["c_mktsegment"], []).append(r["quartile"])
    for seg, qs in by_seg.items():
        counts = [qs.count(q) for q in (1, 2, 3, 4)]
        assert max(counts) - min(counts) <= 1, (seg, counts)  # balanced tiles


# --- physical plans of the round-1 additions ---------------------------------

def test_exists_subquery_decorrelates_to_semi_join(spark):
    plan = plan_of(build_registry()["subquery_exists"].fn(spark, SF_SMALL))
    assert "LeftSemi" in plan, plan  # no per-row subquery execution


def test_range_join_avoids_nested_loop(spark):
    from etl_verkada_spark.operators.joins import join_range

    plan = plan_of(join_range(spark, SF_SMALL))
    # the banding rewrite must keep this an equi-join; a BETWEEN theta
    # join would plan as BroadcastNestedLoopJoin (O(n*m) at scale)
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pivot_is_single_aggregate_pass(spark):
    from etl_verkada_spark.operators.reshape import pivot

    plan = plan_of(pivot(spark, SF_SMALL))
    # explicit value list -> no distinct-discovery job, ONE scan of the
    # input; Spark pivots as two aggregates (pre-agg on (group, pivot),
    # then collapse), so the second exchange only carries post-agg rows
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange") <= 2, plan


def test_grouping_sets_is_one_expand(spark):
    plan = plan_of(build_registry()["agg_grouping_sets"].fn(spark, SF_SMALL))
    assert "Expand" in plan and plan.count("Exchange") == 1, plan


def test_bucketed_join_is_zero_shuffle(spark, tmp_path):
    """The SCALE.md §3 claim: with both sides bucketed by the join key,
    Catalyst plans a sort-merge join with NO shuffle exchange — the
    layout decision that removes the dominant 100 TB cost."""
    from etl_verkada_spark.catalog import table

    li = table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").option(
        "path", str(tmp_path / "li_b")
    ).mode("overwrite").saveAsTable("li_bucketed")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").option(
        "path", str(tmp_path / "o_b")
    ).mode("overwrite").saveAsTable("o_bucketed")
    try:
        joined = (
            spark.table("li_bucketed")
            .hint("merge")
            .join(
                spark.table("o_bucketed"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # co-located: zero shuffle
        # sanity: same row count as the shuffled join
        n_plain = (
            table(spark, SF_SMALL, "lineitem")
            .join(
                table(spark, SF_SMALL, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert joined.count() == n_plain
    finally:
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS o_bucketed")


def test_partition_pruning_skips_other_partitions(spark, tmp_path):
    """The SCALE.md §2 claim: a filter on the partition column prunes the
    scan to matching directories — the first-order term at 100 TB. The
    formatted plan must show the pruned partition count, and the scanned
    file list must only contain the selected partition."""
    from etl_verkada_spark.catalog import table

    path = str(tmp_path / "orders_by_status")
    table(spark, SF_SMALL, "orders").write.partitionBy(
        "o_orderstatus"
    ).parquet(path)
    df = spark.read.parquet(path).filter(F.col("o_orderstatus") == "O")
    plan = formatted_plan(df)
    # files read must come from the o_orderstatus=O directory only
    scanned = [l for l in plan.splitlines() if "Location" in l]
    n = df.count()
    expected = (
        table(spark, SF_SMALL, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .count()
    )
    assert n == expected
    import re

    m = re.search(r"partition.*?(\d+)\s*/\s*(\d+)", plan, re.IGNORECASE)
    # Spark reports "X/Y partitions read"; exactly one of the three
    # status partitions must survive pruning
    if m:
        assert int(m.group(1)) == 1, plan
    else:
        # fallback: the pushed partition filter must appear in the scan
        assert "o_orderstatus" in plan and "PartitionFilters" in plan, plan


def test_aqe_splits_skewed_join_partitions(spark):
    """The SCALE.md §3 skew claim, observed for real: a 90%-hot key under
    aggressive skew thresholds makes AQE re-plan the sort-merge join with
    skew=true (the hot partition is split across tasks instead of
    melting one executor). Thresholds are restored afterwards."""
    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        left = spark.range(0, 300_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.hint("merge").join(right, "k")
        n = len(j.collect())  # materialize THIS df so AQE finalizes it
        plan = plan_of(j)
        assert n == 270_100
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partition_pruning_reads_only_selected_partition(spark):
    """scan_partition_pruned's contract: the event_type predicate must
    resolve at the DIRECTORY level (PartitionFilters), leaving no
    pushed/post-scan data filter on event_type, and the scan's input
    files must all come from the selected partition's directory."""
    import os

    from etl_verkada_spark.operators.scans import scan_partition_pruned

    sf = "/root/testdata/sf0.001"
    df = scan_partition_pruned(spark, sf)
    # <landing>/event_type=<value>/<part file>
    land = os.path.dirname(os.path.dirname(df.inputFiles()[0]))
    df.write.mode("overwrite").format("noop").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the predicate is a PartitionFilter (directory-level)...
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_type" in pf and "purchase" in pf, pf
    # ...and NOT a data filter (no row ever evaluated it)
    dfil = plan.split("DataFilters: [", 1)[1].split("]", 1)[0]
    assert "event_type" not in dfil, dfil
    # the executed scan actually read ONLY the purchase directory:
    # input_file_name() reflects post-pruning files
    read_files = {
        r["f"]
        for r in spark.read.parquet(land)
        .filter("event_type = 'purchase'")
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert read_files
    assert all("event_type=purchase" in f for f in read_files), read_files

def test_salted_join_spreads_hot_keys(spark):
    """join_salted's scale contract, in two parts. (1) The deterministic
    salt actually spreads each hot key: no (flag, salt) cell holds more
    than ~2/N_SALT of its flag's rows. (2) With broadcast disabled (the
    100 TB case where the dim outgrows the threshold), the shuffle key
    is (flag, salt) — the hot key's rows land on N_SALT reducers, not
    one."""
    from etl_verkada_spark.operators.joins import N_JOIN_SALT, join_salted
    from etl_verkada_spark.catalog import table

    li = table(spark, SF_SMALL, "lineitem")
    salt = F.pmod(
        F.xxhash64("l_orderkey", "l_linenumber", "l_partkey"),
        F.lit(N_JOIN_SALT),
    )
    cells = (
        li.select("l_returnflag", salt.alias("salt"))
        .groupBy("l_returnflag", "salt")
        .count()
        .collect()
    )
    per_flag: dict[str, list[int]] = {}
    for r in cells:
        per_flag.setdefault(r["l_returnflag"], []).append(r["count"])
    for flag, counts in per_flag.items():
        assert len(counts) == N_JOIN_SALT, (flag, counts)
        assert max(counts) <= 2 * sum(counts) / N_JOIN_SALT, (flag, counts)

    # the registered query broadcasts the exploded dim (correct at this
    # dim size); the scale claim is about the SHUFFLE form, so build the
    # same salted join unhinted with broadcast disabled and assert the
    # exchange hash-partitions on BOTH the natural key and the salt —
    # the hot key's rows spread over N_SALT reducers.
    dim = spark.createDataFrame(
        [("R", "returned"), ("A", "accepted"), ("N", "none")],
        "flag string, flag_name string",
    )
    dim_x = dim.select(
        "flag", "flag_name",
        F.explode(F.sequence(F.lit(0), F.lit(N_JOIN_SALT - 1))).alias("salt"),
    )
    big = li.select("l_returnflag", "l_extendedprice", salt.alias("salt"))
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = big.join(
            dim_x,
            (big["l_returnflag"] == dim_x["flag"])
            & (big["salt"] == dim_x["salt"]),
        )
        plan = plan_of(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "BroadcastHashJoin" not in plan, plan
    import re

    m = re.search(r"hashpartitioning\(l_returnflag[^)]*\)", plan)
    assert m and "salt" in m.group(0), plan


def test_bucketed_join_has_no_exchange(spark):
    """join_bucketed's whole point: matching bucket layouts on both
    sides mean the sort-merge join runs with ZERO Exchange before it —
    the shuffle a plain large x large join would pay is gone. (The
    post-join aggregation exchange on the 5 group rows remains.)"""
    from etl_verkada_spark.operators.joins import join_bucketed

    df = join_bucketed(spark, SF_SMALL)
    plan = formatted_plan(df)
    join_part = plan.split("SortMergeJoin", 1)
    assert len(join_part) == 2, plan
    # physical-plan tree text: operators ABOVE the join print before it;
    # the join's inputs print after. No Exchange may feed the join.
    below = join_part[1].split("\n\n", 1)[0]
    inputs_section = below
    assert "Exchange" not in inputs_section, plan
    assert "SelectedBucketsCount" in plan, plan


def test_interpolation_bounded_by_neighbors(spark):
    """Gap buckets (n_events == 0) interpolate BETWEEN the surrounding
    observations; observed buckets reproduce their own sums; leading /
    trailing gaps clamp to the nearest observation."""
    from etl_verkada_spark.operators.timeseries import ts_interpolate

    rows = ts_interpolate(spark, SF_SMALL).collect()
    by_series: dict[str, list] = {}
    for r in rows:
        by_series.setdefault(r["event_type"], []).append(r)
    checked_gaps = 0
    for series in by_series.values():
        series.sort(key=lambda r: r["bucket_us"])
        observed = [
            (i, r["interp_sum"])
            for i, r in enumerate(series)
            if r["n_events"] > 0
        ]
        assert observed
        first_i, last_i = observed[0][0], observed[-1][0]
        for i, r in enumerate(series):
            if r["n_events"] > 0:
                continue
            if i < first_i:
                assert r["interp_sum"] == observed[0][1]
            elif i > last_i:
                assert r["interp_sum"] == observed[-1][1]
            else:
                prev_v = max(v for j, v in observed if j < i)
                lo_j = max(j for j, v in observed if j < i)
                prev_v = dict(observed)[lo_j]
                next_j = min(j for j, v in observed if j > i)
                next_v = dict(observed)[next_j]
                lo, hi = sorted((prev_v, next_v))
                assert lo - 1e-4 <= r["interp_sum"] <= hi + 1e-4, (r, lo, hi)
                checked_gaps += 1
    assert checked_gaps > 0  # the grid must actually have interior gaps


def plan_tree(df) -> str:
    """Just the operator-tree section of the formatted plan (the detail
    sections repeat every operator name, which breaks count asserts)."""
    return formatted_plan(df).split("\n\n", 1)[0]


def test_interpolate_windows_one_exchange_no_following_frame(spark):
    """ts_interpolate's two window passes are both RUNNING
    (unboundedPreceding..current) frames — the forward lookup rides a
    descending re-sort, NOT an unbounded-FOLLOWING frame, because
    Spark re-aggregates the partition tail per row for following
    frames: O(n^2) per series, measured 3.4 s vs 0.8 s on the sf0.1
    grid (r14). The passes still share ONE exchange (same partition
    key); only a Sort may sit between the Window operators."""
    from etl_verkada_spark.operators.timeseries import ts_interpolate

    tree = plan_tree(ts_interpolate(spark, SF_SMALL))
    assert "Window" in tree, tree
    first = tree.index("Window")
    last = tree.rindex("Window")
    between = tree[first:last]
    assert "Exchange" not in between, tree
    assert "following" not in tree.lower(), tree


def test_pack_sequences_is_one_shuffle(spark):
    """The packing assignment is one window cumsum: exactly one
    exchange (hash on lang) and one sort feed the Window; no join, no
    second aggregation pass."""
    from etl_verkada_spark.llm.packing import llm_pack_sequences

    tree = plan_tree(llm_pack_sequences(spark, SF_SMALL))
    assert tree.count("Window") == 1, tree
    assert tree.count("Exchange") == 1, tree
    assert "Join" not in tree, tree


def test_stratified_sample_windows_share_one_sort(spark):
    """rank + stratum-count windows both partition by lang: one
    exchange total, and no re-sort between the two Window operators."""
    from etl_verkada_spark.llm.packing import llm_sample_stratified

    tree = plan_tree(llm_sample_stratified(spark, SF_SMALL))
    assert tree.count("Exchange") == 1, tree
    first = tree.index("Window")
    last = tree.rindex("Window")
    assert "Exchange" not in tree[first:last], tree


# --- round-4 additions: OHLC / cohort / histogram / dq audits ----------------

def test_ohlc_bounds_and_counts(spark):
    """low <= open, close <= high on every bucket, and bucket counts sum
    to the table row count (no events dropped at bin edges)."""
    from etl_verkada_spark.operators.timeseries import ts_ohlc
    from etl_verkada_spark.catalog import table

    rows = ts_ohlc(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r["low"] <= r["open"] <= r["high"], r
        assert r["low"] <= r["close"] <= r["high"], r
        assert r["n_events"] >= 1
    total = table(spark, SF_SMALL, "events").count()
    assert sum(r["n_events"] for r in rows) == total


def test_cohort_retention_triangle(spark):
    """Activity can never precede the cohort week, and the cohort's own
    week-0 row must contain every user of that cohort (n_users of any
    later week <= week-0 n_users)."""
    from etl_verkada_spark.operators.timeseries import ts_cohort_retention

    rows = ts_cohort_retention(spark, SF_SMALL).collect()
    assert rows
    week0 = {}
    for r in rows:
        assert r["active_week"] >= r["cohort_week"], r
        if r["active_week"] == r["cohort_week"]:
            week0[r["cohort_week"]] = r["n_users"]
    for r in rows:
        # every member was active in week 0 by definition of cohort
        assert r["cohort_week"] in week0, r
        assert r["n_users"] <= week0[r["cohort_week"]], r


def test_histogram_partitions_the_table(spark):
    """Bins are disjoint [lo, hi) cells: counts sum to the row count and
    every bin's sum_price lies within n * [bin_lo, bin_hi)."""
    from etl_verkada_spark.operators.aggregates import agg_histogram
    from etl_verkada_spark.catalog import table

    rows = agg_histogram(spark, SF_SMALL).collect()
    total = table(spark, SF_SMALL, "orders").count()
    assert sum(r["n_orders"] for r in rows) == total
    assert len({r["bin_id"] for r in rows}) == len(rows)
    for r in rows:
        assert r["bin_lo"] * r["n_orders"] <= r["sum_price"] < (
            r["bin_hi"] * r["n_orders"]
        ), r


def test_dq_audits_clean_on_testdata(spark):
    """The generated testdata is referentially clean with unique keys —
    the audits must report exactly that (zero false positives)."""
    from etl_verkada_spark.operators.quality import dq_referential

    for r in dq_referential(spark, SF_SMALL).collect():
        assert r["n_orphans"] == 0, r
        assert r["n_rows"] > 0, r
    for r in build_registry()["dq_uniqueness"].fn(spark, SF_SMALL).collect():
        assert r["n_dup_rows"] == 0 and r["n_nulls"] == 0, r
        assert r["n_rows"] == r["n_keys"], r


def test_dq_referential_catches_planted_orphan(spark):
    """Plant an orphan FK and make sure the anti-join actually counts it
    (guards against a join that silently inner-joins)."""
    from etl_verkada_spark.catalog import table

    child = table(spark, SF_SMALL, "orders").select(
        F.col("o_custkey").alias("fk")
    ).limit(10).withColumn("fk", F.lit(-1))
    parent = table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("pk")
    )
    n = child.join(parent, child["fk"] == parent["pk"], "left_anti").count()
    assert n == 10


def test_rolling_dau_bounds(spark):
    """7-day DAU is sandwiched between the single-day distinct count
    and the all-time distinct count, and is monotone >= any one of its
    member days."""
    from etl_verkada_spark.operators.timeseries import (
        DAY_US,
        ts_rolling_dau,
    )
    from etl_verkada_spark.catalog import table

    e = table(spark, SF_SMALL, "events")
    daily = {
        r["d"]: r["u"]
        for r in e.groupBy(
            F.expr(f"unix_micros(cast(ts as timestamp)) div {DAY_US}").alias("d")
        )
        .agg(F.countDistinct("user_id").alias("u"))
        .collect()
    }
    total_users = e.select("user_id").distinct().count()
    rows = ts_rolling_dau(spark, SF_SMALL).collect()
    assert {r["window_end_day"] for r in rows} == set(daily)
    for r in rows:
        assert daily[r["window_end_day"]] <= r["dau_7d"] <= total_users, r


def test_pagerank_mass_and_determinism(spark):
    """Total rank mass stays within the deterministic floor-loss bound
    of 1.0 (teleport + damped redistribution conserves mass up to
    integer floors), and a re-run is bit-identical (retry safety)."""
    from etl_verkada_spark.operators.graph import (
        PR_SCALE,
        graph_pagerank,
    )

    rows = graph_pagerank(spark, SF_SMALL).collect()
    assert rows
    total = sum(r["rank_s12"] for r in rows)
    # floors only ever lose mass; bounded by (nodes+edges) units/iter
    assert total <= PR_SCALE
    assert total >= PR_SCALE * 0.99
    again = graph_pagerank(spark, SF_SMALL).collect()
    assert sorted((r["node_type"], r["node_key"], r["rank_s12"]) for r in rows) == \
        sorted((r["node_type"], r["node_key"], r["rank_s12"]) for r in again)


def test_compaction_shrinks_file_count_and_preserves_content(spark):
    """The compacted layout must hold identical rows in <= target
    parquet files; the fragmented source must actually be fragmented
    (else the operator tests nothing)."""
    import glob
    import os

    from etl_verkada_spark.operators.scans import (
        COMPACT_SMALL_FILES,
        COMPACT_TARGET_FILES,
        maintain_compact,
    )
    from etl_verkada_spark.catalog import table

    out = maintain_compact(spark, SF_SMALL)
    compact_dir = out.inputFiles()[0].rsplit("/", 1)[0].replace("file:", "")
    frag_dir = os.path.join(os.path.dirname(compact_dir), "fragmented")
    n_frag = len(glob.glob(os.path.join(frag_dir, "*.parquet")))
    n_comp = len(glob.glob(os.path.join(compact_dir, "*.parquet")))
    assert n_frag == COMPACT_SMALL_FILES
    assert n_comp <= COMPACT_TARGET_FILES
    src = table(spark, SF_SMALL, "orders").select(*out.columns)
    assert out.exceptAll(src).count() == 0
    assert src.exceptAll(out).count() == 0


def test_scd2_intervals_partition_time(spark):
    """Per user: intervals are disjoint, cover every event, and
    valid_to of run k equals valid_from of run k+1 (the half-open
    chain); exactly one open interval (valid_to IS NULL) per user."""
    from etl_verkada_spark.operators.cdc import scd2_build
    from etl_verkada_spark.catalog import table

    rows = scd2_build(spark, SF_SMALL).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    n_events_total = sum(r["n_events"] for r in rows)
    assert n_events_total == table(spark, SF_SMALL, "events").count()
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r["run_id"])
        assert sum(1 for r in ivs if r["valid_to"] is None) == 1
        assert ivs[-1]["valid_to"] is None
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"], (user, a, b)
            assert a["state"] != b["state"], (user, a, b)


def test_scd2_single_sort(spark):
    """lag + running-sum + interval agg + lead all ride ONE exchange
    on user_id (the lead's run_id order is a sub-order of the agg's
    grouping, so no re-shuffle)."""
    from etl_verkada_spark.operators.cdc import scd2_build

    tree = plan_tree(scd2_build(spark, SF_SMALL))
    assert tree.count("Exchange") == 1, tree


def test_cdc_diff_classifies_exactly(spark):
    """Every op class appears, keys are disjoint across classes, and
    the counts match the modulus construction."""
    from etl_verkada_spark.operators.cdc import (
        CDC_DEL_MOD,
        CDC_INS_MOD,
        CDC_UPD_MOD,
    )
    from etl_verkada_spark.catalog import table

    rows = build_registry()["cdc_snapshot_diff"].fn(spark, SF_SMALL).collect()
    by_op = {}
    for r in rows:
        by_op.setdefault(r["op"], set()).add(r["o_orderkey"])
    keys = table(spark, SF_SMALL, "orders").select("o_orderkey").collect()
    keys = [r[0] for r in keys]
    want_ins = {k for k in keys if k % CDC_INS_MOD == 0 and k % CDC_DEL_MOD != 0}
    want_del = {k for k in keys if k % CDC_DEL_MOD == 0 and k % CDC_INS_MOD != 0}
    want_upd = {
        k for k in keys
        if k % CDC_UPD_MOD == 0 and k % CDC_INS_MOD != 0 and k % CDC_DEL_MOD != 0
    }
    assert by_op.get("insert", set()) == want_ins
    assert by_op.get("delete", set()) == want_del
    assert by_op.get("update", set()) == want_upd


# --- round-5 operators: plan-shape claims from SCALE.md §14 ------------------

def test_embed_quantize_no_exchange(spark):
    """Quantization is a pure projection: any Exchange would mean an
    accidental shuffle of the (4x larger) float input."""
    from etl_verkada_spark.llm.similarity import llm_embed_quantize

    plan = plan_of(llm_embed_quantize(spark, SF_SMALL))
    assert "Exchange" not in plan, plan


def test_frame_sample_no_exchange_and_pruned(spark):
    """Byte slicing is per-row (posexplode only); the mime filter must
    not force a shuffle, and the scan must prune to the used columns."""
    from etl_verkada_spark.llm.multimodal import mm_frame_sample

    df = mm_frame_sample(spark, SF_SMALL)
    assert "Exchange" not in plan_of(df)
    scan_schema = [
        l for l in formatted_plan(df).splitlines() if "ReadSchema" in l
    ][0]
    assert "lang" not in scan_schema and "source" not in scan_schema


def test_passage_dedup_shuffles_digests_not_text(spark):
    """The owner-resolution exchange must carry (digest, occ_key), never
    the passage text: assert no Exchange output contains a passage/text
    attribute."""
    from etl_verkada_spark.llm.dedup import llm_dedup_passage

    plan = formatted_plan(llm_dedup_passage(spark, SF_SMALL))
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Arguments: hashpartitioning" in line:
            assert "passage" not in line and "text#" not in line, line


def test_substring_dedup_catches_straddling_span(spark):
    """The reason stride-1 windows exist: a duplicated span that
    straddles llm_dedup_passage's fixed 16-word chunk boundary is
    invisible to chunk hashing but must be caught by sliding windows."""
    from etl_verkada_spark.llm.dedup import (
        SUBSTR_WINDOW, llm_dedup_passage, llm_dedup_substring,
    )

    # doc 0: words a0..a31. doc 1 copies doc 0's words 12..19 — a span
    # crossing the 16-word chunk boundary — embedded in unique filler.
    span = [f"a{i}" for i in range(12, 20)]
    doc0 = " ".join(f"a{i}" for i in range(32))
    doc1 = " ".join([f"b{i}" for i in range(10)] + span
                    + [f"c{i}" for i in range(10)])
    docs = spark.createDataFrame(
        [(0, doc0), (1, doc1)], "doc_id long, text string"
    )
    import etl_verkada_spark.catalog as cat

    orig = cat.table
    cat.table = lambda spark, sf, name: docs  # noqa: ARG005
    import etl_verkada_spark.llm.dedup as dmod

    dmod.table = cat.table
    try:
        sub = {r.doc_id: r for r in llm_dedup_substring(spark, "x").collect()}
        psg = {r.doc_id: r for r in llm_dedup_passage(spark, "x").collect()}
    finally:
        cat.table = orig
        dmod.table = orig
    # chunk hashing misses it entirely...
    assert psg[1].n_dup_passages == 0
    # ...sliding windows catch the one full 8-token window, and the
    # merged coverage is exactly the span length
    assert sub[1].n_dup_windows == 1
    assert sub[1].n_dup_tokens == SUBSTR_WINDOW
    assert sub[0].n_dup_windows == 0  # doc 0 owns its windows


def test_substring_dedup_shuffles_digests_not_text(spark):
    from etl_verkada_spark.llm.dedup import llm_dedup_substring

    plan = formatted_plan(llm_dedup_substring(spark, SF_SMALL))
    for line in plan.splitlines():
        if "Arguments: hashpartitioning" in line:
            assert "win#" not in line and "text#" not in line, line


def test_zorder_single_sort(spark):
    """The audit is ONE global sort (the ntile window) + one final agg —
    a second Sort would mean the window order wasn't reused."""
    from etl_verkada_spark.operators.layout import maintain_zorder

    plan = plan_of(maintain_zorder(spark, SF_SMALL))
    assert plan.count("Sort ") == 1, plan


def test_dq_profile_one_scan_per_table(spark):
    """The multi-column count-distinct must plan as ONE expand-aggregate
    per table (2 profiled tables -> 2 parquet scans), not one scan per
    column."""
    from etl_verkada_spark.operators.quality import dq_profile

    plan = plan_of(dq_profile(spark, SF_SMALL))
    assert plan.count("Scan parquet") == 2, plan
    assert "Expand" in plan


def test_chunk_rag_map_only_and_pruned(spark):
    """Chunking is posexplode + slice — a narrow map with NO shuffle;
    the scan must prune to (doc_id, text)."""
    from etl_verkada_spark.llm.text import llm_chunk_rag

    df = llm_chunk_rag(spark, SF_SMALL)
    assert "Exchange" not in plan_of(df)
    scan_schema = [
        l for l in formatted_plan(df).splitlines() if "ReadSchema" in l
    ][0]
    assert "lang" not in scan_schema and "n_chars" not in scan_schema


def test_embed_rp_no_data_shuffle(spark):
    """The projection folds ride the scan; the only exchanges allowed
    are the gmax scalar aggregate (SinglePartition of ONE row) and its
    broadcast back — never a hash repartition of the vectors."""
    from etl_verkada_spark.llm.similarity import llm_embed_rp

    assert "hashpartitioning" not in plan_of(llm_embed_rp(spark, SF_SMALL))


def test_kmeans_assign_broadcasts_centroids(spark):
    """K centroid vectors are model state: they must broadcast (never
    shuffle the corpus against them), and the K-candidate collapse is
    the single hash exchange."""
    from etl_verkada_spark.llm.similarity import llm_kmeans_assign

    plan = plan_of(llm_kmeans_assign(spark, SF_SMALL))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_ewma_one_window_pass(spark):
    """All 16 lag terms share one (partition, order) spec, so the plan
    is ONE exchange + ONE sort + ONE Window operator — per-tap windows
    would multiply the sort cost by the tap count."""
    tree = plan_tree(build_registry()["ts_ewma"].fn(spark, SF_SMALL))
    assert tree.count("Window") == 1, tree
    assert tree.count("Sort") == 1, tree


def test_anomaly_zscore_one_window_pass(spark):
    """n/s/q share one frame spec -> one Window operator; the z-gate is
    a Filter AFTER the window, never a second pass."""
    tree = plan_tree(build_registry()["ts_anomaly_zscore"].fn(spark, SF_SMALL))
    assert tree.count("Window") == 1, tree
    assert tree.count("Sort") == 1, tree


def test_triangle_count_no_cartesian(spark):
    """Every triangle join is equi-keyed (canonical orientation makes
    the wedge-close condition a two-column equi join) — a nested-loop
    or cartesian plan would be quadratic at scale."""
    from etl_verkada_spark.operators.graph import graph_triangle_count

    plan = plan_of(graph_triangle_count(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bigram_score_broadcasts_model(spark):
    """The bigram model is vocabulary-squared, not corpus-sized: the
    per-doc lookup must be a broadcast hash join against the exploded
    bigram stream."""
    from etl_verkada_spark.llm.text import llm_bigram_score

    assert "BroadcastHashJoin" in plan_of(llm_bigram_score(spark, SF_SMALL))


def test_simhash_votes_one_aggregate_no_text_shuffle(spark):
    """The 60 bit-votes must plan as ONE map-side-combinable hash
    aggregate over the exploded token hashes (the per-row 60-fold form
    overflows codegen and runs interpreted, ~10x slower), and the vote
    exchange must carry (doc_id, 60 longs) — never the document text."""
    from etl_verkada_spark.catalog import table as cat_table
    from etl_verkada_spark.llm.dedup import simhash_fingerprints

    df = simhash_fingerprints(cat_table(spark, SF_SMALL, "documents"))
    tree = plan_tree(df)
    # partial + final pair of the single aggregate
    assert tree.count("HashAggregate") == 2, tree
    for line in formatted_plan(df).splitlines():
        if "Arguments: hashpartitioning" in line:
            assert "text#" not in line, line


def test_triangle_count_matches_bruteforce(spark):
    """Adjacency-set recount of the co-occurrence graph's triangles —
    independent of the join formulation (catches orientation bugs that
    over/undercount symmetric triangles)."""
    from collections import defaultdict
    from itertools import combinations

    import duckdb

    from etl_verkada_spark.operators.graph import (
        graph_triangle_count, TRI_MIN_COOCCUR,
    )

    con = duckdb.connect()
    edges = con.execute(
        f"""
        WITH pp AS (SELECT DISTINCT l_orderkey o, l_partkey p
                    FROM '{SF_SMALL}/lineitem.parquet')
        SELECT a.p, b.p FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_COOCCUR}
        """
    ).fetchall()
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    want: dict = defaultdict(int)
    for u, v in edges:  # u < v by construction
        for w in adj[u] & adj[v]:
            if w > v:  # count each triangle once at its lowest edge
                for node in (u, v, w):
                    want[node] += 1
    got = {
        r["p_partkey"]: r["n_triangles"]
        for r in graph_triangle_count(spark, SF_SMALL).collect()
    }
    assert got == dict(want)


def test_ewma_matches_pandas_ewm(spark):
    """The dyadic 8-tap unroll must agree with pandas ewm(alpha=0.5,
    adjust=True) to within the truncated tail mass (< 1/255 of the
    value range per point)."""
    import pandas as pd

    out = build_registry()["ts_ewma"].fn(spark, SF_SMALL).toPandas()
    checked = 0
    for _, g in out.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        ref = g["value"].ewm(alpha=0.5, adjust=True).mean()
        tol = g["value"].abs().max() / 255 + 1e-9
        assert (g["ewma"] - ref).abs().max() <= tol
        checked += len(g)
    assert checked > 0


def test_countmin_overestimates_only(spark):
    """The count-min guarantee is one-sided: the min over hash rows can
    only OVERcount (collisions add, never subtract). est < exact for
    any key would mean the sketch arithmetic is broken."""
    from etl_verkada_spark.operators.aggregates import agg_countmin

    rows = agg_countmin(spark, SF_SMALL).collect()
    assert rows
    assert all(r["n_est"] >= r["n_exact"] for r in rows)


def test_countmin_sketch_exchange_is_bounded(spark):
    """The stream collapses to the exact per-key histogram with a
    map-side partial count BEFORE any hash explode (the r11 rework:
    bucket counts are derived as sum(n_exact) over the key table, so
    md5 runs 4x|keys|, never 4x|stream|), and that sum itself partially
    combines — no per-occurrence row ever rides an exchange."""
    from etl_verkada_spark.operators.aggregates import agg_countmin

    plan = formatted_plan(agg_countmin(spark, SF_SMALL))
    # the stream->key-histogram partial_count(1) lives in the
    # localCheckpoint's own job (invisible to this explain); what this
    # plan must show is that everything DOWNSTREAM of the checkpoint
    # also partially combines
    assert "partial_sum" in plan  # key histogram -> sketch buckets
    assert "partial_min" in plan  # probe -> per-key estimate


def test_schema_evolution_nullfills_old_generation(spark):
    """gen1 files lack o_orderstatus: merged rows for even keys must be
    NULL there, odd keys must carry the real status, and the merged
    relation must cover every order exactly once."""
    from etl_verkada_spark.operators.scans import scan_schema_evolution
    from etl_verkada_spark.catalog import table as cat_table

    out = scan_schema_evolution(spark, SF_SMALL).collect()
    n_orders = cat_table(spark, SF_SMALL, "orders").count()
    assert len(out) == n_orders
    for r in out:
        if r["o_orderkey"] % 2 == 0:
            assert r["o_orderstatus"] is None
        else:
            assert r["o_orderstatus"] is not None


def test_relrank_single_window_pass(spark):
    """percent_rank and cume_dist share one (partition, order) spec ->
    ONE exchange + ONE sort + ONE Window operator."""
    tree = plan_tree(build_registry()["win_relrank"].fn(spark, SF_SMALL))
    assert tree.count("Window") == 1, tree
    assert tree.count("Sort") == 1, tree


def test_manifest_scan_snapshot_isolation(spark):
    """The log-head read must see exactly the committed file set:
    slices 0 and 1 (manifest v2), never the uncommitted slice 2 that
    exists on disk beside them — and reading v1 would see only slice 0
    (version monotonicity of the picked head)."""
    from etl_verkada_spark.operators.scans import scan_manifest_log
    from etl_verkada_spark.catalog import table as cat_table

    out = scan_manifest_log(spark, SF_SMALL)
    keys = [r["o_orderkey"] for r in out.collect()]
    assert keys, "committed slices must be visible"
    assert all(k % 3 != 2 for k in keys), "uncommitted slice leaked"
    n_committed = (
        cat_table(spark, SF_SMALL, "orders")
        .filter("o_orderkey % 3 != 2")
        .count()
    )
    assert len(keys) == n_committed


def test_land_dir_is_keyed_on_the_data_dirs_real_path(tmp_path):
    """Two data dirs with one basename land apart; one dir always lands
    in the same place."""
    from etl_verkada_spark.catalog import land_dir

    a, b = tmp_path / "a" / "sf", tmp_path / "b" / "sf"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    assert land_dir(str(a), "csv") != land_dir(str(b), "csv")
    assert land_dir(str(a), "csv") == land_dir(str(a), "csv")
    assert land_dir(str(a), "csv") == land_dir(f"{a}/", "csv")
    assert "/csv_sf-" in land_dir(str(a), "csv")


#: one registered callable per land-once fixture, with its landing name
LANDINGS = {
    "scd2_apply": "scd2_hist",
    "stream_mv_apply": "mv_chunks",
    "stream_drift_apply": "drift_chunks",
    "stream_topk_apply": "topk_chunks",
    "maintain_compact": "compact",
    "scan_partition_pruned": "events_by_type",
}


def test_landings_rebuild_after_source_rewrite_in_place(spark, tmp_path):
    """A landed fixture follows its source files: after events and
    orders are overwritten in place with a larger scale's files, every
    land-once callable still matches its oracle over the new data."""
    import os
    import shutil

    import duckdb

    from etl_verkada_spark.catalog import land_dir
    from etl_verkada_spark.compare import compare_frames

    sf = tmp_path / "sf"
    sf.mkdir()
    for t in TABLES:
        shutil.copyfile(f"{SF_SMALL}/{t}.parquet", sf / f"{t}.parquet")
    registry = build_registry()

    def check(phase):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        problems = {
            name: compare_frames(
                registry[name].fn(spark, str(sf)).toPandas(),
                con.execute(registry[name].oracle).df(),
            )
            for name in LANDINGS
        }
        con.close()
        assert not any(problems.values()), (phase, problems)

    larger = os.path.join(os.path.dirname(SF_SMALL), "sf0.01")
    try:
        check("before")
        for t in ("events", "orders"):
            shutil.copyfile(f"{larger}/{t}.parquet", sf / f"{t}.parquet")
        check("after the rewrite")
    finally:
        for land in LANDINGS.values():
            shutil.rmtree(land_dir(str(sf), land), ignore_errors=True)


def test_manifest_log_head_sorts_numerically(spark):
    """manifest_v10 must beat manifest_v2 (lexicographic order would
    pick v2): write a v10 beside the standard v1/v2 and assert the head
    read follows it (ADVICE r5)."""
    import json
    import os

    from etl_verkada_spark.catalog import land_dir
    from etl_verkada_spark.operators.scans import scan_manifest_log

    scan_manifest_log(spark, SF_SMALL).count()  # lay down the log
    root = land_dir(SF_SMALL, "manifest_log")
    with open(f"{root}/_log/manifest_v10.json", "w") as f:
        json.dump({"version": 10, "files": [f"{root}/slice=2"]}, f)
    try:
        keys = [
            r["o_orderkey"]
            for r in scan_manifest_log(spark, SF_SMALL).collect()
        ]
        # v10 commits ONLY slice 2 — a lexicographic head would return
        # slices 0+1 instead
        assert keys and all(k % 3 == 2 for k in keys)
    finally:
        os.remove(f"{root}/_log/manifest_v10.json")


def test_incremental_merge_equals_recompute_after_append(spark):
    """The mergeability contract, exercised the way production uses it:
    on a corpus with one EXTRA day appended, the staged
    history+delta merge must still equal a from-scratch recompute."""
    from etl_verkada_spark.operators.aggregates import (
        DAY_US_AGG, scaled_long, unscale,
    )

    base = spark.createDataFrame(
        [
            (1, 0 * DAY_US_AGG + 5, "a", 1.25),
            (2, 0 * DAY_US_AGG + 9, "a", 2.50),
            (3, 1 * DAY_US_AGG + 1, "b", 0.75),
            (4, 2 * DAY_US_AGG + 3, "a", 4.00),  # the "new" day
            (5, 2 * DAY_US_AGG + 4, "b", 0.01),
        ],
        "event_id long, us long, event_type string, value double",
    )
    parts = base.groupBy(
        "event_type", F.expr(f"us div {DAY_US_AGG}").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"), F.sum(scaled_long("value")).alias("c")
    )
    merged = (
        parts.groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            unscale(F.sum("c"), 2).alias("sum_value"),
        )
    )
    full = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        unscale(F.sum(scaled_long("value")), 2).alias("sum_value"),
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_importance_sample_monotone_in_length(spark):
    """Keep-rate must increase with document length: among sf0.001 docs,
    the kept set's mean length exceeds the full corpus mean (the whole
    point of weighting), and every >=CAP-length doc is kept."""
    from etl_verkada_spark.llm.sampling import (
        llm_sample_importance, IMP_LEN_CAP, _hash_u8,
    )
    from etl_verkada_spark.catalog import table as cat_table

    d = cat_table(spark, SF_SMALL, "documents")
    kept = d.filter(
        _hash_u8() * F.lit(IMP_LEN_CAP)
        < F.least(F.col("n_chars"), F.lit(IMP_LEN_CAP)) * F.lit(256)
    )
    stats = d.agg(F.avg("n_chars").alias("m")).collect()[0]["m"]
    kstats = kept.agg(
        F.avg("n_chars").alias("m"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert kstats["n"] > 0
    assert kstats["m"] >= stats
    long_docs = d.filter(F.col("n_chars") >= IMP_LEN_CAP).count()
    long_kept = kept.filter(F.col("n_chars") >= IMP_LEN_CAP).count()
    assert long_kept == long_docs


def test_dq_drift_matches_pandas_tvd(spark):
    """dq_drift must equal an independent pandas recomputation of the
    per-feature total variation distance, including the integer-exact
    numerator and the single final IEEE division."""
    import math
    import pandas as pd
    from etl_verkada_spark.operators.quality import (
        dq_drift, DRIFT_PIVOT, DRIFT_PRICE_BIN,
    )
    from etl_verkada_spark.catalog import table
    from .conftest import SF_SMALL

    o = table(spark, SF_SMALL, "orders").select(
        "o_orderdate", "o_orderstatus", "o_orderpriority", "o_totalprice"
    ).toPandas()
    o["is_ref"] = o["o_orderdate"] < pd.Timestamp(DRIFT_PIVOT)
    feats = {
        "o_orderstatus": o["o_orderstatus"],
        "o_orderpriority": o["o_orderpriority"],
        "o_totalprice_bin": o["o_totalprice"].map(
            lambda x: str(int(math.floor(x / DRIFT_PRICE_BIN)))
        ),
    }
    want = {}
    for name, cat in feats.items():
        df = pd.DataFrame({"cat": cat, "is_ref": o["is_ref"]})
        cnt = df.groupby("cat")["is_ref"].agg(["sum", "count"])
        cnt_ref = cnt["sum"].astype(int)
        cnt_cur = (cnt["count"] - cnt["sum"]).astype(int)
        n_ref, n_cur = int(cnt_ref.sum()), int(cnt_cur.sum())
        numer = int((cnt_ref * n_cur - cnt_cur * n_ref).abs().sum())
        want[name] = (
            n_ref, n_cur, len(cnt), numer / (2.0 * n_ref * n_cur)
        )
    got = {
        r["feature"]: (r["n_ref"], r["n_cur"], r["n_categories"], r["tvd"])
        for r in dq_drift(spark, SF_SMALL).collect()
    }
    assert got == want
    # both snapshot windows must be populated or the audit is vacuous
    assert all(v[0] > 0 and v[1] > 0 for v in want.values())


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    """100 TB scale path: when the filtered dim side outgrows broadcast
    (emulated by disabling broadcast) and the fact scan is large
    (emulated by zeroing the application-side threshold), Catalyst must
    inject a runtime bloom filter — bloom_filter_agg on the dim's join
    keys, might_contain pushed into the fact scan — so the shuffle only
    carries fact rows that can possibly match. With the session's 64 MB
    broadcast budget this rule is dormant locally (broadcast wins) and
    activates exactly when broadcast stops being possible, which is the
    behavior the cluster relies on (SCALE.md §3)."""
    from etl_verkada_spark.catalog import table
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = table(spark, SF_SMALL, "orders")
        l = table(spark, SF_SMALL, "lineitem")
        j = l.join(
            o.filter(F.col("o_totalprice") > 500000.0),
            l.l_orderkey == o.o_orderkey,
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_topn_per_key_pushes_group_limit_below_exchange(spark):
    """sort_topn_per_key's rank filter must compile to WindowGroupLimit
    on BOTH sides of the exchange (Spark 3.5+ rank-limit pushdown): the
    map-side partial keeps N rows per key before the shuffle, so a hot
    key ships N rows per task, never the whole group."""
    from etl_verkada_spark.operators.sorts import TOPN_PER_KEY

    df = build_registry()["sort_topn_per_key"].fn(spark, SF_SMALL)
    plan = plan_of(df)
    assert plan.count("WindowGroupLimit") == 2, plan[:1500]
    assert "Partial" in plan.split("WindowGroupLimit")[2][:200] or (
        "Final" in plan
    ), plan[:1500]
    # and the result honors the cap
    import pyspark.sql.functions as SF
    over = (
        df.groupBy("lang", "source")
        .count()
        .filter(SF.col("count") > TOPN_PER_KEY)
        .count()
    )
    assert over == 0


def test_streaks_match_pandas_recount(spark):
    """Gaps-and-islands streaks equal a per-user pandas recount of
    consecutive-day runs (and the internal identity best <= total)."""
    import pandas as pd

    from etl_verkada_spark.catalog import table
    from etl_verkada_spark.operators.timeseries import ts_streaks

    got = {
        r["user_id"]: (r["best_streak"], r["n_streaks"], r["n_active_days"])
        for r in ts_streaks(spark, SF_SMALL).collect()
    }
    ev = (
        table(spark, SF_SMALL, "events")
        .selectExpr("user_id", "to_date(ts) AS d")
        .distinct()
        .toPandas()
    )
    for uid, days in ev.groupby("user_id")["d"]:
        ds = sorted(days)
        runs = [1]
        for prev, cur in zip(ds, ds[1:]):
            if (cur - prev).days == 1:
                runs[-1] += 1
            else:
                runs.append(1)
        assert got[uid] == (max(runs), len(runs), len(ds)), uid
    assert set(got) == set(ev["user_id"].unique())


def test_label_propagation_deterministic_and_sane(spark):
    """LPA's packed-vote tie-break must make the labeling a pure
    function of the graph: neither the shuffle partition count (1 or 7
    against the session default) nor turning AQE off can change any
    community assignment, and every community id is a real node id."""
    from etl_verkada_spark.operators.graph import graph_label_propagation

    def labels():
        return {
            (r["node_type"], r["node_key"]): r["community"]
            for r in graph_label_propagation(spark, SF_SMALL).collect()
        }

    a = labels()
    for confs in (
        {"spark.sql.shuffle.partitions": "1"},
        {"spark.sql.shuffle.partitions": "7"},
        {"spark.sql.adaptive.enabled": "false"},
    ):
        saved = {k: spark.conf.get(k) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            assert labels() == a, confs
            assert all(spark.conf.get(k) == v for k, v in confs.items())
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
    nodes = {
        2 * k if t == "part" else 2 * k + 1 for (t, k) in a
    }
    assert set(a.values()) <= nodes


def test_degree_hist_conserves_nodes_and_edges(spark):
    """sum(deg * n_nodes) over the histogram == 2x undirected edge
    count (each edge contributes one out-degree per direction), and
    node totals match the distinct node sets."""
    from etl_verkada_spark.operators.graph import _edges, graph_degree_hist

    hist = graph_degree_hist(spark, SF_SMALL).collect()
    edges = _edges(spark, SF_SMALL)
    n_directed = edges.count()
    assert sum(r["deg"] * r["n_nodes"] for r in hist) == n_directed
    n_nodes = edges.select("src").distinct().count()
    assert sum(r["n_nodes"] for r in hist) == n_nodes


def test_lpa_superstep_is_exchange_free(spark):
    """The round-10 scale fix made concrete: with edges persisted under
    hashpartitioning(dst), one LPA superstep's LIVE plan (everything
    above the already-materialized cache) must contain a broadcast of
    the label vector and NO shuffle Exchange — neither the (dst, lbl)
    vote count nor the per-node argmax may re-partition edge-sized
    data."""
    from etl_verkada_spark.operators.graph import _edges, _lpa_superstep

    edges = _edges(spark, SF_SMALL).repartition(8, "dst").persist()
    try:
        edges.count()
        labels = edges.select("src").distinct().select(
            F.col("src").alias("node"), F.col("src").alias("lbl")
        ).localCheckpoint(eager=True)
        plan = plan_of(_lpa_superstep(edges, labels))
        # live plan = everything above the InMemoryRelation marker;
        # the cached subtree's own (historical) exchanges don't count
        live = plan.split("InMemoryRelation")[0]
        assert "BroadcastHashJoin" in live, plan
        assert "Exchange hashpartitioning" not in live, plan
    finally:
        edges.unpersist()


def test_lpa_first_round_equals_superstep_from_identity(spark):
    """graph_label_propagation replaces its first superstep by a
    min(src) per dst. That is only sound while the edge list is
    distinct (every vote counts 1); both facts are pinned here, row
    for row against a real superstep from identity labels."""
    from etl_verkada_spark.operators.graph import (
        _edges,
        _lpa_first_round,
        _lpa_superstep,
    )

    edges = _edges(spark, SF_SMALL)
    assert edges.count() == edges.distinct().count()
    identity = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("lbl")
    )
    closed = sorted(map(tuple, _lpa_first_round(edges).collect()))
    voted = sorted(map(tuple, _lpa_superstep(edges, identity).collect()))
    assert closed and closed == voted


def _count_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted under a fresh
    job group."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _count_round_trips(spark, fn):
    """``(fn(), number of Py4J round trips fn made)``. Object deletions
    (``m`` commands) are not counted: the Python GC issues them at
    random."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = 0

    def counting(command, *args, **kwargs):
        nonlocal n
        n += not command.startswith("m")
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        out = fn()
    finally:
        del client.send_command
    return out, n


#: Py4J round trips of one warm build of each ``llm_python`` benchmark
#: callable, as measured: 291 in all. A build of one SQL text is the
#: file version, the view check and ``spark.sql``; the rest is the
#: Python kernels' registration.
LLM_PYTHON_ROUND_TRIPS = {
    "llm_kmeans_assign": 18,
    "llm_embed_rp": 18,
    "mm_binary_stats": 18,
    "mm_feature_extract": 52,
    "llm_sim_search": 107,
    "udf_pandas": 78,
}


def test_llm_python_build_round_trips(spark):
    """A warm build of each ``llm_python`` callable stays within its
    round-trip budget (the warm-up call reads the schemas and registers
    the views)."""
    registry = build_registry()
    counts = {}
    for name in LLM_PYTHON_ROUND_TRIPS:
        fn = registry[name].fn
        fn(spark, SF_SMALL)
        _, counts[name] = _count_round_trips(spark, lambda: fn(spark, SF_SMALL))
    over = {
        n: (c, LLM_PYTHON_ROUND_TRIPS[n])
        for n, c in counts.items()
        if c > LLM_PYTHON_ROUND_TRIPS[n]
    }
    assert not over, f"round trips over budget (count, budget): {over}"


#: upper bounds on the Spark jobs one build + noop write runs at
#: SF_SMALL (measured 10 / 14 / 21: one per eager checkpoint, broadcast
#: and AQE query stage)
GRAPH_JOB_BOUNDS = {
    "graph_label_propagation": 10,
    "graph_bfs_levels": 14,
    "graph_pagerank": 21,
}


@pytest.mark.parametrize("name", sorted(GRAPH_JOB_BOUNDS))
def test_graph_iteratives_job_bound(spark, name):
    """The graph iteratives run their supersteps as eager jobs while
    they build; the count of jobs (build plus the final action) must
    not creep back up."""
    from etl_verkada_spark.checkpoints import release
    from etl_verkada_spark.operators.graph import QUERIES

    def build_and_write():
        df = QUERIES[name].fn(spark, SF_SMALL)
        df.write.mode("overwrite").format("noop").save()
        return df

    df, n_jobs = _count_jobs(spark, build_and_write)
    release(df)
    assert 0 < n_jobs <= GRAPH_JOB_BOUNDS[name]


def test_lpa_edge_cache_follows_shuffle_partitions(spark, monkeypatch):
    """The LPA edge cache has exactly the session's
    spark.sql.shuffle.partitions partitions (one task wave per
    superstep), not a fixed count."""
    from etl_verkada_spark.operators import graph

    seen = []
    superstep = graph._lpa_superstep

    def spy(edges, labels):
        seen.append(edges.rdd.getNumPartitions())
        return superstep(edges, labels)

    monkeypatch.setattr(graph, "_lpa_superstep", spy)
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        assert graph.graph_label_propagation(spark, SF_SMALL).count() > 0
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert seen == [5] * (graph.LPA_ITERS - 1)


def test_global_rank_windows_are_bucket_partitioned(spark):
    """sort_orderby and maintain_zorder compute global positions via
    quantile-bucketed rank: every Window node in their plans must be
    PARTITIONED (by the bucket column) — a bare
    'WindowExec: No Partition Defined' single-task sort is the exact
    anti-pattern the round-10 rewrite removed."""
    from etl_verkada_spark.operators.layout import maintain_zorder
    from etl_verkada_spark.operators.sorts import sort_orderby

    for df in (sort_orderby(spark, SF_SMALL), maintain_zorder(spark, SF_SMALL)):
        plan = plan_of(df)
        wlines = [
            l for l in plan.splitlines() if "windowspecdefinition" in l
        ]
        assert wlines, plan
        for l in wlines:
            assert "__bucket" in l, l


def test_bucketed_global_rank_matches_single_window(spark):
    """Positions from the bucketed two-pass plan are identical to the
    one-window definition, including NULL-last placement and ties."""
    from etl_verkada_spark.operators.sorts import bucketed_global_rank

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(
            [5.0, None, 3.0, 3.0, None, 8.0, 1.0, 3.0, 8.0, 0.0]
        )],
        "id int, v double",
    )
    got = {
        r["id"]: r["pos"]
        for r in bucketed_global_rank(
            df, "v",
            [F.col("v").desc_nulls_last(), F.col("id")],
            descending=True, n_buckets=4,
        ).collect()
    }
    from pyspark.sql import Window

    w = Window.orderBy(F.col("v").desc_nulls_last(), F.col("id"))
    want = {
        r["id"]: r["pos"]
        for r in df.select(
            "id", F.row_number().over(w).alias("pos")
        ).collect()
    }
    assert got == want


# --- round-10 additions: skyline / gini / geofence / overlap / benford -------

def test_skyline_no_single_task_window_no_cross_join(spark):
    """The dominance reduction must stay distributed: the running max
    runs under a bucket-PARTITIONED window (no Exchange SinglePartition
    anywhere in the plan) and the candidate check is an equi-join on
    the price group, never an all-pairs product."""
    from etl_verkada_spark.operators.sorts import skyline_pareto

    tree = plan_tree(skyline_pareto(spark, SF_SMALL))
    assert "CartesianProduct" not in tree, tree
    assert "SinglePartition" not in tree, tree


def test_skyline_is_pareto_frontier(spark):
    """No returned part is dominated by ANY part (checked against the
    full table), and every non-returned price group is dominated."""
    from etl_verkada_spark.operators.sorts import skyline_pareto

    got = skyline_pareto(spark, SF_SMALL).collect()
    all_parts = [
        (r["price_c"], r["size"])
        for r in table_validated(spark, SF_SMALL, "part")
        .select(
            F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).alias(
                "price_c"
            ),
            F.col("p_size").cast("long").alias("size"),
        )
        .collect()
    ]
    assert got
    for r in got:
        for qp, qs in all_parts:
            dominated = (
                qp <= r["price_c"]
                and qs >= r["size"]
                and (qp < r["price_c"] or qs > r["size"])
            )
            assert not dominated, (r, qp, qs)


def test_interval_overlap_is_equi_join_on_band(spark):
    """Temporal banding must compile to an equi-join (SortMergeJoin or
    ShuffledHashJoin on the band key) — the overlap predicate is a
    post-join filter, never a join-condition-less product."""
    from etl_verkada_spark.operators.joins import join_interval_overlap

    tree = plan_tree(join_interval_overlap(spark, SF_SMALL))
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" not in tree, tree
    # at sf0.001 AQE broadcasts the small side; at scale the same
    # equi-condition becomes SMJ/SHJ — any HASH/MERGE join qualifies,
    # a loop join never does
    assert (
        "SortMergeJoin" in tree
        or "ShuffledHashJoin" in tree
        or "BroadcastHashJoin" in tree
    ), tree


def test_interval_overlap_matches_bruteforce(spark):
    """The banded plan equals the all-pairs reference computed in
    Spark directly (ownership dedup neither drops nor double-counts)."""
    from etl_verkada_spark.operators.joins import join_interval_overlap

    got = {
        r["epoch_day"]: (r["n_pairs"], r["sum_overlap_cs"])
        for r in join_interval_overlap(spark, SF_SMALL).collect()
    }
    e = table_validated(spark, SF_SMALL, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    iv = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 10000").alias("s"),
        (
            F.expr("unix_micros(cast(ts as timestamp)) div 10000")
            + F.floor(F.col("value") * 100 + F.lit(0.5))
        ).alias("e"),
    ).collect()
    from collections import defaultdict

    want = defaultdict(lambda: [0, 0])
    clicks = [r for r in iv if r["event_type"] == "click"]
    views = [r for r in iv if r["event_type"] == "view"]
    for a in clicks:
        for b in views:
            if a["user_id"] == b["user_id"]:
                continue
            mx_s = max(a["s"], b["s"])
            mn_e = min(a["e"], b["e"])
            if mx_s < mn_e:
                d = want[mx_s // 8640000]
                d[0] += 1
                d[1] += mn_e - mx_s
    assert got == {k: tuple(v) for k, v in want.items()}


def test_bucketed_global_rank_nulls_first_ascending(spark):
    """NULL routing follows the LEADING order column: with Spark's
    default ascending (nulls FIRST) ordering, NULL rows take the
    earliest positions — the r10 advice's silent-wrong-positions case."""
    from etl_verkada_spark.operators.sorts import bucketed_global_rank

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(
            [5.0, None, 3.0, 3.0, None, 8.0, 1.0, 3.0, 8.0, 0.0]
        )],
        "id int, v double",
    )
    got = {
        r["id"]: r["pos"]
        for r in bucketed_global_rank(
            df, "v", [F.col("v"), F.col("id")], n_buckets=4
        ).collect()
    }
    from pyspark.sql import Window

    w = Window.orderBy(F.col("v"), F.col("id"))
    want = {
        r["id"]: r["pos"]
        for r in df.select(
            "id", F.row_number().over(w).alias("pos")
        ).collect()
    }
    assert got == want


def test_interval_overlap_long_intervals_beyond_band(spark):
    """Intervals LONGER than one band (the r10 advice's regression
    case): sequence-banding emits every touched band, so the
    max-start ownership rule still counts each overlapping pair
    exactly once — checked against an in-test brute force."""
    from etl_verkada_spark.operators.joins import overlap_profile

    band = 100  # tiny band so intervals span many bands
    clicks = [(i, f"cu{i}", i * 37, i * 37 + 50 + 90 * i) for i in range(8)]
    views = [(j, f"vu{j}", j * 53 + 20, j * 53 + 20 + 30 + 170 * j)
             for j in range(8)]
    cdf = spark.createDataFrame(
        clicks, "click_id int, click_user string, click_s long, click_e long"
    )
    vdf = spark.createDataFrame(
        views, "view_id int, view_user string, view_s long, view_e long"
    )
    got = {
        r["epoch_day"]: (r["n_pairs"], r["sum_overlap_cs"])
        for r in overlap_profile(cdf, vdf, band_cs=band).collect()
    }
    from collections import defaultdict

    want = defaultdict(lambda: [0, 0])
    for _, cu, cs, ce in clicks:
        for _, vu, vs, ve in views:
            if cu == vu:
                continue
            mx, mn = max(cs, vs), min(ce, ve)
            if mx < mn:
                d = want[mx // 8640000]
                d[0] += 1
                d[1] += mn - mx
    assert got == {k: tuple(v) for k, v in want.items()}
    assert got, "fixture produced no overlapping pairs"


def test_benford_partitions_of_unity(spark):
    """Nine digit rows; observed counts sum to the table count; ppm
    shares sum to 1e6 within the floor-division slack."""
    from etl_verkada_spark.operators.quality import dq_benford

    rows = dq_benford(spark, SF_SMALL).collect()
    assert sorted(r["digit"] for r in rows) == list(range(1, 10))
    n_orders = table_validated(spark, SF_SMALL, "orders").count()
    assert sum(r["n_obs"] for r in rows) == n_orders
    total_ppm = sum(r["obs_ppm"] for r in rows)
    assert 1_000_000 - 9 <= total_ppm <= 1_000_000
    for r in rows:
        assert r["dev_ppm"] == r["obs_ppm"] - r["exp_ppm"]


def test_gini_is_bounded_and_scale_invariant(spark):
    """Gini lives in [0, 1): ppm bounds, and num <= den with num >= 0
    (the exact-integer invariants the formula guarantees for
    non-negative mass)."""
    from etl_verkada_spark.operators.aggregates import agg_gini

    rows = agg_gini(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0 <= r["gini_num"] <= r["gini_den"], r
        assert 0 <= r["gini_ppm"] < 1_000_000, r


# --- round-10 batch 2: heavy hitters / MAD anomalies -------------------------

def test_heavy_hitters_equal_plain_groupby(spark):
    """The combiner-pruned exact frequent-item plan must equal the
    plain groupBy-count-filter twin computed directly (the pruning is
    lossless by the averaging lemma, the recount exact)."""
    from etl_verkada_spark.operators.aggregates import (
        HH_K,
        agg_heavy_hitters,
    )

    got = {
        r["item"]: (r["cnt"], r["share_ppm"])
        for r in agg_heavy_hitters(spark, SF_SMALL).collect()
    }
    d = table_validated(spark, SF_SMALL, "documents")
    items = d.select(F.concat_ws("|", "lang", "source").alias("item"))
    n = items.count()
    want = {
        r["item"]: (r["cnt"], r["cnt"] * 1_000_000 // n)
        for r in items.groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
        if r["cnt"] * (HH_K + 1) >= n
    }
    assert got == want
    assert got, "threshold too high: empty heavy-hitter set"


def test_heavy_hitters_plan_shape(spark):
    """Phase 1 is an Arrow map pass (no shuffle of the distinct-item
    histogram); phase 2's recount joins a broadcast candidate set."""
    from etl_verkada_spark.operators.aggregates import agg_heavy_hitters

    tree = plan_tree(agg_heavy_hitters(spark, SF_SMALL))
    assert "MapInArrow" in tree or "ArrowEvalPython" in tree, tree
    assert "BroadcastHashJoin" in tree, tree


def test_mad_anomaly_matches_python_recompute(spark):
    """Every flagged day clears MAD_MULT x MAD in an independent Python
    recompute from the raw events, and no qualifying day is missing."""
    import statistics
    from collections import defaultdict

    from etl_verkada_spark.operators.timeseries import (
        DAY_US,
        MAD_MULT,
        ts_mad_anomaly,
    )

    got = {
        (r["event_type"], r["epoch_day"]): (r["dev2_c"], r["mad4_c"])
        for r in ts_mad_anomaly(spark, SF_SMALL).collect()
    }
    rows = (
        table_validated(spark, SF_SMALL, "events")
        .select(
            "event_type",
            F.expr(f"unix_micros(cast(ts as timestamp)) div {DAY_US}").alias(
                "epoch_day"
            ),
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("c"),
        )
        .collect()
    )
    daily = defaultdict(int)
    for r in rows:
        daily[(r["event_type"], r["epoch_day"])] += r["c"]
    series = defaultdict(dict)
    for (et, d), tot in daily.items():
        series[et][d] = tot
    want = {}
    for et, days in series.items():
        med2 = round(statistics.median(2 * t for t in days.values()))
        d2s = {d: abs(2 * t - med2) for d, t in days.items()}
        mad4 = round(statistics.median(2 * x for x in d2s.values()))
        for d, d2 in d2s.items():
            if 2 * d2 > MAD_MULT * mad4:
                want[(et, d)] = (d2, mad4)
    assert got == want
    assert got, "no anomalies at sf0.001 — check the threshold"


# --- round-10 batch 3: clustering coefficient / autocorrelation --------------

def test_clustering_coeff_matches_python_recompute(spark):
    """Degrees, triangle counts and the ppm quotient agree with a
    brute-force Python recompute over the collected canonical edges."""
    from itertools import combinations

    from etl_verkada_spark.operators.graph import graph_clustering_coeff

    got = {
        r["p_partkey"]: (r["degree"], r["n_triangles"], r["coeff_ppm"])
        for r in graph_clustering_coeff(spark, SF_SMALL).collect()
    }
    li = (
        table_validated(spark, SF_SMALL, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    from collections import defaultdict

    per_order = defaultdict(set)
    for r in li:
        per_order[r["l_orderkey"]].add(r["l_partkey"])
    cooc = defaultdict(int)
    for parts in per_order.values():
        for u, v in combinations(sorted(parts), 2):
            cooc[(u, v)] += 1
    edges = {e for e, k in cooc.items() if k >= 2}
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    want = {}
    for node, nbrs in adj.items():
        d = len(nbrs)
        if d < 2:
            continue
        t = sum(
            1
            for u, v in combinations(sorted(nbrs), 2)
            if (u, v) in edges
        )
        want[node] = (d, t, 2 * t * 1_000_000 // (d * (d - 1)))
    assert got == want
    assert any(t for _, t, _ in got.values()), "no triangles at sf0.001"


def test_autocorr_matches_python_recompute(spark):
    """r1 equals the Pearson formula computed in Python on the same
    exact integer moments (identical IEEE expression order)."""
    import math
    from collections import defaultdict

    from etl_verkada_spark.operators.timeseries import HOUR_US, ts_autocorr

    got = {
        r["event_type"]: (r["n"], r["r1"])
        for r in ts_autocorr(spark, SF_SMALL).collect()
    }
    assert got
    rows = (
        table_validated(spark, SF_SMALL, "events")
        .select(
            "event_type",
            F.expr(
                f"unix_micros(cast(ts as timestamp)) div {HOUR_US}"
            ).alias("h"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("c"),
        )
        .collect()
    )
    hourly = defaultdict(int)
    for r in rows:
        hourly[(r["event_type"], r["h"])] += r["c"]
    series = defaultdict(list)
    for (et, h), x in hourly.items():
        series[et].append((h, x))
    for et, pts in series.items():
        pts.sort()
        xs = [x for _, x in pts]
        pairs = list(zip(xs[1:], xs[:-1]))
        n = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(y * y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        vx = float(n) * float(sxx) - float(sx) * float(sx)
        vy = float(n) * float(syy) - float(sy) * float(sy)
        if not (vx > 0 and vy > 0):
            assert et not in got
            continue
        r1 = (float(n) * float(sxy) - float(sx) * float(sy)) / (
            math.sqrt(vx) * math.sqrt(vy)
        )
        assert got[et][0] == n
        assert abs(got[et][1] - r1) < 1e-12, et


# --- round-11 additions: k-core / binary-seg changepoint ---------------------

def test_kcore_is_fixpoint_and_matches_peel(spark):
    """Every surviving node's degree clears K (so one MORE peel round
    would remove nothing — KCORE_PEELS reached the true fixpoint, the
    claim the docstring makes), and the surviving set equals a Python
    peel-to-convergence over the collected canonical edges."""
    from collections import defaultdict

    from etl_verkada_spark.operators.graph import (
        KCORE_K,
        TRI_MIN_COOCCUR,
        graph_kcore,
    )

    got = {
        r["p_partkey"]: r["core_degree"]
        for r in graph_kcore(spark, SF_SMALL).collect()
    }
    assert got, "empty k-core — lower KCORE_K"
    assert all(d >= KCORE_K for d in got.values()), "not a fixpoint"

    # brute-force peel to convergence
    li = table_validated(spark, SF_SMALL, "lineitem")
    pp = {(r["l_orderkey"], r["l_partkey"]) for r in li.collect()}
    cooc = defaultdict(int)
    by_o = defaultdict(list)
    for o, p in pp:
        by_o[o].append(p)
    for ps in by_o.values():
        ps.sort()
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                cooc[(ps[i], ps[j])] += 1
    adj = defaultdict(set)
    for (u, v), k in cooc.items():
        if k >= TRI_MIN_COOCCUR:
            adj[u].add(v)
            adj[v].add(u)
    while True:
        dead = [n for n, nb in adj.items() if len(nb) < KCORE_K]
        if not dead:
            break
        for n in dead:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    want = {n: len(nb) for n, nb in adj.items() if nb}
    assert got == want


def test_changepoint_matches_bruteforce(spark):
    """The selected split maximizes the two-segment objective with
    earliest-hour tiebreak, checked against a Python argmax over the
    collected hourly series."""
    from collections import defaultdict

    from etl_verkada_spark.operators.timeseries import (
        HOUR_US,
        ts_changepoint,
    )

    got = {
        r["event_type"]: (r["n_hours"], r["split_hour_us"])
        for r in ts_changepoint(spark, SF_SMALL).collect()
    }
    e = table_validated(spark, SF_SMALL, "events")
    rows = e.select(
        "event_type",
        F.expr(f"unix_micros(cast(ts as timestamp)) div {HOUR_US}").alias(
            "b"
        ),
        F.floor(F.col("value") * 100 + F.lit(0.5)).alias("c"),
    ).collect()
    series = defaultdict(lambda: defaultdict(int))
    for r in rows:
        series[r["event_type"]][r["b"]] += r["c"]
    for et, hs in series.items():
        buckets = sorted(hs)
        n = len(buckets)
        s = sum(hs[b] for b in buckets)
        best, best_b = None, None
        sk = 0
        for k, b in enumerate(buckets[:-1], start=1):
            sk += hs[b]
            obj = float(sk) * float(sk) / float(k) + float(s - sk) * float(
                s - sk
            ) / float(n - k)
            if best is None or obj > best:
                best, best_b = obj, b
        assert got[et] == (n, best_b * HOUR_US), et


def test_asof_nearest_matches_bruteforce(spark):
    """Nearest-either-direction pick with 1h tolerance and
    earlier-click tiebreak equals an all-pairs Python recompute."""
    from collections import defaultdict

    from etl_verkada_spark.operators.joins import (
        NEAREST_TOL_US,
        join_asof_nearest,
    )

    got = {
        r["event_id"]: (r["click_us"], r["dist_us"])
        for r in join_asof_nearest(spark, SF_SMALL).collect()
    }
    e = table_validated(spark, SF_SMALL, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    rows = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
    ).collect()
    clicks = defaultdict(list)
    for r in rows:
        if r["event_type"] == "click":
            clicks[r["user_id"]].append(r["us"])
    want = {}
    for r in rows:
        if r["event_type"] != "purchase":
            continue
        best = None
        for c in clicks.get(r["user_id"], []):
            d = abs(r["us"] - c)
            if d > NEAREST_TOL_US:
                continue
            # nearer wins; equal distance -> earlier click
            if best is None or d < best[1] or (d == best[1] and c < best[0]):
                best = (c, d)
        if best is not None:
            want[r["event_id"]] = best
    assert got == want
    assert got, "no nearest matches at sf0.001"


def test_asof_nearest_single_exchange_single_sort(spark):
    """The fused nearest plan shuffles ONCE on user_id and sorts ONCE:
    both window frames ride the same ascending (us, is_p) order —
    a second Exchange or Sort would double the wire/CPU cost for no
    semantic gain (the same-instant-click tie proof is in the
    docstring)."""
    from etl_verkada_spark.operators.joins import join_asof_nearest

    import re

    plan = formatted_plan(join_asof_nearest(spark, SF_SMALL))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    n_sorts = len(re.findall(r"^\(\d+\) Sort", plan, re.M))
    assert n_exchanges == 1, plan
    assert n_sorts == 1, plan
    # r14: both legs come from ONE conditional-projection scan — a
    # regression back to the two-scan union doubles the events read
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert n_scans == 1, plan


def test_session_attribution_matches_bruteforce(spark):
    """First-touch credit equals a Python replay: 30-min-gap sessions,
    first click per session, purchase revenue in exact cents."""
    from collections import defaultdict

    from etl_verkada_spark.operators.windows import (
        SESSION_GAP_US,
        win_session_attribution,
    )

    got = {
        r["epoch_day"]: (
            r["n_sessions"], r["n_purchases"], round(r["attributed_revenue"], 2)
        )
        for r in win_session_attribution(spark, SF_SMALL).collect()
    }
    rows = (
        table_validated(spark, SF_SMALL, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("c"),
        )
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    agg = defaultdict(lambda: [0, 0, 0])
    for evs in by_user.values():
        evs.sort(key=lambda r: (r["us"], r["event_id"]))
        sessions = []
        for r in evs:
            if not sessions or r["us"] - sessions[-1][-1]["us"] >= SESSION_GAP_US:
                sessions.append([])
            sessions[-1].append(r)
        for s in sessions:
            clicks = [r["us"] for r in s if r["event_type"] == "click"]
            purch = [r["c"] for r in s if r["event_type"] == "purchase"]
            if clicks and purch:
                day = min(clicks) // 86400000000
                agg[day][0] += 1
                agg[day][1] += len(purch)
                agg[day][2] += sum(purch)
    want = {
        d: (v[0], v[1], round(v[2] / 100, 2)) for d, v in agg.items()
    }
    assert got == want
    assert got, "no attributable sessions at sf0.001"


def test_jaccard_matches_bruteforce(spark):
    """Neighborhood Jaccard equals a Python recompute over the same
    co-occurrence edges (wedge candidates = every pair with >= 1 common
    neighbor; output thresholded at JACC_MIN_COMMON)."""
    from collections import defaultdict
    from itertools import combinations

    from etl_verkada_spark.operators.graph import (
        JACC_MIN_COMMON,
        TRI_MIN_COOCCUR,
        graph_jaccard,
    )

    got = {
        (r["p_a"], r["p_b"]): (r["common"], r["jaccard_ppm"])
        for r in graph_jaccard(spark, SF_SMALL).collect()
    }
    pp = (
        table_validated(spark, SF_SMALL, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    by_order = defaultdict(set)
    for r in pp:
        by_order[r["l_orderkey"]].add(r["l_partkey"])
    cooc = defaultdict(int)
    for parts in by_order.values():
        for u, v in combinations(sorted(parts), 2):
            cooc[(u, v)] += 1
    nbr = defaultdict(set)
    for (u, v), k in cooc.items():
        if k >= TRI_MIN_COOCCUR:
            nbr[u].add(v)
            nbr[v].add(u)
    want = {}
    cand = set()
    for w, ns in nbr.items():
        for x, y in combinations(sorted(ns), 2):
            cand.add((x, y))
    for x, y in cand:
        common = len(nbr[x] & nbr[y])
        if common >= JACC_MIN_COMMON:
            want[(x, y)] = (
                common,
                common * 1_000_000 // (len(nbr[x]) + len(nbr[y]) - common),
            )
    assert got == want
    assert got, "no jaccard pairs at sf0.001"


def test_winsorize_matches_python_recompute(spark):
    """Winsorized mean / clip counts equal a Python recompute with the
    PERCENTILE_DISC lower convention on exact cents."""
    from collections import defaultdict

    got = {
        r["event_type"]: (
            r["n"], r["p05"], r["p95"], r["n_clip_lo"], r["n_clip_hi"],
            round(r["wins_mean"], 9),
        )
        for r in build_registry()["ts_winsorize"].fn(spark, SF_SMALL).collect()
    }
    rows = (
        table_validated(spark, SF_SMALL, "events")
        .select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("c"),
        )
        .collect()
    )
    series = defaultdict(list)
    for r in rows:
        series[r["event_type"]].append(r["c"])
    want = {}
    for t, vs in series.items():
        vs.sort()
        n = len(vs)
        lo = next(v for i, v in enumerate(vs) if 20 * (i + 1) >= n)
        hi = next(v for i, v in enumerate(vs) if 20 * (i + 1) >= 19 * n)
        clipped = [min(max(v, lo), hi) for v in vs]
        want[t] = (
            n,
            lo / 100,
            hi / 100,
            sum(1 for v in vs if v < lo),
            sum(1 for v in vs if v > hi),
            round(sum(clipped) / 100 / n, 9),
        )
    assert got == want


def test_lttb_matches_bruteforce(spark):
    """LTTB picks equal a Python recompute of the integer-centroid
    relative-coordinate area argmax (r13 scoring; r14 quantized-cell
    bucketing — edges on LTTB_CELL_S boundaries; first/last buckets
    keep their first/last point)."""
    from collections import defaultdict

    from etl_verkada_spark.operators.timeseries import (
        LTTB_BUCKETS,
        LTTB_CELL_S,
        ts_lttb,
    )

    got = {
        (r["event_type"], r["bkt"]): (r["event_id"], r["x_s"], r["value"])
        for r in ts_lttb(spark, SF_SMALL).collect()
    }
    rows = (
        table_validated(spark, SF_SMALL, "events")
        .select(
            "event_type",
            "event_id",
            F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias(
                "t"
            ),
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("c"),
        )
        .collect()
    )
    series = defaultdict(list)
    for r in rows:
        series[r["event_type"]].append((r["t"], r["event_id"], r["c"]))
    want = {}
    for typ, pts in series.items():
        mn_g = min(p[0] // LTTB_CELL_S for p in pts)
        span_g = max(p[0] // LTTB_CELL_S for p in pts) - mn_g + 1
        t0 = mn_g * LTTB_CELL_S
        buckets = defaultdict(list)
        for t, eid, c in pts:
            x = t - t0
            bkt = min(
                (t // LTTB_CELL_S - mn_g) * LTTB_BUCKETS // span_g,
                LTTB_BUCKETS - 1,
            )
            buckets[bkt].append((x, eid, c))
        order = sorted(buckets)
        for i, b in enumerate(order):
            prev = buckets[order[i - 1]] if i > 0 else None
            nxt = buckets[order[i + 1]] if i + 1 < len(order) else None
            members = buckets[b]
            if prev is None:
                pick = min(members, key=lambda m: (m[0], m[1]))
            elif nxt is None:
                pick = min(members, key=lambda m: (-m[0], m[0], m[1]))
            else:
                pn = len(prev)
                cxp = sum(m[0] for m in prev) // pn
                cyp = sum(m[2] for m in prev) // pn
                nn = len(nxt)
                dxn = sum(m[0] for m in nxt) // nn - cxp
                dyn = sum(m[2] for m in nxt) // nn - cyp

                def area2(m):
                    x, _, y = m
                    return abs(dxn * (y - cyp) - (x - cxp) * dyn)

                pick = min(members, key=lambda m: (-area2(m), m[0], m[1]))
            want[(typ, b)] = (pick[1], pick[0], pick[2] / 100)
    assert got == want


def test_join_star_broadcasts_kilobyte_dims(spark):
    """The star plan must not shuffle the fact table for nation/region:
    both dimension hops are BroadcastHashJoins."""
    import re

    from etl_verkada_spark.operators.joins import join_star

    plan = formatted_plan(join_star(spark, SF_SMALL))
    n_bhj = len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M))
    assert n_bhj >= 2, plan


def test_join_large_plan_broadcasts_pruned_orders(spark):
    """The flagship unhinted large join (r11 verdict item 2): Catalyst
    must (a) prune BOTH scans to exactly the referenced columns —
    lineitem to (l_orderkey, l_extendedprice), orders to (o_orderkey,
    o_orderpriority) — and (b) pick a broadcast hash join for the
    orders build side while it fits the session's threshold (verified
    at sf1 too: 25 MB on disk, static BHJ — see SCALE.md §27). The only
    row-scale exchange allowed is none; the single hashpartitioning
    exchange belongs to the 5-row priority aggregate."""
    from etl_verkada_spark.operators.joins import join_large

    df = join_large(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double>" \
        in plan, plan
    assert "ReadSchema: struct<o_orderkey:bigint,o_orderpriority:string>" \
        in plan, plan
    raw = plan_of(df)
    assert raw.count("Exchange hashpartitioning") == 1, raw


def test_not_in_null_trap_counts(spark):
    """The NULL-tainted NOT IN admits zero rows; the filtered form is a
    plain anti join and must be >= 0 with n_customers an upper bound."""
    r = build_registry()["subquery_not_in"].fn(spark, SF_SMALL).collect()[0]
    assert r["n_tainted"] == 0
    assert 0 <= r["n_filtered"] <= r["n_customers"]


def test_lttb_pick_is_mergeable_aggregate(spark):
    """ts_lttb's max-area pick must run as a PARTIAL (map-side
    combined) HASH aggregate, not a row_number window and not a
    SortAggregate: the exchange carries one candidate per (series,
    bucket) per map partition, and the packed-DECIMAL min_by keeps the
    buffer mutable so no map-side sort is paid (r13; the r12
    min(struct) form planned as SortAggregate). A Window here means
    the row-scale shuffle regressed back in."""
    from etl_verkada_spark.operators.timeseries import ts_lttb

    df = ts_lttb(spark, SF_SMALL)
    plan = plan_of(df)
    assert "partial_min_by" in plan.replace("\n", " "), plan
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in exec_plan, exec_plan
    # the only Window allowed is the cell-sized lag/lead over bucket
    # centroids (partition = event_type, ~LTTB_BUCKETS rows/series)
    assert plan.count("Window") <= 1, plan


def test_weighted_median_scan2_is_literal_pushdown(spark):
    """agg_weighted_median's second scan must receive the median-bucket
    membership as a LITERAL range predicate on the raw price column
    (PushedFilters at the parquet scan), with NO broadcast join and
    only the one histogram-sized cumulative Window (r14: the bucket
    selection is collected driver-side — cell-sized by construction —
    so a regression back to join-against-bucket-table or a row-scale
    window shows up here)."""
    from etl_verkada_spark.operators.aggregates import agg_weighted_median

    df = agg_weighted_median(spark, SF_SMALL)
    plan = plan_of(df)
    assert "BroadcastHashJoin" not in plan, plan
    assert plan.count("Window") <= 1, plan
    fp = formatted_plan(df).replace(" ", "")
    assert "GreaterThanOrEqual(l_extendedprice" in fp, fp
    assert "LessThanOrEqual(l_extendedprice" in fp, fp


def test_weighted_median_empty_input_returns_empty(spark, tmp_path):
    """Empty lineitem -> empty result frame with the output schema
    (r14 advice: the driver-side bucket pick used to leave the scan-2
    predicates as None and li.filter(None) raised)."""
    from etl_verkada_spark.catalog import table
    from etl_verkada_spark.operators.aggregates import agg_weighted_median

    src = table(spark, SF_SMALL, "lineitem")
    src.limit(0).write.parquet(str(tmp_path / "lineitem.parquet"))
    out = agg_weighted_median(spark, str(tmp_path))
    assert out.columns == [
        "l_returnflag",
        "weighted_median_price",
        "total_weight",
    ]
    assert out.count() == 0


def test_tfidf_one_rowscale_exchange_broadcast_df(spark):
    """llm_tfidf's tf aggregate and per-doc top-k window both reuse the
    pre-explode repartition-by-doc_id (HashPartitioning(doc_id)
    satisfies both clusterings), and the vocabulary-sized df table
    joins back as a BROADCAST — regression here means the corpus
    re-shuffles by term (r14, found 4.6x by the bench rotation)."""
    import re

    from etl_verkada_spark.llm.text import llm_tfidf

    plan = plan_of(llm_tfidf(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan
    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash <= 2, plan


def test_lexical_diversity_one_exchange(spark):
    """llm_lexical_diversity's two hash aggregates both reuse the
    pre-explode repartition-by-doc_id — exactly ONE hash exchange in
    the plan (r15; regression = the (doc, word) or per-doc rollup
    re-shuffles at token scale, the 2.06x sf1 boundary-row shape)."""
    import re

    from etl_verkada_spark.llm.text import llm_lexical_diversity

    plan = plan_of(llm_lexical_diversity(spark, SF_SMALL))
    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash == 1, plan


def test_dataset_card_has_no_expand_or_window(spark):
    """llm_dataset_card's rollup must keep ONE distinct (no Expand
    doubling the corpus-scale exchange) and derive top-lang/n_langs
    from the cell table with mergeable aggregates (no Window)."""
    from etl_verkada_spark.llm.text import llm_dataset_card

    plan = plan_of(llm_dataset_card(spark, SF_SMALL))
    assert "Expand" not in plan, plan
    assert "Window" not in plan, plan


def test_corr_matches_python_recompute(spark):
    """Pearson r equals a numpy recompute on the exact scaled ints."""
    import numpy as np

    from etl_verkada_spark.operators.aggregates import agg_corr

    got = {
        r["l_returnflag"]: (
            r["n"], r["corr_qty_price"], r["corr_qty_disc"],
            r["corr_price_disc"],
        )
        for r in agg_corr(spark, SF_SMALL).collect()
    }
    rows = (
        table_validated(spark, SF_SMALL, "lineitem")
        .select(
            "l_returnflag",
            F.col("l_quantity").cast("long").alias("q"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).alias("p"),
            F.floor(F.col("l_discount") * 100 + F.lit(0.5)).alias("d"),
        )
        .collect()
    )
    from collections import defaultdict

    by = defaultdict(list)
    for r in rows:
        by[r["l_returnflag"]].append((r["q"], r["p"], r["d"]))
    for flag, triples in by.items():
        a = np.array(triples, dtype=np.float64)
        want = (
            len(triples),
            float(np.corrcoef(a[:, 0], a[:, 1])[0, 1]),
            float(np.corrcoef(a[:, 0], a[:, 2])[0, 1]),
            float(np.corrcoef(a[:, 1], a[:, 2])[0, 1]),
        )
        got_f = got[flag]
        assert got_f[0] == want[0]
        for g, w in zip(got_f[1:], want[1:]):
            assert abs(g - w) < 1e-9, (flag, g, w)


def test_dbscan_labels_satisfy_definition(spark):
    """Core/border/noise labels must satisfy the DBSCAN definition
    recomputed brute-force in Python: cores have >= minPts in-eps
    neighbors (self included), borders are non-core with >= 1 core
    neighbor (assigned the MIN core root), noise has none, and every
    in-eps core-core pair shares a cluster root."""
    from etl_verkada_spark.operators.geo import (
        DBSCAN_EPS_E4,
        DBSCAN_MINPTS,
        geo_dbscan,
    )

    got = {
        r["c_custkey"]: (r["label"], r["cluster_root"])
        for r in geo_dbscan(spark, SF_SMALL).collect()
    }
    pts = {
        r["c_custkey"]: (r["c_nationkey"] * 10_000,
                         int(r["c_acctbal"] * 100 + 0.5))
        for r in table_validated(spark, SF_SMALL, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal").collect()
    }
    eps2 = DBSCAN_EPS_E4 ** 2
    nbrs = {
        i: [j for j, q in pts.items()
            if (p[0]-q[0])**2 + (p[1]-q[1])**2 <= eps2]
        for i, p in pts.items()
    }
    cores = {i for i, ns in nbrs.items() if len(ns) >= DBSCAN_MINPTS}
    assert set(got) == set(pts)
    for i, (label, root) in got.items():
        if label == "core":
            assert i in cores and root is not None
        elif label == "border":
            core_nb = [j for j in nbrs[i] if j != i and j in cores]
            assert i not in cores and core_nb
            assert root == min(got[j][1] for j in core_nb)
        else:
            assert i not in cores
            assert not [j for j in nbrs[i] if j != i and j in cores]
            assert root is None
    # transitivity: in-eps core-core pairs share a root
    for i in cores:
        for j in nbrs[i]:
            if j in cores:
                assert got[i][1] == got[j][1], (i, j)
    assert any(l == "core" for l, _ in got.values())
    assert any(l == "noise" for l, _ in got.values())


# --- job-free table reads ----------------------------------------------------


def test_table_repeat_read_runs_no_job(spark):
    """Once the session has read a file, reading it again (schema
    included) is analysis only: the inferred schema is memoized."""
    from etl_verkada_spark.catalog import table

    table(spark, SF_SMALL, "orders")
    schema, n_jobs = _count_jobs(
        spark, lambda: table(spark, SF_SMALL, "orders").schema
    )
    assert n_jobs == 0
    assert "o_orderkey" in schema.names


def test_table_reinfers_schema_of_rewritten_file(spark, tmp_path):
    """A file rewritten at the same path with other columns has another
    length or mtime, so the memo misses and the new schema is read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_verkada_spark.catalog import table

    path = tmp_path / "orders.parquet"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert table(spark, str(tmp_path), "orders").columns == ["a", "b"]
    pq.write_table(pa.table({"c": [1.5, 2.5, 3.5]}), path)
    df = table(spark, str(tmp_path), "orders")
    assert df.columns == ["c"]
    assert sorted(r["c"] for r in df.collect()) == [1.5, 2.5, 3.5]


@pytest.mark.parametrize("name", TABLES)
def test_memo_hit_read_equals_inferred_read(spark, name):
    """Every catalog table read with the memoized schema has the schema
    and rows of a read that infers it afresh."""
    from etl_verkada_spark.catalog import _micros_ts, _path, table

    table(spark, SF_SMALL, name)
    hit = table(spark, SF_SMALL, name)
    fresh = spark.read.parquet(_path(SF_SMALL, name))
    if name == "events":
        fresh = _micros_ts(fresh)
    assert hit.schema == fresh.schema
    assert hit.collect() == fresh.collect()


def test_events_nanos_ts_read_as_micros(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file reads as long ns (nanosAsLong) and
    leaves the catalog, memo hit or miss, batch, SQL or stream, as a
    microsecond timestamp_ntz with the same instants. A SQL read binds
    its views at analysis: re-registering ``events`` at another scale
    leaves an earlier DataFrame on its own file."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_verkada_spark.catalog import sql, table
    from etl_verkada_spark.streaming.stateful import events_stream

    ts = [dt.datetime(2024, 1, 1, 0, 0, 0, 123456), dt.datetime(2024, 1, 2)]
    pq.write_table(
        pa.table({"user_id": [1, 2], "ts": pa.array(ts, pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
    )
    text = "SELECT ts FROM events"
    reads = [  # memo miss, then hits
        table(spark, str(tmp_path), "events"),
        table(spark, str(tmp_path), "events"),
        sql(spark, str(tmp_path), text),
    ]
    for df in reads:
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert sorted(r["ts"] for r in df.collect()) == ts
    stream = events_stream(spark, str(tmp_path))
    assert dict(stream.dtypes)["ts"] == "timestamp_ntz"

    assert sql(spark, SF_SMALL, text).count() > 2
    assert sorted(r["ts"] for r in reads[-1].collect()) == ts


def _record_view_registrations(monkeypatch, spark) -> list[str]:
    """The names of the temp views registered from now on, in order."""
    cls = type(spark.range(1))
    register = cls.createOrReplaceTempView
    names: list[str] = []

    def recording(df, name):
        names.append(name)
        register(df, name)

    monkeypatch.setattr(cls, "createOrReplaceTempView", recording)
    return names


def test_sql_repeat_call_registers_no_view(spark, monkeypatch):
    """A second ``catalog.sql`` call on the same files reuses the views
    the first one registered."""
    from etl_verkada_spark.catalog import sql

    text = "SELECT count(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey"
    first = sql(spark, SF_SMALL, text).first()["n"]
    registered = _record_view_registrations(monkeypatch, spark)
    assert sql(spark, SF_SMALL, text).first()["n"] == first
    assert registered == []


def test_sql_switching_sf_dir_reregisters_views(spark, tmp_path, monkeypatch):
    """Views are bare-named, so a call at another scale re-registers
    them and reads that scale, and so does the call back."""
    import pyarrow.parquet as pq

    from etl_verkada_spark.catalog import _path, sql

    pq.write_table(
        pq.read_table(_path(SF_SMALL, "orders")).slice(0, 10),
        tmp_path / "orders.parquet",
    )
    text = "SELECT count(*) AS n FROM orders"
    n_small = sql(spark, SF_SMALL, text).first()["n"]
    registered = _record_view_registrations(monkeypatch, spark)
    assert sql(spark, str(tmp_path), text).first()["n"] == 10
    assert sql(spark, SF_SMALL, text).first()["n"] == n_small > 10
    assert registered == ["orders", "orders"]


def test_sql_rewritten_file_reregisters_view(spark, tmp_path, monkeypatch):
    """A table file with a new length, or only a new mtime, is another
    version: its view is registered again and reads the new file."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_verkada_spark.catalog import sql

    path = tmp_path / "region.parquet"
    text = "SELECT sum(r) AS s FROM region"
    pq.write_table(pa.table({"r": [1, 2]}), path)
    assert sql(spark, str(tmp_path), text).first()["s"] == 3
    registered = _record_view_registrations(monkeypatch, spark)
    pq.write_table(pa.table({"r": [1, 2, 3]}), path)
    assert sql(spark, str(tmp_path), text).first()["s"] == 6
    assert registered == ["region"]
    stat = os.stat(path)
    os.utime(path, ns=(stat.st_atime_ns, stat.st_mtime_ns + 10**9))
    assert sql(spark, str(tmp_path), text).first()["s"] == 6
    assert registered == ["region", "region"]


def test_sql_replaced_or_dropped_view_is_reregistered(spark, monkeypatch):
    """``catalog.sql`` owns the bare-name catalog views: a view someone
    else put under a catalog table's name, or a dropped one, is replaced
    by the catalog table on the next call."""
    from etl_verkada_spark.catalog import sql

    text = "SELECT count(*) AS n FROM nation"
    n = sql(spark, SF_SMALL, text).first()["n"]
    spark.range(n + 7).createOrReplaceTempView("nation")
    registered = _record_view_registrations(monkeypatch, spark)
    assert sql(spark, SF_SMALL, text).first()["n"] == n
    spark.catalog.dropTempView("nation")
    assert sql(spark, SF_SMALL, text).first()["n"] == n
    assert registered == ["nation", "nation"]


def test_conf_set_after_first_read_survives_later_reads(spark):
    """A session is configured once: a conf set after get_spark and
    after a first catalog read still holds after later reads, of the
    same table or another. A session built elsewhere (own SQLConf,
    shared context) gets the defaults on its first read, before the
    events schema is inferred."""
    from etl_verkada_spark.catalog import table

    confs = {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.adaptive.enabled": "false",
    }
    table(spark, SF_SMALL, "orders")
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        table(spark, SF_SMALL, "orders")
        table(spark, SF_SMALL, "lineitem")
        assert {k: spark.conf.get(k) for k in confs} == confs
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    foreign = spark.newSession()
    foreign.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    foreign.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    events = table(foreign, SF_SMALL, "events")
    assert foreign.conf.get("spark.sql.session.timeZone") == "UTC"
    assert foreign.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert dict(events.dtypes)["ts"] == "timestamp_ntz"
    assert events.limit(1).count() == 1


#: Spark jobs a registered callable may run while it BUILDS, at
#: SF_SMALL once every table has been read: the count measured with
#: empty landing dirs (a land-then-read scan lands on its first build
#: only, so later builds run fewer). Every other callable builds
#: without a job. Jobs of a streaming query run under the stream's own
#: job group, so the stream_* builds count only their batch-side jobs.
BUILD_JOB_ALLOW = {
    # eager supersteps / iterations (checkpoints, convergence reads)
    "geo_dbscan": 10,
    "graph_bfs_levels": 12,
    "graph_kcore": 52,
    "graph_label_propagation": 8,
    "graph_pagerank": 19,
    "llm_dedup_cc": 27,
    "llm_dedup_semantic": 18,
    "llm_kmeans_train": 23,
    "llm_bpe_encode": 8,
    "llm_bpe_train": 8,
    "llm_tokenizer_fertility": 10,
    "skyline_pareto": 6,
    # driver-side reads of a cell-sized table that parameterize the plan
    "agg_countmin": 1,
    "agg_weighted_median": 2,
    "llm_dedup_simhash": 2,
    "llm_tfidf": 1,
    "sort_orderby": 4,
    "ts_lttb": 2,
    "ts_rollup_hierarchy": 1,
    "scan_cursor": 3,
    # land files, then read them back (scan_rest_* land the pages of an
    # in-process HTTP stub they start themselves)
    "join_bucketed": 2,
    "maintain_compact": 3,
    "maintain_zorder": 4,
    "scan_csv_land": 1,
    "scan_json_land": 1,
    "scan_manifest_log": 4,
    "scan_orc_land": 1,
    "scan_partition_pruned": 2,
    "scan_rest_cursor": 2,
    "scan_rest_page": 2,
    "scan_schema_evolution": 3,
    "scd2_apply": 3,
    "stream_drift": 9,
    "stream_drift_apply": 5,
    "stream_mv_apply": 5,
    "stream_mv_refresh": 9,
    "stream_topk": 9,
    "stream_topk_apply": 5,
}


def test_registry_builds_run_no_jobs(spark):
    """Building a registered callable runs no Spark job, except for the
    named allow-list, each within its measured count."""
    from etl_verkada_spark.catalog import table
    from etl_verkada_spark.checkpoints import release

    for name in TABLES:
        table(spark, SF_SMALL, name)
    registry = build_registry()
    assert set(BUILD_JOB_ALLOW) <= set(registry)
    over = {}
    for name, query in registry.items():
        df, n_jobs = _count_jobs(spark, lambda: query.fn(spark, SF_SMALL))
        release(df)
        if n_jobs > BUILD_JOB_ALLOW.get(name, 0):
            over[name] = n_jobs
    assert not over, over
