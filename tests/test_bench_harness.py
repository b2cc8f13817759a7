"""Regression pins for the bench harness's failure-recovery paths —
round 9 lost an entire 90-minute sf1 section to one infeasible oracle;
these tests keep the fixes honest. No Spark session needed."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_sf1_progress_reconstruction(tmp_path, monkeypatch):
    p = tmp_path / "progress.jsonl"
    monkeypatch.setattr(bench, "_sf1_progress_path", lambda: str(p))
    rows = [
        {"k": "floor", "q": "floor_s", "v": 0.03},
        {"k": "duckdb", "q": "q1", "v": {"min": 0.1, "med": 0.1, "n": 5, "spread": 1.1}},
        {"k": "spark", "q": "q1", "v": {"min": 0.53, "med": 0.6, "n": 5, "spread": 1.2}},
        {"k": "spark", "q": "q2", "v": {"min": 1.0, "med": 1.0, "n": 5, "spread": 2.5}},
        {"k": "duckdb_cold", "q": "qc", "v": 6.8},
        {"k": "error", "q": "duckdb:bad", "v": "boom"},
    ]
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    out = bench._sf1_from_progress("section timeout")
    assert out["partial_from_progress"] is True
    # floor subtracted before the ratio
    assert out["ratio_floor_adjusted"]["q1"] == round(0.5 / 0.1, 2)
    # q2 has no duck pair -> no ratio, but its spread flags it unstable
    assert "q2" not in out["ratio_floor_adjusted"]
    assert "q2" in out["unstable"]
    assert out["cold_duckdb_sec"]["qc"] == 6.8
    assert out["errors"]["duckdb:bad"] == "boom"
    assert out["errors"]["section"] == "section timeout"


def test_sf1_progress_missing_file_degrades(monkeypatch, tmp_path):
    monkeypatch.setattr(
        bench, "_sf1_progress_path", lambda: str(tmp_path / "absent.jsonl")
    )
    out = bench._sf1_from_progress("err msg")
    assert out == {"error": "err msg"}


def test_duckdb_budget_interrupts_runaway():
    """A query slower than the budget must surface as an exception the
    caller records per-query (never a section hang)."""
    import duckdb

    con = duckdb.connect()
    orig = bench.SF1_DUCK_QUERY_BUDGET_S
    bench.SF1_DUCK_QUERY_BUDGET_S = 0.3
    try:
        try:
            # ~10^9-row cross join: far beyond the 0.3 s budget
            bench.run_duckdb_budgeted(
                con,
                "SELECT COUNT(*) FROM range(100000) a, range(100000) b "
                "WHERE (a.range*b.range) % 7 = 3",
                n_runs=2,
            )
            raised = False
        except Exception:
            raised = True
        assert raised
    finally:
        bench.SF1_DUCK_QUERY_BUDGET_S = orig


def test_infeasible_oracle_pairs_stay_off_sf1():
    """The prefixfilter pair op must NOT ride sf1 on any tier: the
    round-10 run measured the perturbed-corpus tau>=0.5 join at 136 s
    Spark with the equal-work DuckDB twin past its budget — the row
    prices pair materialization (~2.5M qualifying pairs), not the
    blocking strategy, and its cost starves the rest of the section's
    deadline. The brute-force correctness oracle must likewise never
    ride sf1 (the round-9 total-loss cause). Perturbed-replica
    synthesis itself stays on — other pair ops depend on it for honest
    rows."""
    assert "llm_dedup_prefixfilter" not in bench.SF1_QUERIES
    assert "llm_dedup_prefixfilter" not in bench.SF1_SPARK_ONLY
    assert "llm_dedup_prefixfilter" not in bench.SF1_COLD_QUERIES
    # perturbed-replica synthesis is on (and cache-invalidating)
    assert bench.SF1_PERTURB_STRIDE == 10
    assert bench.SF1_GEN_VERSION >= 5


def test_sf1_order_is_degradation_aware():
    """The deadline drops the list tail first, so never-paired (r8-r10)
    queries must precede the heavy tail."""
    order = {q: i for i, q in enumerate(bench.SF1_QUERIES)}
    fresh = ["ts_mad_anomaly", "llm_winnowing", "agg_gini"]
    heavy = ["llm_dedup_substring", "stream_mv_refresh",
             "graph_triangle_count"]
    assert max(order[q] for q in fresh) < min(order[q] for q in heavy)


def test_stdout_line_budget_worst_case():
    """The final stdout line must fit the driver's tail capture with
    every current query in both sets."""
    timings = {q: 1.234 for q in bench.HEADLINE}
    duck = {q: 0.123 for q in bench.HEADLINE}
    sf1 = {
        "ratio_floor_adjusted": {q: 12.345 for q in bench.SF1_QUERIES},
        "unstable": ["a", "b", "c"],
        "free_disk_gb_at_start": 79.1,
        "errors": [1],
        "spark_only": {q: 1.23 for q in bench.SF1_SPARK_ONLY},
        "cold_sec": {"scd2_build": 1.76, "graph_pagerank": 11.43},
    }
    line = bench.compact_stdout_line(
        12.3, 0.1, timings, 0.027, duck, sf1, "/tmp/x.json"
    )
    assert len(line) < bench.STDOUT_LINE_BUDGET
    json.loads(line)


def test_sf1_progress_rejects_stale_run_id(tmp_path, monkeypatch):
    """ADVICE r9: if the child died before stamping THIS run's id, a
    leftover progress file from an earlier run must not be published
    as this run's partial measurements."""
    p = tmp_path / "progress.jsonl"
    monkeypatch.setattr(bench, "_sf1_progress_path", lambda: str(p))
    rows = [
        {"k": "run_id", "q": "run_id", "v": "oldrun"},
        {"k": "duckdb", "q": "q1",
         "v": {"min": 0.1, "med": 0.1, "n": 3, "spread": 1.1}},
        {"k": "spark", "q": "q1",
         "v": {"min": 0.5, "med": 0.6, "n": 3, "spread": 1.2}},
    ]
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    out = bench._sf1_from_progress("child died early", "newrun")
    assert out.get("stale_progress_rejected") is True
    assert "ratio_floor_adjusted" not in out
    # matching id still reconstructs
    ok = bench._sf1_from_progress("late death", "oldrun")
    assert ok["partial_from_progress"] is True
    assert "q1" in ok["ratio_floor_adjusted"]


def test_stdout_line_carries_deadline_skip_count():
    timings = {"q1": 1.0}
    duck = {"q1": 0.5}
    sf1 = {
        "ratio_floor_adjusted": {"q1": 2.0},
        "deadline_skipped": ["spark:q2", "duckdb:q3"],
    }
    line = bench.compact_stdout_line(
        1.0, 0.1, timings, 0.02, duck, sf1, "/tmp/x.json"
    )
    rec = json.loads(line)
    assert rec["sf1"]["n_deadline_skipped"] == 2


def test_duckdb_budget_timer_is_cleared_when_query_finishes():
    """The done-flag guard (ADVICE r9): a budget expiring after the
    final fetchall must not fire an interrupt onto the shared
    connection."""
    import time as _time

    import duckdb

    con = duckdb.connect()
    res = bench.run_duckdb_budgeted(
        con, "SELECT 1", n_runs=2, budget_s=0.2
    )
    assert res["n"] == 2
    _time.sleep(0.4)  # past the budget; guarded timer must be a no-op
    assert con.execute("SELECT 41 + 1").fetchone()[0] == 42


def test_stdout_line_carries_host_telemetry_and_named_errors():
    """r12 verdict items 1-2: the compact line must carry the host
    blob (loadavg, memory, warm-canary drift) and every sf1 error BY
    NAME with its exception class — an anonymous n_errors or a record
    with no contention telemetry is the r12 adjudication failure."""
    timings = {"q1": 1.0, "flagship_flat": 0.9}
    duck = {"q1": 0.5, "flagship_flat": 0.3}
    sf1 = {
        "ratio_floor_adjusted": {"q1": 2.0},
        "queries": {"q1": 1.0},
        "duckdb": {"q1": 0.5},
        "errors": {"duckdb:bad": "InterruptException: INTERRUPT"},
        "deadline_skipped": ["spark:q2"],
        "host_start": {"load1": 0.5},
        "host_end": {"load1": 21.0},
    }
    host = {
        "load1": [0.2, 21.5],
        "mem_gb": [124.8, 118.5],
        "canary": {"q": "flagship_flat",
                   "spark_drift": 0.93, "duckdb_drift": 1.1},
    }
    line = bench.compact_stdout_line(
        1.9, 0.1, timings, 0.02, duck, sf1, "/tmp/x.json", host=host
    )
    rec = json.loads(line)
    assert rec["host"]["canary"]["spark_drift"] == 0.93
    assert rec["host"]["load1"] == [0.2, 21.5]
    assert rec["sf1"]["errors"] == {
        "duckdb:bad": "InterruptException: INTERRUPT"
    }
    assert rec["sf1"]["skipped_q"] == ["spark:q2"]
    assert rec["sf1"]["load1"] == [0.5, 21.0]


def test_floor_bound_names_trim_to_truncated_ratio_map():
    """A 40-name floor_bound list must not squeeze the worst-N ratio
    map out of the line (the r13 run-1 lesson): once the ratio map is
    truncated, floor_bound keeps the full count but only the names
    still present in the map."""
    n = 60
    sf1 = {
        "ratio_floor_adjusted": {f"q{i:02d}": 2.1 + i for i in range(n)},
        "queries": {f"q{i:02d}": 0.9 for i in range(n)},
        "duckdb": {f"q{i:02d}": 0.01 for i in range(n)},
    }
    timings = {f"q{i:02d}": 0.9 for i in range(n)}
    duck = {f"q{i:02d}": 0.01 for i in range(n)}
    line = bench.compact_stdout_line(
        9.9, 0.1, timings, 0.02, duck, sf1, "/tmp/x.json"
    )
    assert len(line) < bench.STDOUT_LINE_BUDGET
    rec = json.loads(line)
    s1 = rec["sf1"]
    # the 60-query fixture is sized to force truncation — assert it
    # actually happened so the trim path is exercised, never skipped
    # (ADVICE r13: the old conditional made this test vacuous if a
    # budget change stopped the fixture from truncating)
    assert s1.get("ratio_truncated") is True
    assert s1["n_floor_bound"] == n
    assert set(s1["floor_bound"]) <= set(s1["ratio"])


def test_min_intersect_takes_per_key_minimum_over_common_keys():
    runs = [
        {"a": 1.0, "b": 2.0, "c": 9.0},
        {"a": 0.8, "b": 2.5},
    ]
    assert bench._min_intersect(runs) == {"a": 0.8, "b": 2.0}
    # any missing/empty map disables the merge entirely (a run that
    # lost its sf1 section must not shrink the intersection silently)
    assert bench._min_intersect([{"a": 1.0}, None]) == {}
    assert bench._min_intersect([]) == {}


def test_load_prior_runs_rejects_foreign_tree(tmp_path):
    p = tmp_path / "BENCH_FULL.json"
    runs = [{"value": 1.0, "queries": {"q": 1.0}}]
    p.write_text(json.dumps({"tree_id": "abc", "runs": runs}))
    assert bench._load_prior_runs(str(p), "abc") == runs
    assert bench._load_prior_runs(str(p), "other") == []
    assert bench._load_prior_runs(str(p), "unknown") == []
    assert bench._load_prior_runs(str(tmp_path / "nope.json"), "abc") == []


def test_tree_id_is_stable_within_a_tree():
    a, b = bench._tree_id(), bench._tree_id()
    assert a == b
    assert a != ""


def test_stdout_metric_names_merged_run_count():
    line = bench.compact_stdout_line(
        1.0, 0.1, {"q": 1.0}, 0.02, {"q": 0.5}, None, "/tmp/x.json",
        runs_merged=3,
    )
    rec = json.loads(line)
    assert "min-intersection of 3 same-tree runs" in rec["metric"]
    line1 = bench.compact_stdout_line(
        1.0, 0.1, {"q": 1.0}, 0.02, {"q": 0.5}, None, "/tmp/x.json",
    )
    assert "min-intersection" not in json.loads(line1)["metric"]


def test_stdout_line_names_merged_intersection_size():
    """r14 advice: a deadline-lost query silently shrinks the merged
    set — the record must carry merged-vs-current-run query counts."""
    line = bench.compact_stdout_line(
        1.0, 0.1, {"q": 1.0, "r": 2.0}, 0.02, {"q": 0.5}, None,
        "/tmp/x.json", runs_merged=2, n_current_run=5,
    )
    rec = json.loads(line)
    assert rec["n_queries_merged"] == 2
    assert rec["n_queries_current_run"] == 5
    unmerged = json.loads(bench.compact_stdout_line(
        1.0, 0.1, {"q": 1.0}, 0.02, {"q": 0.5}, None, "/tmp/x.json",
        n_current_run=5,
    ))
    assert "n_queries_merged" not in unmerged


def test_headline_pairs_are_registered_with_oracles():
    """Every sf0.1 benched pair must be a registered query WITH an
    oracle (a ratio needs a denominator), and the list must be
    duplicate-free — the r14 rotation grew it 94 -> 152, so this is
    now pinned instead of assumed."""
    from etl_verkada_spark.registry import build_registry

    reg = build_registry()
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    missing = [n for n in bench.HEADLINE if n not in reg]
    assert not missing, missing
    no_oracle = [n for n in bench.HEADLINE if reg[n].oracle is None]
    assert not no_oracle, no_oracle


def test_sf1_pairs_are_registered():
    from etl_verkada_spark.registry import build_registry

    reg = build_registry()
    for lst in (bench.SF1_QUERIES, bench.SF1_SPARK_ONLY,
                bench.SF1_COLD_QUERIES):
        assert len(lst) == len(set(lst))
        missing = [n for n in lst if n not in reg]
        assert not missing, missing


def test_weak_set_report_tags_and_thresholds():
    """tools/weak_set.py is the per-round adjudication lens: >2x
    floor-adjusted rows, floor-band suppression, annotation/unstable
    tags — pin its classification so the report stays trustworthy."""
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    import weak_set

    queries = {
        "hot": 2.0,        # 2.0-0.1 / 0.5 = 3.8x, not floor-bound
        "floor": 1.0,      # >2x but spark<=1.5 and duck<=0.25
        "fine": 0.6,       # 1.0x
        "annotated_hot": 3.0,
    }
    duck = {"hot": 0.5, "floor": 0.2, "fine": 0.5, "annotated_hot": 1.0}
    rows = weak_set.weak_rows(
        queries, duck, 0.1,
        annotations={"annotated_hot": "note"},
        unstable=["hot"],
    )
    by_name = {r[0]: r for r in rows}
    assert "fine" not in by_name
    assert "floor-bound" in by_name["floor"][4]
    assert "floor-bound" not in by_name["hot"][4]
    assert "unstable" in by_name["hot"][4]
    assert "annotated" in by_name["annotated_hot"][4]
    # sorted worst-first by ratio (floor: (1.0-0.1)/0.2 = 4.5x tops
    # hot's 3.8x — suppression is a TAG, not an ordering change)
    assert rows[0][0] == "floor"
    assert rows[1][0] == "hot"


def test_stream_topk_twin_equals_one_shot_oracle():
    """The sf1 matched-work twin (two chunk-pair prunes + semilattice
    merge) must produce the IDENTICAL leaderboard as the one-shot
    ranking oracle — the semilattice property the streaming fold
    relies on, asserted on real data so the bench denominator swap
    (r15) can never change the measured answer."""
    import duckdb

    from etl_verkada_spark.streaming.upsert import (
        ORACLE_STREAM_TOPK,
        SF1_TWIN_STREAM_TOPK,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "'/root/testdata/sf0.01/events.parquet'"
    )
    suffix = " ORDER BY event_type, rnk"
    a = con.execute(ORACLE_STREAM_TOPK + suffix).df()
    b = con.execute(SF1_TWIN_STREAM_TOPK + suffix).df()
    assert a.equals(b)
    assert len(a) > 0


def test_shuffle_partitions_follow_cpu_knob(monkeypatch):
    """The driver benches at lower SPARK_GRAFT_CPUS to measure scaling;
    shuffle partitions must track the knob (one wave per stage) rather
    than stay pinned at the 32 of the primary bench host (r15)."""
    from etl_verkada_spark.session import _local_shuffle_partitions

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    assert _local_shuffle_partitions() == "8"
    # cluster override wins (SCALE.md: ~2-4x total executor cores)
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "4096")
    assert _local_shuffle_partitions() == "4096"


def test_min_union_accumulates_coverage_across_runs():
    """r15 verdict item 2: the sf1 merge is union-with-min so
    budget-limited runs ACCUMULATE coverage (an intersection merge
    shrinks to the weakest run's subset)."""
    runs = [
        {"a": 1.0, "b": 2.0},
        {"b": 1.5, "c": 3.0},
        None,
    ]
    assert bench._min_union(runs) == {"a": 1.0, "b": 1.5, "c": 3.0}
    assert bench._min_union([]) == {}
    assert bench._min_union([None]) == {}


def test_load_prior_record_rejects_foreign_tree(tmp_path):
    p = tmp_path / "BENCH_FULL.json"
    rec = {"tree_id": "abc", "sf1": {"queries": {"q": 1.0}}, "runs": []}
    p.write_text(json.dumps(rec))
    assert bench._load_prior_record(str(p), "abc") == rec
    assert bench._load_prior_record(str(p), "other") == {}
    assert bench._load_prior_record(str(p), "unknown") == {}


def test_smoke_run_cannot_overwrite_headline():
    """An sf1-disabled run extends the repo record only at the record's
    own headline sf; a smoke run at another sf must not replace the
    headline with smoke-scale numbers."""
    prior = {"tree_id": "abc", "sf": "0.1", "sf1": {"queries": {"q": 1.0}}}
    assert bench._may_write_repo_copy("0.1", None, prior)
    assert not bench._may_write_repo_copy("0.001", None, prior)
    # no same-tree record: nothing to extend, so no write without sf1
    assert not bench._may_write_repo_copy("0.1", None, {})
    # a run that measured sf1 is a full record and always writes
    assert bench._may_write_repo_copy("0.001", {"queries": {}}, {})


def test_stdout_line_carries_recheck_skip_count():
    """Deadline skips of already-covered pairs are counted separately
    (they are NOT missing measurements — the accumulated record has a
    same-tree number for each)."""
    sf1 = {
        "ratio_floor_adjusted": {"q": 1.5},
        "queries": {"q": 3.0},
        "duckdb": {"q": 2.0},
        "deadline_skipped": ["spark:fresh_q"],
        "deadline_skipped_recheck": ["spark:old_q", "duckdb:old_q"],
    }
    line = bench.compact_stdout_line(
        1.0, 1, {"q": 1.0}, 0.02, {"q": 0.5}, sf1, "/tmp/x.json"
    )
    rec = json.loads(line)
    assert rec["sf1"]["n_deadline_skipped"] == 1
    assert rec["sf1"]["skipped_q"] == ["spark:fresh_q"]
    assert rec["sf1"]["n_skip_recheck"] == 2
