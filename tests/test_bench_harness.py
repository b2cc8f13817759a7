"""Regression pins for the bench harness: the measure -> append-only
log -> pure reducer design and its failure-recovery paths (round 9 lost
an entire 90-minute sf1 section to one infeasible oracle). No Spark
session needed."""

import json
import os
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


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
    assert "min of 3 same-tree runs" in rec["metric"]
    line1 = bench.compact_stdout_line(
        1.0, 0.1, {"q": 1.0}, 0.02, {"q": 0.5}, None, "/tmp/x.json",
    )
    assert "same-tree runs" not in json.loads(line1)["metric"]


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
    on a local master shuffle partitions must track the knob (one wave
    per stage) rather than stay pinned at the 32 of the primary bench
    host. A cluster master keeps its own setting."""
    from etl_verkada_spark.session import ensure_session_defaults

    class Conf(dict):
        set = dict.__setitem__

    class Session:
        def __init__(self, master):
            self.conf = Conf({"spark.master": master})

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    local = ensure_session_defaults(Session("local[*]"))
    assert local.conf["spark.sql.shuffle.partitions"] == "8"
    cluster = ensure_session_defaults(Session("yarn"))
    assert "spark.sql.shuffle.partitions" not in cluster.conf


# --- log and reducer -------------------------------------------------------

SF1 = bench._sf1_label("0.1")


def _row(run, engine, kind, q, mn=None, spread=1.1, tree="t1", sf="0.1",
         error=None, cpus=4):
    r = {"tree_id": tree, "cpus": cpus, "sf": sf, "run_id": run,
         "engine": engine, "kind": kind, "query": q}
    if error is not None:
        r["error"] = error
    else:
        r.update({"min": mn, "med": mn, "n": 5, "spread": spread})
    return r


def _meta(run, tree="t1", sf="0.1", cpus=4, **fields):
    return {"tree_id": tree, "cpus": cpus, "sf": sf, "run_id": run, **fields}


def _headline_run(run, t, d, tree="t1", sf="0.1", floor=0.1):
    """One headline run: a spark and a duckdb row per query, then the
    section row with the floors."""
    rows = []
    for q in t:
        rows.append(_row(run, "spark", "warm", q, t[q], tree=tree, sf=sf))
        rows.append(_row(run, "duckdb", "warm", q, d[q], tree=tree, sf=sf))
    return rows + [_meta(run, tree=tree, sf=sf, floor_s=floor,
                         floor_1row_s=0.02)]


@pytest.fixture
def log_path(tmp_path, monkeypatch):
    p = tmp_path / "BENCH_LOG.jsonl"
    monkeypatch.setattr(bench, "LOG_PATH", str(p))
    return p


def test_stats_is_the_one_window_summary():
    """_timed and run_duckdb_budgeted share one min/med/n/spread helper."""
    assert bench._stats([0.2, 0.1, 0.4]) == {
        "min": 0.1, "med": 0.2, "n": 3, "spread": 4.0,
    }
    assert bench._stats([0.3, 0.1])["med"] == 0.2
    assert bench._timed(lambda: None, 3)["n"] == 3


def test_reduce_ignores_foreign_tree_rows():
    rows = (
        _headline_run("r1", {"q": 1.0}, {"q": 0.5})
        + _headline_run("r2", {"q": 0.1}, {"q": 0.05}, tree="other")
    )
    detail, line = bench.reduce(rows, "t1", 4, "0.1")
    assert detail["queries"] == {"q": 1.0}
    assert detail["runs_merged"] == 1
    assert json.loads(line)["queries"] == {"q": 1.0}
    # another core count is another configuration
    assert bench.reduce(rows, "t1", 8, "0.1")[0]["queries"] == {}


def test_min_union_accumulates_coverage_across_runs():
    """Per key, the minimum over every same-tree run: budget-limited sf1
    runs accumulate coverage instead of shrinking to the weakest run."""
    rows = _headline_run("r1", {"q": 1.0}, {"q": 0.5})
    rows += [
        _row("r1", "spark", "warm", "ts_streaks", 1.0, sf=SF1),
        _row("r1", "duckdb", "warm", "ts_streaks", 0.5, sf=SF1),
        _row("r1", "spark", "warm", "agg_gini", 2.0, sf=SF1),
    ]
    rows += _headline_run("r2", {"q": 0.8}, {"q": 0.6})
    rows += [
        _row("r2", "spark", "warm", "agg_gini", 1.5, sf=SF1),
        _row("r2", "duckdb", "warm", "agg_gini", 0.5, sf=SF1),
        _row("r2", "spark", "warm", "geo_knn", 3.0, sf=SF1),
    ]
    detail, line = bench.reduce(rows, "t1", 4, "0.1")
    assert detail["queries"] == {"q": 0.8}
    assert detail["duckdb"] == {"q": 0.5}
    s1 = detail["sf1"]
    assert s1["queries"] == {"ts_streaks": 1.0, "agg_gini": 1.5, "geo_knn": 3.0}
    assert set(s1["ratio"]) == {"ts_streaks", "agg_gini"}
    assert s1["runs_merged"] == 2
    rec = json.loads(line)
    assert "min of 2 same-tree runs" in rec["metric"]
    assert rec["n_queries_current_run"] == 1


def test_smoke_run_cannot_overwrite_headline():
    """An sf0.001 smoke run of the same tree appends rows at its own sf:
    the sf0.1 reduction is unchanged by them."""
    base = _headline_run("r1", {"q": 1.0, "p": 2.0}, {"q": 0.5, "p": 1.0})
    smoke = _headline_run("r2", {"q": 0.1, "p": 0.2}, {"q": 0.05, "p": 0.1},
                          sf="0.001", floor=0.01)
    assert bench.reduce(base + smoke, "t1", 4, "0.1") == bench.reduce(
        base, "t1", 4, "0.1"
    )
    assert bench.reduce(base + smoke, "t1", 4, "0.001")[0]["queries"] == {
        "q": 0.1, "p": 0.2,
    }


def test_reduce_unknown_tree_uses_only_this_run():
    rows = (
        _headline_run("r1", {"q": 0.5}, {"q": 0.1}, tree="unknown")
        + _headline_run("r2", {"q": 1.0}, {"q": 0.2}, tree="unknown")
    )
    detail, _ = bench.reduce(rows, "unknown", 4, "0.1")
    assert detail["queries"] == {"q": 1.0}
    assert detail["run_id"] == "r2"
    assert detail["runs_merged"] == 1


def test_read_log_skips_truncated_last_line(log_path):
    good = [_row("r1", "spark", "warm", "q", 1.0),
            _row("r1", "duckdb", "warm", "q", 0.5)]
    log_path.write_text(
        "".join(json.dumps(r) + "\n" for r in good)
        + '{"tree_id": "t1", "cpus": 4, "sf": "0.1", "run_'
    )
    assert bench.read_log() == good
    # the next append starts a fresh line instead of merging into the
    # cut one
    bench.RunLog("t1", 4, "0.1", "r2").append({"floor_s": 0.1})
    rows = bench.read_log()
    assert len(rows) == 3 and rows[-1]["floor_s"] == 0.1


def test_prune_log_drops_other_trees(log_path):
    rows = [_row("r1", "spark", "warm", "q", 1.0, tree="old"),
            _row("r2", "spark", "warm", "q", 2.0, tree="t1")]
    log_path.write_text("".join(json.dumps(r) + "\n" for r in rows) + "{cut")
    bench._prune_log("t1")
    assert bench.read_log() == rows[1:]
    assert log_path.read_text().count("\n") == 1


def test_reduce_pair_unstable_only_if_every_row_unstable():
    rows = _headline_run("r1", {"q": 1.0}, {"q": 0.5}) + [
        # spark re-measured clean in a later row: stable
        _row("r1", "spark", "warm", "a", 1.0, spread=2.5, sf=SF1),
        _row("r2", "spark", "warm", "a", 1.1, spread=1.2, sf=SF1),
        _row("r1", "duckdb", "warm", "a", 0.5, sf=SF1),
        # duckdb unstable in every row: the pair is unstable
        _row("r1", "spark", "warm", "b", 1.0, sf=SF1),
        _row("r1", "duckdb", "warm", "b", 0.5, spread=3.0, sf=SF1),
        _row("r2", "duckdb", "warm", "b", 0.4, spread=2.2, sf=SF1),
    ]
    assert bench.reduce(rows, "t1", 4, "0.1")[0]["sf1"]["unstable"] == ["b"]


def test_reduce_lists_missing_cold_row_as_skipped():
    """ADVICE: a missing cold measurement must be reported missing, not
    filed as covered because warm rows of the same query exist."""
    rows = _headline_run("r1", {"q": 1.0}, {"q": 0.5})
    for n in bench.SF1_QUERIES:
        rows.append(_row("r1", "duckdb", "warm", n, 0.5, sf=SF1))
    for n in bench.SF1_QUERIES + bench.SF1_SPARK_ONLY:
        rows.append(_row("r1", "spark", "warm", n, 1.0, sf=SF1))
    for n in bench.SF1_COLD_QUERIES:
        rows.append(_row("r1", "duckdb", "cold", n, 3.0, sf=SF1))
    rows.append(_row("r1", "spark", "cold", "scd2_build", 4.0, sf=SF1))
    assert "graph_pagerank" in bench.SF1_QUERIES + bench.SF1_COLD_QUERIES
    detail, line = bench.reduce(rows, "t1", 4, "0.1")
    assert detail["sf1"]["deadline_skipped"] == ["spark_cold:graph_pagerank"]
    assert detail["sf1"]["cold_sec"] == {"scd2_build": 4.0}
    assert json.loads(line)["sf1"]["skipped_q"] == ["spark_cold:graph_pagerank"]


def test_reduce_child_death_keeps_pairs_and_error():
    """ADVICE: when the sf1 child dies, the detail record and the stdout
    line carry the same accumulated pairs and the same error."""
    rows = _headline_run("r1", {"q": 1.0}, {"q": 0.5}) + [
        _meta("r1", sf=SF1, floor_s=0.05),
        _row("r1", "spark", "warm", "ts_streaks", 2.0, sf=SF1),
        _row("r1", "duckdb", "warm", "ts_streaks", 0.5, sf=SF1),
        _row("r1", "spark", "warm", "agg_gini", 3.0, sf=SF1),
        _row("r1", "duckdb", "warm", "agg_gini", 1.0, sf=SF1),
    ]
    rows += _headline_run("r2", {"q": 1.1}, {"q": 0.5})
    rows.append(_meta("r2", sf=SF1, error="sf1 subprocess rc=-9: killed"))
    detail, line = bench.reduce(rows, "t1", 4, "0.1")
    s1, l1 = detail["sf1"], json.loads(line)["sf1"]
    assert s1["error"] == l1["error"] == "sf1 subprocess rc=-9: killed"
    assert set(s1["ratio_floor_adjusted"]) == set(l1["ratio"]) == {
        "ts_streaks", "agg_gini",
    }
    assert s1["ratio_floor_adjusted"]["ts_streaks"] == round(1.95 / 0.5, 2)


class _Clock:
    """Stands in for the ``time`` module: every measurement advances it
    by ``step`` seconds."""

    def __init__(self, step=10.0):
        self.t, self.step = 0.0, step

    def monotonic(self):
        return self.t

    def perf_counter(self):
        return self.t

    def tick(self):
        self.t += self.step
        return {"min": 1.0, "med": 1.0, "n": 3, "spread": 1.1}


class _Chain:
    """A DataFrame / DuckDB connection double: any call chain ends in a
    tick of the clock."""

    def __init__(self, clock):
        self.clock = clock

    def __getattr__(self, name):
        return self

    def __call__(self, *a, **k):
        return self

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def save(self):
        self.clock.tick()

    def fetchall(self):
        self.clock.tick()


def test_sf1_resume_measures_missing_keys_first(log_path, monkeypatch):
    clock = _Clock()
    monkeypatch.setattr(bench, "time", clock)
    monkeypatch.setattr(bench, "ensure_sf1", lambda spark, src: "/sf1")
    monkeypatch.setattr(bench, "_free_bytes", lambda: 100 * 1024**3)
    monkeypatch.setattr(bench, "_clean_tmp", lambda **k: None)
    monkeypatch.setattr(bench, "_duck_connect", lambda: _Chain(clock))
    monkeypatch.setattr(bench, "_sf1_sql_overrides", lambda: {})
    monkeypatch.setattr(
        bench, "run_spark", lambda fn, spark, d, n_runs: clock.tick()
    )
    monkeypatch.setattr(
        bench, "run_duckdb_budgeted",
        lambda con, sql, n_runs, budget_s: clock.tick(),
    )
    names = bench.SF1_QUERIES + bench.SF1_SPARK_ONLY + bench.SF1_COLD_QUERIES
    registry = {
        n: SimpleNamespace(fn=lambda s, d: _Chain(clock), oracle="SELECT 1")
        for n in names
    }
    # the DuckDB pass gets half the deadline: it measures k keys, and
    # the Spark pass completes those k pairs first
    k = 5
    deadline = 2 * (bench.SF1_DEADLINE_RESERVE_S + 10 * k - 5)
    log1 = bench.RunLog("t1", 4, SF1, "r1")
    bench.bench_sf1(None, registry, "/src", log1, deadline=deadline)
    first = [r for r in bench.read_log() if r.get("query")]
    duck1 = [r["query"] for r in first if r["engine"] == "duckdb"]
    spark1 = [r["query"] for r in first if r["engine"] == "spark"]
    assert duck1 == bench.SF1_QUERIES[:k]
    assert spark1[:k] == duck1
    s1 = bench.reduce(bench.read_log(), "t1", 4, "0.1")[0]["sf1"]
    assert set(s1["ratio"]) == set(duck1)
    assert len(s1["deadline_skipped"]) == (
        len(bench._sf1_expected()) - len(first)
    )

    missing = {
        (e, kind, q) for e, kind, q in bench._sf1_expected()
        if (e, kind, q) not in {(r["engine"], r["kind"], r["query"])
                                for r in first}
    }
    clock.t = 0.0
    bench.bench_sf1(None, registry, "/src", bench.RunLog("t1", 4, SF1, "r2"))
    second = [r for r in bench.read_log() if r.get("run_id") == "r2"
              and r.get("query")]
    for engine in ("duckdb", "spark"):
        mine = [(r["engine"], r["kind"], r["query"]) for r in second
                if r["engine"] == engine]
        n_missing = sum(1 for m in missing if m[0] == engine)
        assert set(mine[:n_missing]) == {m for m in missing if m[0] == engine}
        assert len(mine) == len(set(mine))  # one row per key per run
    s1 = bench.reduce(bench.read_log(), "t1", 4, "0.1")[0]["sf1"]
    assert "deadline_skipped" not in s1
    assert set(s1["ratio"]) | set(s1["twin_ratio"]) == set(bench.SF1_QUERIES)
    assert s1["runs_merged"] == 2


def test_sf1_insufficient_disk_is_a_section_row(log_path, monkeypatch):
    monkeypatch.setattr(bench, "ensure_sf1", lambda spark, src: "/sf1")
    monkeypatch.setattr(bench, "_free_bytes", lambda: 20 * 1024**3)
    monkeypatch.setattr(bench, "_clean_tmp", lambda **k: None)
    log = bench.RunLog("t1", 4, SF1, "r1")
    bench.bench_sf1(None, {}, "/src", log)
    _, line = bench.reduce(bench.read_log(), "t1", 4, "0.1")
    assert json.loads(line)["sf1"]["skipped"] == "insufficient_disk"


def test_headline_passes_isolate_failures(log_path, monkeypatch):
    """A raising callable and a failing oracle each become one error row;
    the other queries are still timed and the line still prints."""
    monkeypatch.setattr(bench, "HEADLINE", ["bad_q", "good_q"])
    clock = _Clock(step=0.0)

    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    registry = {
        "bad_q": SimpleNamespace(fn=boom, oracle="SELECT * FROM no_such_table"),
        "good_q": SimpleNamespace(
            fn=lambda s, d: _Chain(clock), oracle="SELECT count(*) FROM region"
        ),
    }
    sf_dir = "/root/testdata/sf0.001"
    log = bench.RunLog("t1", 4, "0.001", "r1")
    spark_mins = bench.headline_spark(None, registry, sf_dir, log)
    assert set(spark_mins) == {"good_q"}
    assert bench.headline_duckdb(None, registry, sf_dir, log, spark_mins) == {}
    detail, line = bench.reduce(bench.read_log(), "t1", 4, "0.001")
    assert set(detail["errors"]) == {"spark:bad_q", "duckdb:bad_q"}
    assert "boom" in detail["errors"]["spark:bad_q"]
    assert set(detail["queries"]) == set(detail["duckdb"]) == {"good_q"}
    assert set(json.loads(line)["queries"]) == {"good_q"}
