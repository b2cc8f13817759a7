"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Each query executes through a noop sink so
the timing covers the full physical plan (scan -> shuffle -> sink)
without driver-side row serialization skew. A DuckDB run of the same
oracle SQL is timed alongside (informational: the BASELINE target is
"within 2x of DuckDB per query").

Output contract (r5 verdict #1): stdout carries at most two JSON lines —
an early ``{"partial": true, ...}`` snapshot after the sf0.1 section,
then ONE compact final line (guaranteed <3.8 KB, inside the driver's
~4 KB tail capture) with the headline numbers and the sf1 ratio summary.
The full record (per-query min/median/n/spread for both engines, sf1
detail, errors) is written to $SPARK_GRAFT_BENCH_DETAIL (default
/tmp/bench_full.json) and mirrored to ./BENCH_FULL.json so it survives
the sandbox via the end-of-round commit.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_verkada_spark.catalog import TABLES
from etl_verkada_spark.registry import build_registry
from etl_verkada_spark.session import get_spark

#: queries that represent each operator family at scale; quadratic
#: pair-ops (llm_sim_pairs, llm_dedup_ngram) are correctness-scale only.
HEADLINE = [
    "agg_groupby",
    "join_large",
    "join_broadcast_left",
    "flagship_flat",
    "win_rownum",
    "win_frame",
    "topk",
    "dedup_lastwins",
    "upsert_merge",
    "stream_tumble",
    "stream_session",
    "llm_dedup_exact",
    "llm_text_stats",
    "llm_fingerprint",
    "llm_sim_search",
    "udf_pandas",
    "join_asof",
    "join_range",
    "pivot",
    "subquery_exists",
    "agg_stats",
    "win_ntile",
    "llm_dedup_embed",
    "llm_sim_ann_ivf",
    "agg_salted",
    "win_sessionize",
    "ts_gapfill",
    "llm_bm25",
    "mm_feature_extract",
    "mm_feature_extract_arrow",
    # round-4 operators with bench-stable plans (no checkpoint caching)
    "ts_ohlc",
    "cdc_snapshot_diff",
    # round-6 additions: real PPM codec kernels + stride-1 span dedup.
    # mm_resize is correctness-checked but NOT benched: its oracle only
    # verifies the metadata surface while the Spark side does the real
    # 224x224x3 pixel resample, so the ratio would compare unequal work
    # (measured 524x — a statement about the oracle, not the plan).
    "mm_decode",
    "llm_dedup_substring",
    # round-7 additions: WindowGroupLimit top-N, digest-window soft
    # dedup, linear quality fusion, canonical-pick dedup, incremental
    # SCD2 fold (history from the landed fixture; delta-only work)
    "sort_topn_per_key",
    "llm_dedup_soft",
    "llm_quality_ensemble",
    "llm_dedup_keep_best",
    "scd2_apply",
    # round-7 session-2 additions: vocabulary-collapsed BPE pair
    # counting, prefix-filter exact similarity join, length-bucket
    # batch manifests, gaps-and-islands streaks
    "llm_bpe_pair_count",
    "llm_dedup_prefixfilter",
    "llm_length_buckets",
    "ts_streaks",
    "llm_vocab_coverage",
    "graph_degree_hist",
    "graph_label_propagation",
    # round-8 additions: regex-free sequence matching, interval-union
    # islands, once-scanned rollup cascade, grid-blocked kNN join, and
    # the 3-iteration relational BPE trainer/encoder
    "win_pattern_match",
    "ts_interval_merge",
    "ts_rollup_hierarchy",
    "geo_knn",
    "llm_bpe_train",
    "llm_bpe_encode",
    # round-9 additions: MERGE-with-deletes apply, forward as-of,
    # histogram weighted median, frontier BFS, integer Simpson
    # diversity, histogram-CDF perplexity gate, boilerplate coverage
    "cdc_merge_ops",
    "join_asof_fwd",
    "agg_weighted_median",
    "graph_bfs_levels",
    "llm_lexical_diversity",
    "llm_perplexity_filter",
    "llm_boilerplate_coverage",
    "stream_mv_apply",
    "ts_rolling_median",
    "ts_seasonal_baseline",
    "subquery_all",
    "agg_bitmap_distinct",
    "ts_cusum",
    "fx_bitwise",
    # round-10 additions: bucketed-prefix-max skyline, exact per-group
    # Gini, broadcast geofence containment, banded keyless interval
    # overlap, Benford digit audit, winnowing fingerprints
    "skyline_pareto",
    "agg_gini",
    "geo_geofence_join",
    "join_interval_overlap",
    "dq_benford",
    "llm_winnowing",
    # round-10 batch 2: combiner-pruned exact heavy hitters, exact-size
    # hash reservoir, blocked ROUGE-style n-gram recall, MAD anomalies
    "agg_heavy_hitters",
    "llm_sample_reservoir",
    "llm_eval_ngram_recall",
    "ts_mad_anomaly",
    # round-10 batch 3 (graph_clustering_coeff is sf1-only, same
    # wedge-join cost family as graph_triangle_count)
    "ts_autocorr",
    # round-11 additions: delta-only drift fold, binary-seg changepoint,
    # nearest as-of (graph_kcore is sf1-only — wedge-join cost family)
    "stream_drift_apply",
    "ts_changepoint",
    "join_asof_nearest",
    "llm_dedup_bloom",
    "win_session_attribution",
    # round-11 session-2 additions: wedge-join Jaccard link prediction,
    # two-scan winsorized mean, centroid-anchored LTTB decimation,
    # per-lang BPE fertility, star-schema dim chain (stream_topk is a
    # streaming fold — benched at sf1 only, with the replay rows)
    "graph_jaccard",
    "ts_winsorize",
    "ts_lttb",
    "llm_tokenizer_fertility",
    "join_star",
    # mm_phash is sf0.1-only: its oracle re-derives every pixel BYTE in
    # SQL (generate_series per position) — a correctness twin, not an
    # equal-work plan; at sf1 that explode is ~200M rows of ascii() and
    # would price the oracle's construction, not the hash (the
    # mm_resize not-benched precedent, relaxed to sf0.1 where the twin
    # is 2M rows and honest).
    "mm_phash",
    "llm_dataset_card",
    # session-2 batch 3: one-pass exact Pearson matrix, steady-state
    # leaderboard refresh, NOT-IN three-valued-logic pin
    "agg_corr",
    "stream_topk_apply",
    "subquery_not_in",
    "llm_lang_confusion",
    # sf0.1-only like llm_dedup_prefixfilter and for the same reason:
    # the correctness twin is brute-force all-pairs, which prices pair
    # materialization (not the asymmetric prefix blocking) on the
    # perturbed sf1 corpus; the directional family's scale argument is
    # in the operator docstring.
    "llm_dedup_containment",
    # geo_dbscan is correctness-only (the mm_resize precedent): its
    # oracle is brute-force all-pairs + WITH RECURSIVE reachability,
    # whose cost is quadratic in cluster size — measured >300 s at
    # sf0.1 where eps=0.5deg makes each nation one giant cluster. The
    # sf0.01 gate exercises the intended sparse regime (177 cores /
    # 1500 points); the Spark side's scale story is in its docstring.
    #
    # --- round-14 rotation (verdict item 1): 58 first-time pairs ---
    # 119 of 228 registered queries had never been timed at any scale;
    # everything below was probed at sf0.1 first (spark warm 0.15-3 s,
    # duck 2-700 ms) and is honest equal-work vs its oracle. Still
    # excluded, with reasons:
    #   * llm_dedup_minhash/simhash/ngram/fuzzy/passage/cc/semantic,
    #     llm_sim_pairs — their oracles are brute-force all-pairs
    #     correctness twins (the prefixfilter/containment precedent):
    #     the ratio would price pair materialization, not the banded
    #     plan (minhash probed 7.3 s vs a 0.4 s exact-Jaccard twin).
    #   * join_bucketed — rebuilds its bucketed saveAsTable fixtures
    #     inside the query (production buckets once); a repeated-run
    #     ratio prices table WRITES against a read-only oracle.
    #   * scan_rest_*/maintain_*/mm_* stubs, stream_* folds without
    #     oracles — rows-only checks, nothing to ratio against.
    # scalar-function family (fx_bitwise already benched)
    "fx_string",
    "fx_date",
    "fx_math",
    "fx_array",
    "fx_json",
    "fx_map",
    "fx_regex",
    "fx_cond",
    "fx_hash",
    # set operators
    "set_union",
    "set_intersect",
    "set_except",
    "set_intersect_all",
    "set_except_all",
    # subqueries (exists/all/not_in already benched)
    "subquery_in",
    "subquery_scalar",
    "subquery_lateral",
    # window family remainder
    "win_lag",
    "win_first_last",
    "win_rank",
    "win_relrank",
    "win_range_interval",
    "win_funnel",
    "win_running_distinct",
    # aggregate family remainder
    "agg_rollup",
    "agg_cube",
    "agg_grouping_sets",
    "agg_percentile",
    "agg_mode",
    "agg_histogram",
    "agg_filtered",
    "agg_sketch_merge",
    "agg_collect",
    # filters
    "filter_conj",
    "filter_isin",
    "filter_nullsafe",
    # join family remainder
    "join_anti",
    "join_semi",
    "join_sortmerge",
    "join_salted",
    "join_range_banded",
    # scans / layout / reshape
    "dedup_exact_rows",
    "limit_offset",
    "sort_orderby",
    "project_struct",
    "scan_partition_pruned",
    "unpivot",
    # LLM-pipeline remainder (non-pair-quadratic)
    "llm_lang_id",
    "llm_token_count",
    "llm_tfidf",
    "llm_sample_hash",
    "llm_sample_stratified",
    "llm_shard",
    "llm_pack_sequences",
    # timeseries remainder (ts_interpolate found O(n^2)-framed by this
    # very rotation and fixed in r14 — SCALE.md §29f)
    "ts_rolling_dau",
    "ts_cohort_retention",
    "ts_interpolate",
    "scd2_build",
    # --- round-15 rotation (r14 verdict item 3): 31 first-time pairs,
    # every candidate probed warm-spark + duck at sf0.1 first. The 29
    # still-never-benched queries, each with its reason:
    #   * llm_dedup_minhash/simhash/ngram/fuzzy/passage/cc/semantic,
    #     llm_sim_pairs — brute-force all-pairs correctness-twin
    #     oracles (the r14 exclusion, unchanged).
    #   * stream_dedup/slide/stateful/static_join/stream_join — replay
    #     rows whose oracles are one-shot recomputes: the ratio would
    #     price streaming-harness tax against a single pass (the
    #     pre-r15 stream_topk mismatch); a matched chunk-fold twin per
    #     query is the r16 path if coverage is wanted.
    #   * scan_csv/json/orc_land, scan_schema_evolution,
    #     scan_manifest_log — these LAND files inside the call (write
    #     mode overwrite, no fixture cache), so repeated-run timing
    #     prices Spark table WRITES against a read-only oracle (the
    #     join_bucketed exclusion).
    #   * scan_rest_page/cursor — local HTTP stub server rows.
    #   * maintain_compact/zorder — layout-maintenance writes.
    #   * mm_resize(+stub)/mm_frame_sample — oracle verifies the
    #     metadata surface while Spark does the pixel work (mm_resize
    #     measured 524x in r6; precedent documented there).
    #   * llm_kmeans_train — iterative Lloyd steps localCheckpoint per
    #     round; min-of-N would time the cache (the graph_pagerank
    #     problem, which SF1_COLD_QUERIES solves only for sf1).
    #   * geo_dbscan, join_bucketed — excluded above, unchanged.
    #   * flagship_features — flagship_flat (benched) plus Feature-doc
    #     serialization over the same pipeline; a second row would
    #     double-count the shared plan.
    # aggregate remainder
    "agg_count",
    "agg_distinct",
    "agg_count_distinct",
    "agg_approx",
    "agg_approx_percentile",
    # data-quality audits
    "dq_profile",
    "dq_referential",
    "dq_uniqueness",
    # projection/filter remainder
    "enrich_when",
    "project_struct_nested",
    # geo
    "geo_density",
    # LLM-pipeline remainder
    "llm_bigram_lm",
    "llm_clean_pipeline",
    "llm_decontaminate",
    "llm_dedup_incremental",
    "llm_mix_weights",
    "llm_pii_scrub",
    "llm_quality",
    "llm_quality_repetition",
    "llm_sample_importance",
    "llm_embed_quantize",
    "llm_embed_rp",
    "llm_kmeans_assign",
    "llm_sim_ann_lsh",
    # scans / validation (read-only paths)
    "scan_page",
    "scan_cursor",
    "validate_json",
    "validate_failfast",
    "validate_expectations",
    # multimodal (metadata-honest pair)
    "mm_binary_stats",
    # Python UDTF row path (the deliberate slow-path row, §2.10)
    "udtf_bigrams",
]


N_RUNS = 5  # min-of-N: sub-second timings carry ~20% scheduler noise

#: floor-band policy, the single definition (r14 advice: these were
#: duplicated in tools/weak_set.py and could drift): a >2x row whose
#: Spark absolute is within FLOOR_BAND_SPARK_S against a DuckDB
#: denominator under FLOOR_BAND_DUCK_S prices fixed per-job
#: scheduling, not the plan.
FLOOR_BAND_SPARK_S = 1.5
FLOOR_BAND_DUCK_S = 0.25


def _duck_connect():
    """DuckDB connection with spills pinned to /tmp: the default
    temp_directory is cwd-relative ".tmp" (i.e. inside the repo), and a
    big sf1 window sort spilling there alongside Spark's own shuffle
    temp once filled the disk mid-run and killed the whole sf1 section.
    """
    import duckdb

    con = duckdb.connect()
    con.execute("SET temp_directory='/tmp/duckdb_bench_tmp'")
    # bound the spill so a pathological query (the iterative pagerank
    # twin spills >79 GB) fails fast with a clean error instead of
    # driving the shared disk to 0 bytes free — the r5/r6 full runs both
    # lost the remainder of the sf1 section to that exhaustion.
    con.execute("SET max_temp_directory_size='40GB'")
    return con


#: adaptive repeat cutoff: once a single run exceeds this, further
#: repeats buy noise-rejection at an unacceptable wall-clock (and, for
#: the disk-heavy sf1 DuckDB sorts, repeated multi-GB spills); two runs
#: still reject a single spike.
SLOW_RUN_CUTOFF_S = 10.0


def _timed(run_once, n_runs: int) -> dict:
    """Repeat ``run_once`` up to n_runs times and return the full
    dispersion record, not just a point estimate:

    * ``min`` — the plan's cost (local noise is strictly additive:
      GC, scheduler, steal time — the minimum is the honest floor);
    * ``med`` — the typical cost on THIS host at THIS moment;
    * ``n`` — runs actually timed (the adaptive cutoff can shrink it,
      so cross-round deltas are interpretable — ADVICE r5 #4);
    * ``spread`` — max/min; >2.0 means the environment, not the plan,
      dominated the window and the number should be read as
      unmeasured (r5 verdict: two same-day sf1 runs disagreed 28x).

    Queries slower than SLOW_RUN_CUTOFF_S repeat only once more.
    """
    times: list[float] = []
    for i in range(n_runs):
        t0 = time.perf_counter()
        run_once()
        times.append(time.perf_counter() - t0)
        if min(times) > SLOW_RUN_CUTOFF_S and i >= 1:
            break
    times.sort()
    n = len(times)
    med = times[n // 2] if n % 2 else (times[n // 2 - 1] + times[n // 2]) / 2
    return {
        "min": round(times[0], 3),
        "med": round(med, 3),
        "n": n,
        "spread": round(times[-1] / times[0], 2) if times[0] > 0 else 1.0,
    }


def run_spark(fn, spark, sf_dir: str, n_runs: int = N_RUNS) -> dict:
    """Steady-state timing: one warmup run (JIT + page cache), then the
    dispersion record of n_runs timed runs (see _timed).

    DuckDB gets the same treatment in run_duckdb for a fair comparison.
    """
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    def once():
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    return _timed(once, n_runs)


def run_duckdb(con, sql: str, n_runs: int = N_RUNS) -> dict:
    con.execute(sql).fetchall()  # warmup (page cache)
    return _timed(lambda: con.execute(sql).fetchall(), n_runs)


#: hard wall-clock budget for ONE sf1 DuckDB query (warmup + all timed
#: runs). The round-9 full run lost the ENTIRE sf1 section to the
#: subprocess's 5400 s timeout with zero output — no single query
#: wedged (every twin probes <12 s cold), the 48-query set simply
#: outgrew the budget at min-of-5 per engine. The budget turns an
#: over-slow query into a per-query `dnf_budget` error instead of a
#: section-wide loss.
SF1_DUCK_QUERY_BUDGET_S = 150.0

#: per-query budget overrides: llm_eval_ngram_recall's equal-work twin
#: runs ~43 s per pass (11.5M list_intersect pairs), so warmup + 2
#: timed runs sits exactly at the default budget and interrupts under
#: load (r11 run 2 lost the pair run 1 had recorded; the r13 run-1
#: interrupt at 300 s under a loadavg-17 window repeated the lesson).
#: 450 s fits three ~50%-degraded passes while staying bounded.
SF1_DUCK_BUDGET_OVERRIDES = {"llm_eval_ngram_recall": 450.0}


def run_duckdb_budgeted(
    con, sql: str, n_runs: int = N_RUNS, budget_s: float | None = None
) -> dict:
    """run_duckdb under a wall budget: a timer thread calls
    ``con.interrupt()`` when the budget expires; the partially-timed
    window is returned if at least one run finished, else the
    InterruptException propagates (caller records dnf). The timer
    callback is guarded by a done flag so a budget expiring in the gap
    between the last fetchall and timer.cancel() cannot leave a
    pending interrupt on the shared connection (ADVICE r9)."""
    import threading

    done = threading.Event()

    def _interrupt() -> None:
        if not done.is_set():
            con.interrupt()

    timer = threading.Timer(
        budget_s if budget_s is not None else SF1_DUCK_QUERY_BUDGET_S,
        _interrupt,
    )
    timer.start()
    times: list[float] = []
    try:
        con.execute(sql).fetchall()  # warmup
        for i in range(n_runs):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            times.append(time.perf_counter() - t0)
            if min(times) > SLOW_RUN_CUTOFF_S and i >= 1:
                break
    except Exception:
        if not times:
            raise
    finally:
        done.set()
        timer.cancel()
    times.sort()
    n = len(times)
    med = times[n // 2] if n % 2 else (times[n // 2 - 1] + times[n // 2]) / 2
    return {
        "min": round(times[0], 3),
        "med": round(med, 3),
        "n": n,
        "spread": round(times[-1] / times[0], 2) if times[0] > 0 else 1.0,
    }


def _sf1_progress_path() -> str:
    import tempfile

    return os.path.join(tempfile.gettempdir(), "bench_sf1_progress.jsonl")


def _sf1_from_progress(err: str, run_id: str | None = None) -> dict:
    """Reconstruct a partial sf1 record from the incremental progress
    file when the subprocess died before writing its final JSON (the
    round-9 failure mode: a 5400 s timeout erased 90 minutes of
    completed measurements). Ratios are computed for every pair that
    finished on both engines; the error is preserved so the record is
    visibly partial.

    ``run_id`` guards against the stale-file race (ADVICE r9): the
    parent also unlinks the file before spawning, but if the child
    died before bench_sf1's own write (e.g. during first-time sf1
    synthesis) a file from an EARLIER run must not be published as
    this run's measurements — the child stamps the file with its
    run_id as the first record and a mismatch rejects the file."""
    duck: dict[str, dict] = {}
    sparkd: dict[str, dict] = {}
    cold: dict[str, float] = {}
    cold_duck: dict[str, float] = {}
    floor_s = 0.0
    seen_run_id: str | None = None
    errors: dict[str, str] = {"section": err}
    try:
        with open(_sf1_progress_path()) as f:
            for line in f:
                try:
                    rec = json.loads(line)
                except ValueError:
                    continue
                k, q, v = rec.get("k"), rec.get("q"), rec.get("v")
                if k == "run_id":
                    seen_run_id = str(v)
                elif k == "duckdb":
                    duck[q] = v
                elif k == "spark":
                    sparkd[q] = v
                elif k == "spark_cold":
                    cold[q] = v
                elif k == "duckdb_cold":
                    cold_duck[q] = v
                elif k == "floor":
                    floor_s = float(v)
                elif k == "error":
                    errors[q] = str(v)
    except OSError:
        return {"error": err}
    if run_id is not None and seen_run_id != run_id:
        return {"error": err, "stale_progress_rejected": True}
    if not duck and not sparkd:
        return {"error": err}
    timings = {n: d["min"] for n, d in sparkd.items()}
    dmin = {n: d["min"] for n, d in duck.items()}
    unstable = sorted(
        n
        for n in set(sparkd) | set(duck)
        if max(
            sparkd.get(n, {}).get("spread", 1.0),
            duck.get(n, {}).get("spread", 1.0),
        )
        > 2.0
    )
    return {
        "partial_from_progress": True,
        "queries": timings,
        "duckdb": dmin,
        "spark_detail": sparkd,
        "duckdb_detail": duck,
        "unstable": unstable,
        "ratio": {
            n: round(timings[n] / dmin[n], 2)
            for n in dmin
            if dmin[n] > 0 and n in timings
        },
        "ratio_floor_adjusted": {
            n: round(max(timings[n] - floor_s, 0.0) / dmin[n], 2)
            for n in dmin
            if dmin[n] > 0 and n in timings
        },
        "cold_sec": cold,
        "cold_duckdb_sec": cold_duck,
        "errors": errors,
    }


# ---------------------------------------------------------------------------
# sf1 crossover: the "ratios are constants, not asymptotics" claim, measured.
#
# The driver ships sf0.1 at most; sf1 is synthesized once (cached in /tmp)
# by replicating sf0.1 SF1_REPLICAS x with consistent key shifts — every
# foreign key moves by the same per-domain offset, so join cardinalities
# scale linearly and group counts grow with the data. Unlike the driver's
# single-row-group files, the copy is written as multi-file parquet, so
# Spark scans parallelize the way they would on a real cluster.
# ---------------------------------------------------------------------------

SF1_REPLICAS = 10
SF1_GEN_VERSION = 5  # bump to invalidate cached copies

#: one in SF1_PERTURB_STRIDE document tokens is mutated per replica
#: (replica-specific suffix at positions offset by the replica index).
#: This is the round-9 verdict's "perturbed-replica mode": verbatim
#: clones made every exact-similarity pair query price ~C(100,2)x500 =
#: 2.5M cloning-artifact pairs instead of the algorithm. A 10% token
#: mutation drops clone-pair 4-gram Jaccard to ~0.2-0.43 (below
#: PF_TAU=0.5, computed in SCALE.md §24), so pair ops at sf1 now
#: measure real pruning over a corpus whose near-dup structure is the
#: per-replica copy of sf0.1's own. Deterministic (token index +
#: replica index only), so re-synthesis is reproducible.
SF1_PERTURB_STRIDE = 10


def _perturb_text(text, i: int):
    """Replica-i text mutation: tag every SF1_PERTURB_STRIDE-th token
    (offset i) with a replica-specific suffix. Pure builtin
    split/transform/array_join — no Python boundary."""
    from pyspark.sql import functions as F

    return F.array_join(
        F.transform(
            F.split(text, " "),
            lambda tok, idx: F.when(
                (idx + F.lit(i)) % SF1_PERTURB_STRIDE == 0,
                F.concat(tok, F.lit(f"~r{i}")),
            ).otherwise(tok),
        ),
        " ",
    )

#: per-table replica overrides. documents/embeddings/events are tiny
#: even at sf1 (5k docs / 5k vectors / 1M events), so their queries
#: stay fixed-overhead-dominated and the crossover never shows; the
#: override makes them big enough that both engines do real work.
#: Events sit at 40x (40M rows), not 100x: two full runs measured the
#: comparison engine's window sorts over 100M-row events spilling
#: tens of GB of temp alongside Spark's accumulated sf1 shuffle files,
#: transiently filling this host's ~80 GB effective free disk and
#: killing the section ("No space left on device") — 40x keeps the
#: worst single sort's spill inside budget while remaining a 40x
#: crossover signal. The benched joins all stay within one factor
#: group (events.user_id joins only events-derived queries here), so
#: their cardinality models hold — BUT quality.py's FK_RELATIONSHIPS
#: declares events.user_id -> customer.c_custkey, and with events at
#: 40x vs customer at 10x the synthesized user_ids in replicas 10-39
#: are orphans: dq_referential must NOT join SF1_QUERIES unless
#: user_id is shifted modulo the customer key span.
SF1_TABLE_REPLICAS = {"documents": 100, "embeddings": 100, "events": 40}

#: the worst floor-adjusted sf0.1 ratios — the queries whose 2x verdict
#: hinges on whether the gap shrinks with data size (r5 widening: every
#: headline query >6x floor-adjusted at sf0.1 now has a crossover row).
SF1_QUERIES = [
    # DEGRADATION-AWARE ORDER (round-10 run 2/3 lesson): the sf1
    # section runs under a wall deadline and drops the TAIL of this
    # list first, so it is ordered by evidence value, not history:
    #   A. queries with no sf1 pair yet (r8-r10 additions) — cheap,
    #      fresh evidence first;
    #   B. established pairs (re-measured when budget allows);
    #   C. the heavy tail — multi-second on BOTH engines; these burn
    #      minutes for one row and degrade first.
    # llm_dedup_prefixfilter is sf0.1-only now: on the PERTURBED sf1
    # corpus the tau>=0.5 similarity join is genuinely huge (~2.5M
    # qualifying pairs; 136 s Spark, DuckDB twin past its budget), so
    # an sf1 row prices pair materialization, not the blocking
    # strategy — the banded family's scale row is the minhash/simhash
    # path, and the prefix filter's scale argument stays in its
    # docstring.
    # -- A: fresh pairs --
    "ts_streaks",
    "llm_vocab_coverage",
    "llm_bpe_pair_count",
    "graph_label_propagation",
    "ts_interval_merge",
    "ts_rollup_hierarchy",
    "geo_knn",
    "llm_bpe_train",
    "win_pattern_match",
    "cdc_merge_ops",
    "join_asof_fwd",
    "agg_weighted_median",
    "llm_lexical_diversity",
    "llm_perplexity_filter",
    "llm_boilerplate_coverage",
    "stream_mv_apply",
    "ts_rolling_median",
    "ts_seasonal_baseline",
    "agg_bitmap_distinct",
    "ts_cusum",
    "skyline_pareto",
    "agg_gini",
    "geo_geofence_join",
    "join_interval_overlap",
    "dq_benford",
    "llm_winnowing",
    "agg_heavy_hitters",
    "llm_sample_reservoir",
    "ts_mad_anomaly",
    "ts_autocorr",
    # r11 additions — cheap fresh pairs first (stream_drift_apply is
    # the delta-only fold; ts_changepoint is grid-sized after one
    # rollup; graph_kcore's build shares the triangle wedge join)
    "stream_drift_apply",
    "ts_changepoint",
    "graph_kcore",
    "join_asof_nearest",
    "llm_dedup_bloom",
    "win_session_attribution",
    # r11 session-2 additions — fresh pairs (graph_jaccard shares the
    # wedge-join cost family; stream_topk's fold replays 4 triggers,
    # priced against the one-shot ranking like the other fold rows)
    "ts_winsorize",
    "ts_lttb",
    "llm_tokenizer_fertility",
    "join_star",
    "graph_jaccard",
    "stream_topk",
    "llm_dataset_card",
    "agg_corr",
    "stream_topk_apply",
    "subquery_not_in",
    "llm_lang_confusion",
    # -- B: established pairs --
    "flagship_flat",
    "dedup_lastwins",
    "scd2_apply",
    "llm_dedup_soft",
    "sort_topn_per_key",
    "upsert_merge",
    "llm_bm25",
    "llm_chunk_rag",
    "mm_decode",
    "win_rownum",
    "stream_session",
    "stream_tumble",
    "subquery_exists",
    "win_ntile",
    "pivot",
    "join_asof",
    "join_range",
    "join_large",
    "agg_groupby",
    "llm_text_stats",
    "llm_sim_search",
    "topk",
    "ts_ohlc",
    "ts_gapfill",
    "agg_salted",
    "cdc_snapshot_diff",
    "dq_drift",
    "stream_ohlc",
    "agg_incremental_merge",
    "agg_countmin",
    # graph_triangle_count / graph_clustering_coeff moved UP out of the
    # heavy tail (r11): their DuckDB twins are 3-18 s warm when run in
    # isolation (measured this round against the same sf1 copy), so the
    # r10 interrupts were tail-of-run contention, not algorithm cost —
    # running them before the genuinely heavy pairs gives them a clean
    # window and turns two forfeits into honest ratio pairs.
    "graph_triangle_count",
    "graph_clustering_coeff",
    # -- C: heavy tail (degrades first, ordered by marginal evidence
    # value: llm_eval_ngram_recall moved here in r11 — its equal-work
    # twin carries a 300 s budget (SF1_DUCK_BUDGET_OVERRIDES) and in
    # run 3 that bite cost the section its two cold pairs; the two
    # replay-stress rows sit last because their steady-state price is
    # already the *_apply rows' job) --
    "llm_sim_ann_pq",
    "llm_bigram_score",
    "llm_dedup_substring",
    "llm_eval_ngram_recall",
    "stream_drift",
    "stream_mv_refresh",
]

#: Spark-timed at sf1 WITHOUT a DuckDB twin: the comparison engine's
#: 16-LAG / frame-sum windows over the 40M-row events table spilled
#: >75 GB of sort temp (measured — it exhausted this host's disk before
#: finishing even once), while Spark's streaming window-frame executor
#: computes the same result in one pass with O(frame) state per task
#: (plan tests pin the one-exchange/one-sort shape). The Spark absolute
#: is recorded so the claim is a number, not an assertion.
SF1_SPARK_ONLY = ["ts_ewma", "ts_anomaly_zscore"]

#: sf1-only SQL substitutions: queries whose correctness oracle is a
#: deliberately naive twin that cannot finish at sf1 on any engine get
#: an EQUAL-WORK DuckDB implementation of the same algorithm for the
#: crossover measurement (recorded in the sf1 section's
#: ``sql_overrides`` so the record is explicit about it). Correctness
#: at sf0.01 still runs the naive oracle.
def _sf1_sql_overrides() -> dict[str, str]:
    from etl_verkada_spark.llm.dedup import SF1_TWIN_LLM_DEDUP_PREFIXFILTER
    from etl_verkada_spark.llm.text import SF1_TWIN_LLM_EVAL_NGRAM_RECALL
    from etl_verkada_spark.streaming.upsert import SF1_TWIN_STREAM_TOPK

    return {
        "llm_dedup_prefixfilter": SF1_TWIN_LLM_DEDUP_PREFIXFILTER,
        "llm_eval_ngram_recall": SF1_TWIN_LLM_EVAL_NGRAM_RECALL,
        # r15 (r14 verdict item 7): same two-trigger chunk-pair fold as
        # the Spark replay — the one-shot-ranking denominator priced a
        # structural mismatch; stays IN the ratio (the true oracle CAN
        # finish at sf1, so the exclusion criterion does not apply)
        "stream_topk": SF1_TWIN_STREAM_TOPK,
    }


#: twin-denominator pairs EXCLUDED from the sf1 ``ratio``/
#: ``ratio_floor_adjusted`` maps (and so from every aggregate computed
#: over them): their DuckDB side is the equal-work twin above, not the
#: correctness oracle, so the pair is not oracle-vs-engine (r11 verdict
#: item 4). The measured twin comparison still ships — under
#: ``twin_ratio`` — with its annotation. Membership criterion: the TRUE
#: oracle cannot finish at sf1 on this host (llm_eval_ngram_recall's
#: inverted-index oracle re-tested r12 with full MATERIALIZED CTE
#: discipline: >360 s — the pairs x shingles intermediate is ~2.3B rows
#: by construction). llm_dedup_prefixfilter's twin stays IN the ratio
#: maps: its true oracle is brute-force all-pairs (deliberately naive
#: at any sf), the twin is the per-pair-count-matched same-algorithm
#: form, and the r10/r11 records adjudicated that pair as fair.
SF1_TWIN_EXCLUDED = ["llm_eval_ngram_recall"]


#: annotations shipped with the sf1 record: context the raw ratio
#: misstates on its own (r9 verdict #4).
SF1_ANNOTATIONS = {
    "stream_mv_refresh": (
        "replay-stress row: replays ALL chunks through availableNow "
        "micro-batch machinery (4 triggers + state versioning) vs a "
        "one-shot batch twin; the steady-state incremental refresh "
        "cost is the stream_mv_apply row"
    ),
    "llm_dedup_prefixfilter": (
        "DuckDB side runs the equal-work prefix-filter twin (see "
        "sql_overrides), not the brute-force correctness oracle; "
        "documents replicas are token-perturbed so pairs price the "
        "algorithm, not verbatim clones"
    ),
    "llm_eval_ngram_recall": (
        "DuckDB side runs the equal-work blocked list_intersect twin "
        "(see sql_overrides), not the inverted-index correctness "
        "oracle (re-tested r12 with full MATERIALIZED CTE discipline: "
        ">360 s at sf1 — its pairs x shingles intermediate is ~2.3B "
        "rows by construction); because the pair is therefore not "
        "oracle-vs-engine it is EXCLUDED from ratio aggregates and "
        "reported under twin_ratio (r11 verdict item 4); on the "
        "perturbed corpus the fp blocking yields 11.48M metric pairs, "
        "so both engines price per-pair set intersection at identical "
        "pair counts (SCALE.md §25a)"
    ),
    "stream_drift": (
        "replay-stress row: replays ALL chunks through availableNow "
        "micro-batch machinery (4 triggers + a full state overwrite "
        "per trigger) vs a one-shot batch twin; the steady-state "
        "incremental refresh cost is the stream_drift_apply row"
    ),
    "llm_dedup_bloom": (
        "the fixed test-scale filter (4096 bits) SATURATES at sf1: "
        "every probe is a maybe and the exact verify carries the full "
        "incoming set — the undersized-filter failure mode, priced "
        "deliberately (production sizes m to history; see the operator "
        "docstring's operating-range note)"
    ),
    "stream_topk": (
        "replay row with a MATCHED-WORK denominator since r15 (r14 "
        "verdict item 7): the DuckDB side folds the identical two "
        "chunk-pair batches — per-batch top-K prune then semilattice "
        "prune-merge (see sql_overrides; result provably equals the "
        "one-shot ranking the correctness row checks). The residual "
        "ratio prices Spark's streaming machinery (offsets log, state "
        "versioning I/O) against an in-process fold, deliberately"
    ),
    "upsert_merge": (
        "floor/constant-bound (r14 adjudication, SCALE.md §29e): the "
        "operator IS two scheduled runs (S9) and the oracle does the "
        "same two-phase work by design; decomposition = 2 filtered "
        "orders scans + 2 WindowGroupLimit merges against a 0.26 s "
        "in-memory denominator — per-stage constants, not plan"
    ),
    "win_session_attribution": (
        "floor/constant-bound (r14 adjudication, SCALE.md §29e): ONE "
        "user_id exchange total (the session/day aggregates reuse the "
        "window's partitioning), no self-join; the scan+shuffle floor "
        "alone is 48% of the Spark absolute against a 0.2 s in-memory "
        "denominator"
    ),
    "llm_dedup_containment": (
        "decomposed (SCALE.md §30a, rewritten r15 6.8x -> ~2.6x "
        "floor-adjusted): one tokenize+explode (0.56 s bare), two "
        "row-scale exchanges (s-window df, doc-rank), candidate join "
        "+ exact verify — ~6 sequential stage waves at the ~0.2 s "
        "wave floor against a sub-0.5 s in-memory denominator; a "
        "hash-the-shingles variant was built and measured NO-WIN"
    ),
    "graph_bfs_levels": (
        "decomposed (SCALE.md §30b): edge build ~1.0 s + 4 eager "
        "supersteps + final union at the ~0.28 s per-job floor; both "
        "structural alternatives (fully lazy bounded-depth plan, "
        "two-level fold) were BUILT and measured slower — per-round "
        "job tax, amortizes at cluster scale"
    ),
    "llm_boilerplate_coverage": (
        "decomposed (SCALE.md §30c, double occ build removed r15 "
        "2.10 -> 1.61 s): the stride-1 window-string build is 0.6-0.7 "
        "s of the absolute (md5 adds nothing); remainder is one "
        "digest exchange + match join + coverage window vs a ~0.25 s "
        "in-memory denominator — §24c stage-wave regime"
    ),
    "llm_dedup_substring": (
        "decomposed (SCALE.md §30c): the stride-1 occ build is 0.69 s "
        "= 52% of the 1.34 s absolute; remainder one digest-window "
        "exchange + doc-coverage window + final join vs a 0.24 s "
        "in-memory denominator — same stage-wave regime as its "
        "boilerplate sibling"
    ),
    "graph_label_propagation": (
        "compute-bound supersteps (SCALE.md §28c, re-adjudicated §30e "
        "on the r15 edge build): sf1 measures 1.42x raw — the sf0.1 "
        "ratio is the §24c per-superstep job tax against a sub-0.3 s "
        "denominator, not a plan defect"
    ),
    "ts_lttb": (
        "decomposed (SCALE.md §29b/§28a): two scans + a bounded "
        "cell-table driver fold; the residual over DuckDB is the "
        "decimal-packing ledger (~0.5 s) — a BIGINT-area variant was "
        "built r14 and measured NO-WIN; committed rows before r15 "
        "rode loaded windows (§29i note)"
    ),
    "agg_weighted_median": (
        "floor/constant-bound (SCALE.md §29a decomposition, "
        "annotated-closed r15 §30g): the zero-row-scale-exchange "
        "two-scan shape pays two bare parquet scans + two job floors "
        "against DuckDB's single in-memory pass; the one named "
        "residual lever (row-group min/max pruning on the pushed "
        "price band) needs a value-clustered layout the testdata "
        "does not have — a data-layout property, not a plan change"
    ),
    "dq_referential": (
        "floor/constant-bound (r15 probe + decomposition, SCALE.md "
        "§30d): a 5-relationship FK audit = 3 child scans + 4 "
        "broadcast builds + per-branch aggregates against DuckDB's "
        "~44 ms in-memory NOT EXISTS subqueries — per-stage "
        "constants, not plan (r15 cut the scan count from 10 to 3; "
        "the join strategy is Catalyst's, dimension parents "
        "broadcast, a row-scale parent would shuffle)"
    ),
    "agg_approx_percentile": (
        "deliberate dual computation: the operator's contract is the "
        "rank-error certificate, so BOTH engines compute the sketch "
        "AND the exact quantile bands; Spark's exact percentile is an "
        "object-hash aggregate vs DuckDB's vectorized quantile_cont — "
        "a constant-factor engine gap on equal work, one pass, "
        "mergeable partials"
    ),
    "udtf_bigrams": (
        "the deliberate Python-row-path row (§2.10): a lateral Python "
        "UDTF prices per-row interpreter crossing by design — the "
        "vectorized counterpart is the pandas_udf family; kept benched "
        "so the slow path's cost stays on record"
    ),
    "graph_jaccard": (
        "r13: JACC_MIN_COMMON 2 -> 1 — the old floor emptied the "
        "output at sf0.1 AND sf1 (both engines ground the wedge join "
        "to a verified 0-row answer), so the pair now measures a "
        "populated result at every benched scale (1396 rows sf0.1)"
    ),
}

#: iteration-heavy operators where a min-of-N would measure a cache, not
#: the computation (graph_pagerank localCheckpoints its ranks; scd2_build
#: is ~8s/run): ONE timed cold run each, reported as `cold_sec` /
#: `cold_duckdb_sec` so the honest cost is on record.
SF1_COLD_QUERIES = ["scd2_build", "graph_pagerank"]

#: key columns shifted per replica, keyed by FK domain so references stay
#: consistent across tables (orders.o_custkey moves exactly like
#: customer.c_custkey). nation/region are unreplicated dims: their keys
#: appear as FKs in replicated tables and must keep their values.
SF1_KEY_DOMAINS: dict[str, dict[str, str]] = {
    "customer": {"c_custkey": "cust"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part",
                 "l_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "supplier": {"s_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
    "nation": {},
    "region": {},
}
SF1_DOMAIN_SOURCE = {
    "cust": ("customer", "c_custkey"),
    "order": ("orders", "o_orderkey"),
    "part": ("part", "p_partkey"),
    "supp": ("supplier", "s_suppkey"),
    "event": ("events", "event_id"),
    "user": ("events", "user_id"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
}
SF1_WIDE_TABLES = {  # 32 output files
    "lineitem", "orders", "events", "documents", "embeddings",
}
SF1_BASE = "/tmp/spark_graft_sf1"


def ensure_sf1(spark, src_dir: str) -> str:
    """Build (or reuse) the synthesized sf1 copy; returns its directory.

    Cached on a fingerprint of the source files + generator params;
    stale fingerprint dirs are pruned so /tmp holds at most one copy.
    """
    import hashlib
    import shutil

    h = hashlib.md5(
        f"v{SF1_GEN_VERSION}:r{SF1_REPLICAS}:{sorted(SF1_TABLE_REPLICAS.items())}".encode()
    )
    for t in TABLES:
        st = os.stat(os.path.join(src_dir, f"{t}.parquet"))
        h.update(f"{t}:{st.st_mtime_ns}:{st.st_size};".encode())
    dest = f"{SF1_BASE}/{h.hexdigest()[:12]}"
    done = os.path.join(dest, "_DONE")
    if os.path.exists(done):
        return dest
    for old in os.listdir(SF1_BASE) if os.path.isdir(SF1_BASE) else []:
        shutil.rmtree(os.path.join(SF1_BASE, old), ignore_errors=True)

    import duckdb
    from pyspark.sql import functions as F

    from etl_verkada_spark.catalog import table as load_table

    con = _duck_connect()
    base: dict[str, int] = {}
    for dom, (t, col) in SF1_DOMAIN_SOURCE.items():
        base[dom] = (
            con.execute(
                f"SELECT MAX({col}) + 1 FROM '{src_dir}/{t}.parquet'"
            ).fetchone()[0]
        )
    con.close()

    for t in TABLES:
        df = load_table(spark, src_dir, t)
        shifts = SF1_KEY_DOMAINS[t]
        if shifts:
            n_rep = SF1_TABLE_REPLICAS.get(t, SF1_REPLICAS)
            replicas = []
            for i in range(n_rep):
                r = df
                for col, dom in shifts.items():
                    r = r.withColumn(col, F.col(col) + F.lit(i * base[dom]))
                if t == "documents" and i > 0:
                    # replica 0 keeps sf0.1's genuine text; the rest are
                    # near-dup-but-not-verbatim copies (see
                    # SF1_PERTURB_STRIDE)
                    r = r.withColumn("text", _perturb_text(F.col("text"), i))
                replicas.append(r)
            out = replicas[0]
            for r in replicas[1:]:
                out = out.unionByName(r)
            out = out.repartition(32 if t in SF1_WIDE_TABLES else 8)
        else:
            out = df.coalesce(1)
        out.write.mode("overwrite").parquet(os.path.join(dest, f"{t}.parquet"))
    with open(done, "w") as f:
        f.write("ok")
    return dest


#: free bytes below which the sf1 section refuses to start: both r5
#: full runs lost DuckDB's cold pagerank to ENOSPC when its spill temp
#: raced Spark's accumulated shuffle files. 40 GB covers the worst
#: measured single-query spill with margin.
SF1_MIN_FREE_BYTES = 40 * 1024**3


def _free_bytes(path: str = "/tmp") -> int:
    import shutil

    return shutil.disk_usage(path).free


def _clean_tmp(
    patterns=("/tmp/duckdb_bench_tmp",),
    min_age_s: float = 600,
    prune_spark_dirs: bool = False,
):
    """Best-effort disk hygiene: drop DuckDB's spill temp entirely and,
    ONLY when ``prune_spark_dirs`` (safe solely BEFORE this process
    creates its SparkSession), prune stale Spark scratch dirs.

    prune_spark_dirs is the round-6 postmortem: the age-based prune ran
    mid-section after a ~20-minute DuckDB pass and deleted the LIVE
    JVM's own >10-minute-old blockmgr dir — every subsequent query died
    with NoSuchFileException on its shuffle files (both full-run sf1
    wipeouts, 31 and 35 queries). Age cannot distinguish a stale dir
    from a long-lived live one, so pruning is confined to process
    startup, where this process provably owns no Spark dirs yet."""
    import glob
    import shutil

    now = time.time()
    for p in patterns:
        shutil.rmtree(p, ignore_errors=True)
    if not prune_spark_dirs:
        return
    for pat in ("/tmp/blockmgr-*", "/tmp/spark-*"):
        for d in glob.glob(pat):
            try:
                if now - os.path.getmtime(d) > min_age_s:
                    shutil.rmtree(d, ignore_errors=True)
            except OSError:
                pass


def _err(e: Exception) -> str:
    """Compact error record that keeps the ROOT CAUSE: the r6 run stored
    only ``str(e)[:200]``, which for a Py4J SparkException is pure
    boilerplate ("Job aborted ... Lost task N in stage M") — the actual
    failure (OOM, ENOSPC, codegen error) lives hundreds of lines down in
    the Java stack and was unrecoverable afterwards."""
    s = str(e)
    lines = [ln.strip() for ln in s.splitlines() if ln.strip()]
    head = f"{type(e).__name__}: " + (lines[0][:200] if lines else s[:200])
    cause = ""
    for ln in lines:
        if ln.startswith("Caused by") or "OutOfMemory" in ln or (
            "No space left" in ln
        ) or "java.io.IOException" in ln:
            cause = ln[:250]  # first real cause wins
            break
    return f"{head} | cause: {cause}" if cause else head


def _tree_id() -> str:
    """Content hash of the benchable tree (engine package + harness +
    driver entry), commit-independent: ``git ls-files -s`` blob hashes
    plus any uncommitted diff. Cross-run merging (r13 verdict item 6)
    is only valid between runs of the IDENTICAL tree — a plan change
    between runs would let a stale faster min misrepresent the shipped
    code."""
    import hashlib
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.md5()
    try:
        for cmd in (
            ["git", "ls-files", "-s", "--", "etl_verkada_spark",
             "bench.py", "__spark_entry__.py"],
            ["git", "diff", "--", "etl_verkada_spark", "bench.py",
             "__spark_entry__.py"],
        ):
            out = subprocess.run(
                cmd, capture_output=True, cwd=here, timeout=30
            )
            if out.returncode != 0:
                return "unknown"
            h.update(out.stdout)
        return h.hexdigest()[:12]
    except Exception:  # noqa: BLE001 - merging is best-effort
        return "unknown"


def _min_intersect(maps: list[dict | None]) -> dict:
    """Per-key minimum over the keys present in EVERY map — the
    cross-run min-intersection (r13 verdict item 6: the headline the
    close-note cites must be the headline the committed record
    carries; per-run values are retained alongside)."""
    present = [m for m in maps if m]
    if len(present) != len(maps) or not present:
        return {}
    keys = set(present[0])
    for m in present[1:]:
        keys &= set(m)
    return {k: min(m[k] for m in present) for k in keys}


def _min_union(maps: list[dict | None]) -> dict:
    """Per-key minimum over the keys present in ANY map — the sf1
    cross-run merge (r15 verdict item 2). Unlike the sf0.1 headline
    (min-INTERSECTION: every run times every HEADLINE query, and the
    merged sum must be comparable run-over-run), the sf1 section
    completes a budget-dependent PREFIX of its pair list per run, so
    an intersection merge would shrink to the weakest run's coverage;
    the union lets resume-aware runs accumulate full coverage. Each
    pair's value is still a same-tree min, so no entry is less honest
    than a single-run record."""
    out: dict = {}
    for m in maps:
        for k, v in (m or {}).items():
            if k not in out or v < out[k]:
                out[k] = v
    return out


def _load_prior_record(repo_detail_path: str, tree_id: str) -> dict:
    """The previous bench record IF it belongs to the same tree
    (tree_id mismatch or unknown -> empty: cross-run merging is only
    valid between runs of the identical tree)."""
    if tree_id == "unknown":
        return {}
    try:
        with open(repo_detail_path) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        return {}
    if prev.get("tree_id") != tree_id:
        return {}
    return prev


def _may_write_repo_copy(sf: str, sf1: dict | None, prior_record: dict) -> bool:
    """Whether this run may overwrite the repo's BENCH_FULL.json.

    A run with an sf1 section always may. An sf1-disabled run may only
    extend a same-tree record (its sf1 section is carried forward) of
    the SAME headline sf: a smoke run at another sf would otherwise
    replace the headline (sf, value, per-query detail) with
    smoke-scale numbers."""
    if sf1 is not None:
        return True
    return bool(prior_record) and prior_record.get("sf") == sf


def _load_prior_runs(repo_detail_path: str, tree_id: str) -> list[dict]:
    """Per-run compact records accumulated by earlier bench invocations
    on the SAME tree (tree_id mismatch or unknown -> no merge)."""
    runs = _load_prior_record(repo_detail_path, tree_id).get("runs")
    if isinstance(runs, list) and runs:
        return runs
    return []


def _host_telemetry() -> dict:
    """Load + free-memory snapshot (r12 verdict item 1: the official
    r12 record was taken on a loaded host and nothing in the record
    said so — every ratio figure is only interpretable alongside the
    contention state it was measured under)."""
    t: dict = {}
    try:
        t["load1"] = round(os.getloadavg()[0], 1)
    except OSError:
        pass
    try:
        with open("/proc/meminfo") as f:
            for ln in f:
                if ln.startswith("MemAvailable:"):
                    t["mem_avail_gb"] = round(
                        int(ln.split()[1]) / 1048576, 1
                    )
                    break
    except OSError:
        pass
    return t


# The driver captures only the LAST 2000 BYTES of bench stdout and
# parses the final line as JSON. BENCH_r02-r06 were all parsed:null
# because the final line outgrew that window (r6's 3800-byte cap was
# still ~2x too generous). Everything printed here must fit the budget
# below with the trailing newline; full detail goes to the detail file.
STDOUT_LINE_BUDGET = 1900


def compact_stdout_line(
    value: float,
    sf: float,
    timings: dict,
    floor_s: float,
    duck: dict,
    sf1: dict | None,
    detail_path: str,
    partial: bool = False,
    floor_1row_s: float | None = None,
    host: dict | None = None,
    runs_merged: int | None = None,
    n_current_run: int | None = None,
) -> str:
    """One JSON line <= STDOUT_LINE_BUDGET bytes: the driver contract.

    Keeps (in drop order, least essential first): sf1 cold/spark_only/
    unstable extras, then the sf1 ratio dict, then the per-query sf0.1
    timings. The sf0.1 per-query DuckDB ratios never ride the line —
    they are recomputable from queries/duckdb in the detail file; an
    aggregate ratio scalar stays.
    """
    sf1_summary: dict | None = None
    if isinstance(sf1, dict):
        sf1_summary = {}
        if "ratio_floor_adjusted" in sf1:
            sf1_summary["ratio"] = {
                k: round(v, 1)
                for k, v in sf1["ratio_floor_adjusted"].items()
            }
        for k in ("unstable", "skipped", "error"):
            if sf1.get(k):
                sf1_summary[k] = sf1[k]
        if sf1.get("deadline_skipped"):
            # r12 verdict item 2: the count alone made skips anonymous
            # in the official record — carry the names (capped) too
            sf1_summary["n_deadline_skipped"] = len(sf1["deadline_skipped"])
            sf1_summary["skipped_q"] = sf1["deadline_skipped"][:8]
        if sf1.get("deadline_skipped_recheck"):
            # skips of pairs the accumulated record already covers
            # (resume-aware ordering, r15 verdict item 2) — a count is
            # enough, the pairs still carry same-tree measurements
            sf1_summary["n_skip_recheck"] = len(
                sf1["deadline_skipped_recheck"]
            )
        if "free_disk_gb_at_start" in sf1:
            sf1_summary["free_gb"] = round(sf1["free_disk_gb_at_start"], 1)
        if "pairs_md5" in sf1:
            sf1_summary["pairs_md5"] = sf1["pairs_md5"]
        if sf1.get("twin_ratio"):
            sf1_summary["twin_ratio"] = {
                k: round(v, 1) for k, v in sf1["twin_ratio"].items()
            }
        if "errors" in sf1:
            # named, classed, and capped (r12 verdict item 2: the r12
            # record's `n_errors: 1` was anonymous). Tolerate both the
            # dict form ({query: message}) and a bare name list.
            errs = sf1["errors"]
            sf1_summary["n_errors"] = len(errs)
            if isinstance(errs, dict):
                sf1_summary["errors"] = {
                    k: str(v)[:60] for k, v in list(errs.items())[:6]
                }
            else:
                sf1_summary["errors"] = [str(k)[:60] for k in errs][:6]
        if "host_start" in sf1:
            sf1_summary["load1"] = [
                sf1["host_start"].get("load1"),
                sf1.get("host_end", {}).get("load1"),
            ]
        if "spark_only" in sf1:
            sf1_summary["spark_only"] = {
                k: round(v, 2) for k, v in sf1["spark_only"].items()
            }
        if "cold_sec" in sf1:
            sf1_summary["cold"] = {
                k: round(v, 1) for k, v in sf1["cold_sec"].items()
            }
        # flag floor-bound rows (r10 verdict #6; cutoff widened per the
        # r12 verdict item 8): a >2x sf1 ratio whose Spark absolute is
        # ~1 s against a sub-250 ms DuckDB denominator prices fixed
        # per-job scheduling, not the plan — with a ~0.2-0.35 s
        # measured per-job floor, a 0.25 s denominator cannot show a
        # sub-2x ratio even for a zero-work plan. Named so the worst-N
        # list reads correctly without the detail file; the honesty
        # trade is unchanged (absolutes stay in the record).
        if sf1_summary.get("ratio") and sf1.get("queries") and sf1.get(
            "duckdb"
        ):
            fb = sorted(
                n
                for n, r in sf1_summary["ratio"].items()
                if r > 2.0
                and sf1["queries"].get(n, 99.0) <= FLOOR_BAND_SPARK_S
                and sf1["duckdb"].get(n, 99.0) <= FLOOR_BAND_DUCK_S
            )
            if fb:
                sf1_summary["floor_bound"] = fb
    duck_total = sum(duck.values())
    covered = [n for n in duck if n in timings]
    # r11 verdict item 7: round-over-round aggregates diverged purely
    # on run composition (which pairs completed) and on which floor was
    # subtracted. Pin both in the record: the md5 of the sorted covered
    # pair set, and the name of the floor constant used by every
    # ratio_* figure — like-for-like comparison is now checkable.
    import hashlib

    pairs_md5 = hashlib.md5(
        ",".join(sorted(covered)).encode()
    ).hexdigest()[:10]
    # per-query floor-adjusted ratio distribution (r10 verdict #6): the
    # aggregate sum is a composition artifact over mostly-20 ms DuckDB
    # denominators, so the line also carries the median and the >2x
    # count — the two numbers the 2x-per-query verdict actually uses.
    per_q = sorted(
        max(timings[n] - floor_s, 0.0) / duck[n]
        for n in covered
        if duck[n] > 0
    )
    ratio_median = (
        round(
            (
                per_q[len(per_q) // 2]
                if len(per_q) % 2
                else (per_q[len(per_q) // 2 - 1] + per_q[len(per_q) // 2])
                / 2
            ),
            2,
        )
        if per_q
        else None
    )
    n_gt2x = sum(1 for r in per_q if r > 2.0)
    final = {
        "metric": (
            f"headline query wall-clock, noop sink, min-of-{N_RUNS}"
            + (
                f", min-intersection of {runs_merged} same-tree runs"
                if runs_merged
                else ""
            )
        ),
        "value": value,
        "unit": "sec",
        "sf": sf,
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "spark_fixed_overhead_sec": floor_s,
        "spark_fixed_overhead_1row_sec": floor_1row_s,
        "duckdb_total_sec": round(duck_total, 3),
        "ratio_agg_floor_adjusted": (
            round(
                max(
                    sum(timings[n] for n in covered)
                    - floor_s * len(covered),
                    0.0,
                )
                / duck_total,
                2,
            )
            if duck_total > 0
            else None
        ),
        "ratio_median_floor_adjusted": ratio_median,
        "n_queries_gt2x": n_gt2x,
        "n_ratio_pairs": len(per_q),
        # intersection-size transparency (r14 advice): a prior run that
        # lost a query to a deadline silently shrinks the merged query
        # set for every later merged record — name both counts so a
        # shrinking intersection is visible in the stdout record itself
        "pairs_md5": pairs_md5,
        "floor_used": "spark_fixed_overhead_sec",
        "host": host,
        "sf1": sf1_summary,
        "detail_file": detail_path,
    }
    if runs_merged:
        # intersection-size transparency (r14 advice): a prior run that
        # lost a query to a deadline silently shrinks the merged query
        # set for every later merged record — name both counts so a
        # shrinking intersection is visible in the stdout record itself
        final["n_queries_merged"] = len(timings)
        final["n_queries_current_run"] = n_current_run
    if partial:
        final["partial"] = True
        final.pop("sf1", None)
    line = json.dumps(final, separators=(",", ":"))
    for drop in ("cold", "spark_only"):
        if len(line) < STDOUT_LINE_BUDGET:
            break
        if sf1_summary:
            sf1_summary.pop(drop, None)
        line = json.dumps(final, separators=(",", ":"))
    # error MESSAGES degrade to names before anything else goes — the
    # names are the adjudication payload, the text lives in the detail
    if len(line) >= STDOUT_LINE_BUDGET and sf1_summary and (
        sf1_summary.get("errors")
    ):
        sf1_summary["errors"] = sorted(sf1_summary["errors"])
        line = json.dumps(final, separators=(",", ":"))
    # the unstable list is adjudication-critical (it marks which ratios
    # NOT to trust) — degrade it to a count rather than dropping it
    if len(line) >= STDOUT_LINE_BUDGET and sf1_summary and (
        "unstable" in sf1_summary
    ):
        sf1_summary["n_unstable"] = len(sf1_summary.pop("unstable"))
        line = json.dumps(final, separators=(",", ":"))
    # before dropping the sf1 dict wholesale, truncate its ratio map to
    # the WORST entries (they are the adjudication target; sub-1x wins
    # already ride SCALE.md + the detail file) — 5 at a time until fit
    while (
        len(line) >= STDOUT_LINE_BUDGET
        and sf1_summary
        and len(sf1_summary.get("ratio", {})) > 10
    ):
        worst = sorted(
            sf1_summary["ratio"].items(), key=lambda kv: -kv[1]
        )[: len(sf1_summary["ratio"]) - 5]
        sf1_summary["ratio"] = dict(worst)
        sf1_summary["ratio_truncated"] = True
        line = json.dumps(final, separators=(",", ":"))
    # the floor_bound NAME list exists to tag rows in the worst-N ratio
    # map — once that map is truncated, names outside it are dead bytes
    # (the r13 run-1 line spent ~600 B on 42 names and squeezed the
    # ratio map to 7 entries); keep the full count, trim the names.
    if sf1_summary and sf1_summary.get("floor_bound") and (
        sf1_summary.get("ratio_truncated") or len(line) >= STDOUT_LINE_BUDGET
    ):
        sf1_summary["n_floor_bound"] = len(sf1_summary["floor_bound"])
        sf1_summary["floor_bound"] = [
            n
            for n in sf1_summary["floor_bound"]
            if n in sf1_summary.get("ratio", {})
        ]
        line = json.dumps(final, separators=(",", ":"))
    # the per-query sf0.1 timings are the LEAST essential payload: they
    # are fully recomputable from the detail file, while the sf1 ratios
    # are the adjudication target (r5 verdict #1). With 66 headline
    # queries the timings dict alone nearly fills the budget and the
    # round-9 run-2 line shed the whole sf1 section — so truncate
    # queries (slowest first, they carry the information) and, if ever
    # needed, drop queries BEFORE sf1.
    while (
        len(line) >= STDOUT_LINE_BUDGET
        and len(final.get("queries", {})) > 15
    ):
        slowest = sorted(
            final["queries"].items(), key=lambda kv: -kv[1]
        )[: len(final["queries"]) - 10]
        final["queries"] = dict(slowest)
        final["queries_truncated"] = True
        line = json.dumps(final, separators=(",", ":"))
    for drop in ("queries", "sf1"):
        if len(line) < STDOUT_LINE_BUDGET:
            break
        final.pop(drop, None)
        final["dropped_for_size"] = final.get("dropped_for_size", []) + [drop]
        line = json.dumps(final, separators=(",", ":"))
    return line


#: timed runs per engine per query at sf1. 3, not the sf0.1 section's
#: 5: at sf1 absolutes are mostly >= 0.5 s (scheduler noise is
#: proportionally small), the spread field still flags a polluted
#: window, and the round-9 driver record was lost to the section
#: outgrowing its wall budget — two fewer runs buy ~35% of the section
#: back. Host steal-time spikes that span all three runs land in
#: ``unstable`` and are read as unmeasured.
N_RUNS_SF1 = 3

#: seconds the sf1 section reserves before its deadline: no new query
#: starts inside the reserve, leaving room to aggregate + write the
#: result file (the difference between a per-query degradation and the
#: round-9 wholesale loss).
SF1_DEADLINE_RESERVE_S = 45.0


def bench_sf1(
    spark,
    registry,
    src_dir: str,
    floor_s: float,
    deadline: float | None = None,
    run_id: str | None = None,
    covered: set[str] | None = None,
) -> dict:
    """Spark-vs-DuckDB timings for the worst-ratio set at the
    synthesized sf1 (min-of-N_RUNS_SF1 per engine; dispersion recorded
    per query).

    Measurement hygiene (r5 verdict #2): refuse to start when free disk
    is below SF1_MIN_FREE_BYTES; drop DuckDB's spill temp before AND
    after its pass so it never coexists with Spark shuffle files; and
    record per-query dispersion — any query whose max/min spread
    exceeds 2x lands in ``unstable`` and its ratio should be read as
    unmeasured, not as a result.

    ``deadline`` (a time.monotonic() timestamp) makes the section
    degrade PER QUERY instead of being killed wholesale (the round-9
    rc:124 failure): no new query starts past the deadline minus
    reserve; everything not reached lands in ``deadline_skipped``; the
    Spark pass runs DuckDB-paired queries first so whatever time
    remains completes RATIOS, not orphan absolutes.

    ``covered`` (r15 verdict item 2 — resume-aware ordering): pair
    names that already carry a same-tree measurement in the
    accumulated record. Not-yet-covered pairs run FIRST (within the
    existing evidence ordering), so successive default-budget runs
    accumulate full coverage instead of re-measuring the same prefix;
    a deadline skip of an already-covered pair is recorded under
    ``deadline_skipped_recheck`` (the record still has a same-tree
    number for it), keeping ``deadline_skipped`` = genuinely missing
    measurements."""

    def over_deadline(reserve: float = SF1_DEADLINE_RESERVE_S) -> bool:
        return deadline is not None and time.monotonic() > deadline - reserve

    covered = covered or set()
    #: fresh-first iteration order (stable within each group)
    sf1_order_all = [n for n in SF1_QUERIES if n not in covered] + [
        n for n in SF1_QUERIES if n in covered
    ]

    sf1_dir = ensure_sf1(spark, src_dir)
    errors: dict[str, str] = {}
    skipped_deadline: list[str] = []
    skipped_recheck: list[str] = []

    def skip(tag: str, name: str) -> None:
        (skipped_recheck if name in covered else skipped_deadline).append(
            f"{tag}:{name}"
        )
    _clean_tmp()
    free0 = _free_bytes()
    if free0 < SF1_MIN_FREE_BYTES:
        return {
            "skipped": "insufficient_disk",
            "free_gb": round(free0 / 1024**3, 1),
            "needed_gb": round(SF1_MIN_FREE_BYTES / 1024**3, 1),
        }

    # DuckDB FIRST: its big window sorts spill multi-GB temp; running
    # them before Spark's sf1 queries means that spill never coexists
    # with Spark's accumulated shuffle files (the combination filled
    # the disk and killed this section in two round-5 runs). Errors are
    # captured PER QUERY so one failure cannot erase the section.
    #
    # The duck pass is additionally capped at HALF the remaining
    # deadline: when first-time fixture synthesis has eaten most of the
    # budget, a full-budget duck pass leaves the Spark pass NOTHING and
    # the record ends up all-denominator/no-numerator (this round's
    # run 2: 64 duck rows, 0 spark rows). Half/half guarantees complete
    # RATIO pairs for whatever prefix of SF1_QUERIES fits; the Spark
    # pass runs duck-paired queries first, so the pairs line up.
    duck_deadline = deadline
    if deadline is not None:
        duck_deadline = min(
            deadline, time.monotonic() + (deadline - time.monotonic()) / 2
        )

    def duck_over_deadline(reserve: float = SF1_DEADLINE_RESERVE_S) -> bool:
        return (
            duck_deadline is not None
            and time.monotonic() > duck_deadline - reserve
        )

    duck: dict[str, float] = {}
    cold_duck: dict[str, float] = {}
    con = _duck_connect()
    # cap the comparison engine's memory: its default (80% of RAM)
    # overlaps the Spark JVM's heap on this shared box; 32 GB trades a
    # little extra spill for never racing the JVM into the OOM killer
    con.execute("SET memory_limit='32GB'")
    for t in TABLES:
        con.execute(
            "CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')".format(
                t=t, p=f"{sf1_dir}/{t}.parquet/*.parquet"
            )
        )
    # every completed measurement is APPENDED to the progress file the
    # moment it exists: the round-9 run proved that an end-only write
    # loses 90 minutes of data to a subprocess timeout
    progress = _sf1_progress_path()
    try:
        os.unlink(progress)
    except OSError:
        pass

    def _record(kind: str, name: str, payload) -> None:
        with open(progress, "a") as f:
            f.write(json.dumps({"k": kind, "q": name, "v": payload}) + "\n")

    if run_id is not None:
        _record("run_id", "run_id", run_id)
    _record("floor", "floor_s", floor_s)

    overrides = _sf1_sql_overrides()
    duck_detail: dict[str, dict] = {}
    for name in sf1_order_all:
        sql = overrides.get(name) or registry[name].oracle
        if not sql:
            continue
        if duck_over_deadline():
            skip("duckdb", name)
            continue
        budget = SF1_DUCK_BUDGET_OVERRIDES.get(
            name, SF1_DUCK_QUERY_BUDGET_S
        )
        if duck_deadline is not None:
            budget = min(
                budget,
                max(
                    duck_deadline
                    - time.monotonic()
                    - SF1_DEADLINE_RESERVE_S,
                    5.0,
                ),
            )
        try:
            duck_detail[name] = run_duckdb_budgeted(
                con, sql, n_runs=N_RUNS_SF1, budget_s=budget
            )
            duck[name] = duck_detail[name]["min"]
            _record("duckdb", name, duck_detail[name])
        except Exception as e:  # noqa: BLE001 - record and continue
            errors[f"duckdb:{name}"] = _err(e)
            _record("error", f"duckdb:{name}", _err(e))
    # warm-retry protocol (r13 verdict item 5): a pair flagged unstable
    # by ONE polluted 3-run window often measures clean immediately
    # after — give every >2x-spread duck window one more (already-warm)
    # window and keep whichever has the smaller spread (tie: smaller
    # min). "unstable" should mean "unmeasurable this session", not
    # "the scheduler hiccuped once".
    for name in [
        n for n in sf1_order_all
        if duck_detail.get(n, {}).get("spread", 1.0) > 2.0
    ]:
        if duck_over_deadline():
            break
        sql = overrides.get(name) or registry[name].oracle
        try:
            retry = run_duckdb_budgeted(
                con, sql, n_runs=N_RUNS_SF1,
                budget_s=SF1_DUCK_BUDGET_OVERRIDES.get(
                    name, SF1_DUCK_QUERY_BUDGET_S
                ),
            )
        except Exception:  # noqa: BLE001 - keep the first window
            continue
        old = duck_detail[name]
        if (retry["spread"], retry["min"]) < (old["spread"], old["min"]):
            retry["retried"] = True
            duck_detail[name] = retry
            duck[name] = retry["min"]
            _record("duckdb", name, retry)
    for name in SF1_COLD_QUERIES:
        sql = registry[name].oracle
        if sql:
            if duck_over_deadline():
                skip("duckdb_cold", name)
                continue
            try:
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                cold_duck[name] = round(time.perf_counter() - t0, 3)
                _record("duckdb_cold", name, cold_duck[name])
            except Exception as e:  # noqa: BLE001
                errors[f"duckdb_cold:{name}"] = _err(e)
                _record("error", f"duckdb_cold:{name}", _err(e))
    con.close()
    # DuckDB's pass is over: its spill temp must not share the disk
    # with Spark's sf1 shuffle files (the r5 ENOSPC cause).
    _clean_tmp()

    timings: dict[str, float] = {}
    spark_detail: dict[str, dict] = {}
    # ratio-completing order: queries whose DuckDB twin finished first,
    # then the rest — a deadline mid-pass costs absolutes, not pairs
    # (fresh-first within each group, same as the duck pass)
    spark_order = [n for n in sf1_order_all if n in duck] + [
        n for n in sf1_order_all if n not in duck
    ] + SF1_SPARK_ONLY
    for name in spark_order:
        if over_deadline():
            skip("spark", name)
            continue
        try:
            spark_detail[name] = run_spark(
                registry[name].fn, spark, sf1_dir, n_runs=N_RUNS_SF1
            )
            timings[name] = spark_detail[name]["min"]
            _record("spark", name, spark_detail[name])
        except Exception as e:  # noqa: BLE001
            errors[f"spark:{name}"] = _err(e)
            _record("error", f"spark:{name}", _err(e))
    # spark-side warm-retry (same protocol as the duck pass above)
    for name in [
        n for n in spark_order
        if spark_detail.get(n, {}).get("spread", 1.0) > 2.0
    ]:
        if over_deadline():
            break
        try:
            retry = run_spark(
                registry[name].fn, spark, sf1_dir, n_runs=N_RUNS_SF1
            )
        except Exception:  # noqa: BLE001 - keep the first window
            continue
        old = spark_detail[name]
        if (retry["spread"], retry["min"]) < (old["spread"], old["min"]):
            retry["retried"] = True
            spark_detail[name] = retry
            timings[name] = retry["min"]
            _record("spark", name, retry)
    cold: dict[str, float] = {}
    for name in SF1_COLD_QUERIES:
        if over_deadline():
            skip("spark_cold", name)
            continue
        try:
            t0 = time.perf_counter()
            registry[name].fn(spark, sf1_dir).write.mode(
                "overwrite"
            ).format("noop").save()
            cold[name] = round(time.perf_counter() - t0, 3)
            _record("spark_cold", name, cold[name])
        except Exception as e:  # noqa: BLE001
            errors[f"spark_cold:{name}"] = _err(e)
            _record("error", f"spark_cold:{name}", _err(e))
    # a ratio is only as trustworthy as its noisiest side: flag any
    # pair where either engine's window spread exceeds 2x
    unstable = sorted(
        n
        for n in set(spark_detail) | set(duck_detail)
        if max(
            spark_detail.get(n, {}).get("spread", 1.0),
            duck_detail.get(n, {}).get("spread", 1.0),
        )
        > 2.0
    )
    out = {
        "replicas_of_sf0.1": SF1_REPLICAS,
        "table_replica_overrides": SF1_TABLE_REPLICAS,
        "free_disk_gb_at_start": round(free0 / 1024**3, 1),
        "queries": timings,
        "duckdb": duck,
        "spark_detail": spark_detail,
        "duckdb_detail": duck_detail,
        "unstable": unstable,
        "ratio": {
            n: round(timings[n] / duck[n], 2)
            for n in duck
            if duck[n] > 0 and n in timings
            and n not in SF1_TWIN_EXCLUDED
        },
        "ratio_floor_adjusted": {
            n: round(max(timings[n] - floor_s, 0.0) / duck[n], 2)
            for n in duck
            if duck[n] > 0 and n in timings
            and n not in SF1_TWIN_EXCLUDED
        },
        # measured but aggregate-excluded (twin denominator, see
        # SF1_TWIN_EXCLUDED): the honest number, outside the averages
        "twin_ratio": {
            n: round(max(timings[n] - floor_s, 0.0) / duck[n], 2)
            for n in SF1_TWIN_EXCLUDED
            if n in duck and duck[n] > 0 and n in timings
        },
        "cold_sec": cold,
        "cold_duckdb_sec": cold_duck,
        "spark_only": {
            n: timings[n] for n in SF1_SPARK_ONLY if n in timings
        },
        "sql_overrides": sorted(
            n for n in _sf1_sql_overrides() if n in duck
        ),
        "twin_excluded": SF1_TWIN_EXCLUDED,
        # include sf0.1-only benched rows too (r15: the prefixfilter /
        # dq_referential class is annotated but absent from the sf1
        # section, and the adjudication report reads annotations from
        # this record)
        "annotations": {
            n: note
            for n, note in SF1_ANNOTATIONS.items()
            if n in timings or n in duck or n in HEADLINE
        },
        "n_runs": N_RUNS_SF1,
    }
    # pin the pair set the sf1 aggregates are computed over (verdict
    # item 7: like-for-like round-over-round comparison)
    import hashlib

    out["pairs_md5"] = hashlib.md5(
        ",".join(sorted(out["ratio_floor_adjusted"])).encode()
    ).hexdigest()[:10]
    if skipped_deadline:
        out["deadline_skipped"] = skipped_deadline
    if skipped_recheck:
        out["deadline_skipped_recheck"] = skipped_recheck
    if covered:
        out["n_covered_by_prior_runs"] = len(covered)
    if errors:
        out["errors"] = errors
    return out


def sf1_main(
    sf_dir: str,
    out_path: str,
    deadline_s: float | None = None,
    run_id: str | None = None,
) -> None:
    """Entry point for the sf1 section's isolated subprocess (fresh JVM;
    see main() for why). Writes the bench_sf1 dict as JSON to out_path;
    stdout stays silent so the parent's driver contract is untouched.

    ``deadline_s`` is the wall budget measured from THIS entry point
    (it covers session startup, warmup, first-time sf1 synthesis and
    the measurement passes): bench_sf1 degrades per-query as it nears
    and the result file is ALWAYS written — the parent should never
    need its subprocess-timeout kill."""
    deadline = (
        time.monotonic() + deadline_s if deadline_s is not None else None
    )
    host_start = _host_telemetry()
    # resume-aware ordering (r15 verdict item 2): the parent passes the
    # already-covered pair names of the accumulated same-tree record
    covered = {
        n
        for n in os.environ.get("SPARK_GRAFT_SF1_COVERED", "").split(",")
        if n
    }
    registry = build_registry()
    # the parent stopped its session before spawning us, so its scratch
    # dirs are dead; prune BEFORE creating our own session (age guard
    # kept: never touch dirs of unrelated live Spark processes)
    _clean_tmp(prune_spark_dirs=True)
    spark = get_spark("etl-verkada-spark-bench-sf1")
    # same warmup + floor protocol as the sf0.1 section
    registry["agg_count"].fn(spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()
    for _ in range(4):
        spark.range(1).write.mode("overwrite").format("noop").save()
    floor_s = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1).write.mode("overwrite").format("noop").save()
        floor_s = min(floor_s, time.perf_counter() - t0)
    floor_s = round(floor_s, 3)
    try:
        res = bench_sf1(
            spark, registry, sf_dir, floor_s, deadline=deadline,
            run_id=run_id, covered=covered,
        )
    except Exception as e:  # noqa: BLE001 - report, never crash silently
        # _err already leads with the class name — no second prefix
        # (ADVICE r13: "ValueError: ValueError: ..." wasted line bytes)
        res = {"error": _err(e)}
    res["floor_s_subprocess"] = floor_s
    res["host_start"] = host_start
    res["host_end"] = _host_telemetry()
    if deadline_s is not None:
        res["deadline_s"] = round(deadline_s, 1)
    with open(out_path, "w") as f:
        json.dump(res, f)


#: whole-bench wall budget (seconds). The driver kills the bench
#: process at an unpublished timeout — round 9's record came back
#: rc:124 with the sf1 ratios lost because sf0.1 (~12 min) + a 55-min
#: sf1 subprocess outran it, while rounds 1-6 (shorter totals)
#: returned rc:0. 45 min keeps the WHOLE run (sf0.1 + sf1 + final
#: line) inside any plausible 1-hour budget with margin; the sf1
#: section sizes itself to what remains and degrades per-query.
BENCH_BUDGET_S = 2700.0


def main() -> None:
    t_start = time.monotonic()
    budget = float(
        os.environ.get("SPARK_GRAFT_BENCH_BUDGET", str(BENCH_BUDGET_S))
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    registry = build_registry()
    # drop scratch left by prior rounds (DuckDB spill temp, dead Spark
    # local dirs) before any timing — stale files were half the r5
    # ENOSPC story. Spark-dir pruning is ONLY safe here, before this
    # process creates its session (see _clean_tmp).
    _clean_tmp(prune_spark_dirs=True)
    host_start = _host_telemetry()
    spark = get_spark("etl-verkada-spark-bench")

    # JVM/codegen warmup on an off-headline query, then several noop
    # jobs: a single warmup under-trains the JIT, and the first headline
    # query (plus the floor itself) absorbs the remainder — measured
    # r3->r4 as a 3x floor swing and a 2.7x phantom agg_groupby
    # regression that vanished in isolation.
    registry["agg_count"].fn(spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()
    for _ in range(4):
        spark.range(1).write.mode("overwrite").format("noop").save()

    # fixed per-query floor, TWO probes (r11 — the r10 record's 1-row
    # probe measured 0.025 s while the CHEAPEST real headline query was
    # 0.152 s, so "floor-adjusted" ratios at sf0.1 still mostly priced
    # harness fixed cost, not plans):
    # * floor_1row — plan + schedule + noop-commit a single-stage 1-row
    #   range job: the absolute lower bound, kept for cross-round
    #   comparability;
    # * floor (used for adjustment) — the same min-of-5 over a REAL
    #   minimal query: scan the 5-row region parquet through the
    #   catalog, one hash aggregate, noop sink. Two stages, a parquet
    #   reader, codegen, an exchange — the fixed machinery EVERY
    #   headline query pays before touching data. DuckDB's side is not
    #   floor-adjusted at all (its fixed cost stays in its timings), so
    #   the comparison remains conservative.
    from etl_verkada_spark.catalog import table as _cat_table

    def measure_floor_1row(n: int = 5) -> float:
        best = float("inf")
        for _ in range(n):
            t0 = time.perf_counter()
            spark.range(1).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        return best

    def measure_floor(n: int = 5) -> float:
        from pyspark.sql import functions as _F

        best = float("inf")
        for _ in range(n):
            t0 = time.perf_counter()
            _cat_table(spark, sf_dir, "region").groupBy().agg(
                _F.count(_F.lit(1)).alias("n")
            ).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        return best

    floor_1row_s = measure_floor_1row()
    floor_s = measure_floor()

    timings: dict[str, float] = {}
    spark_detail: dict[str, dict] = {}
    for name in HEADLINE:
        spark_detail[name] = run_spark(registry[name].fn, spark, sf_dir)
        timings[name] = spark_detail[name]["min"]

    # floor re-measured at full steady state; keep the smaller — the
    # floor is a LOWER bound on fixed overhead, so the min is the
    # honest estimate (an inflated floor flatters every ratio).
    floor_s = round(min(floor_s, measure_floor()), 3)
    floor_1row_s = round(min(floor_1row_s, measure_floor_1row()), 3)

    duck: dict[str, float] = {}
    duck_detail: dict[str, dict] = {}
    canary: dict = {}
    try:
        import duckdb

        con = _duck_connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        for name in HEADLINE:
            sql = registry[name].oracle
            if sql:
                duck_detail[name] = run_duckdb(con, sql)
                duck[name] = duck_detail[name]["min"]
        # warm canary (r12 verdict item 1): re-time ONE already-warm
        # pair at section end. Its drift vs the recorded min is the
        # in-record host-bias detector — Spark drifting while DuckDB
        # holds (the r12 signature: +30-400% vs +5%) marks the run
        # contended, not the code regressed.
        cq = "flagship_flat"
        if timings.get(cq) and duck.get(cq):
            c_s = run_spark(registry[cq].fn, spark, sf_dir, n_runs=3)
            c_d = run_duckdb(con, registry[cq].oracle, n_runs=3)
            canary = {
                "q": cq,
                "spark_drift": round(c_s["min"] / timings[cq], 2),
                "duckdb_drift": round(c_d["min"] / duck[cq], 2),
            }
    except Exception:
        pass

    # ratio with the fixed per-job floor subtracted: the scale signal
    # (does the PLAN do more work than DuckDB's) as opposed to the raw
    # ratio (which at sub-second local scale mostly measures JVM job
    # orchestration). Clamped at 0 for queries at the floor.
    ratios = {
        n: round(max(timings[n] - floor_s, 0.0) / duck[n], 2)
        for n in duck
        if duck[n] > 0
    }

    headline = {
        "metric": (
            f"headline query wall-clock, noop sink, min-of-{N_RUNS}"
        ),
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "duckdb": duck,
        "spark_fixed_overhead_sec": floor_s,
        "spark_fixed_overhead_1row_sec": floor_1row_s,
        "ratio_floor_adjusted": ratios,
        "sf1": "pending",
        # tagged so a first-JSON-line consumer cannot mistake this for
        # the final record (ADVICE r5 #3)
        "partial": True,
    }
    # the sf1 section runs for tens of minutes; print (and flush) a
    # COMPACT headline line FIRST so a harness timeout mid-sf1 still
    # records a parseable sf0.1 record — the final line supersedes it.
    host = {
        "load1": [host_start.get("load1"), _host_telemetry().get("load1")],
        "mem_gb": [
            host_start.get("mem_avail_gb"),
            _host_telemetry().get("mem_avail_gb"),
        ],
    }
    if canary:
        host["canary"] = canary
    print(
        compact_stdout_line(
            headline["value"], sf, timings, floor_s, duck, None,
            os.environ.get("SPARK_GRAFT_BENCH_DETAIL", "/tmp/bench_full.json"),
            partial=True,
            floor_1row_s=floor_1row_s,
            host=host,
        ),
        flush=True,
    )

    # sf1 crossover section (disable with SPARK_GRAFT_SF1=0); never let
    # it break the headline JSON line. It runs in a FRESH SUBPROCESS
    # (own JVM): the r6 full run lost 31 of 34 sf1 queries because one
    # heavy query wedged the then-1000-stage-old shared JVM and every
    # later task died with "Lost task" — fault isolation plus a clean
    # heap is worth the ~30 s of subprocess warmup.
    # tree identity + accumulated same-tree record, resolved BEFORE the
    # sf1 subprocess so its pair ordering can be resume-aware (r15
    # verdict item 2): pairs with no same-tree measurement yet run
    # first in the child.
    tree_id = _tree_id()
    repo_detail = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)
    prior_record = _load_prior_record(repo_detail, tree_id)
    prior_runs = prior_record.get("runs") or []
    # cross-run merging additionally requires same sf AND same cpus
    # (r15 verdict item 2 / what's-wrong #4: the r15 working-tree
    # record min-merged a 32-core and an 8-core run of the same sf).
    # Runs that predate the cpus field never merge (tree_id changes
    # with bench.py anyway, so none exist in practice).
    merge_runs = [
        r
        for r in prior_runs
        if r.get("sf") == sf and r.get("cpus") == cpus
    ]
    covered_pairs = sorted(
        set(_min_union([r.get("sf1_queries") for r in merge_runs]))
        & set(_min_union([r.get("sf1_duckdb") for r in merge_runs]))
    )

    sf1: dict | None = None
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
        spark.stop()  # free the 16g heap + shuffle dirs for the child
        import subprocess
        import tempfile
        import uuid

        # the sf1 section gets whatever the whole-bench budget has
        # left, minus margin to assemble + print the final line; the
        # child degrades per-query against this deadline and writes
        # its result file itself — the subprocess timeout below is a
        # last-resort backstop, not the control mechanism (round 9's
        # control-by-kill lost the ratios).
        elapsed = time.monotonic() - t_start
        deadline_s = min(
            budget - elapsed - 120.0,
            float(os.environ.get("SPARK_GRAFT_SF1_TIMEOUT", "3300")),
        )
        run_id = uuid.uuid4().hex[:12]
        # stale-progress guard, belt half (ADVICE r9): a file from a
        # previous run must be gone before the child can die early
        try:
            os.unlink(_sf1_progress_path())
        except OSError:
            pass
        out_path = os.path.join(tempfile.gettempdir(), "bench_sf1_result.json")
        try:
            os.unlink(out_path)
        except OSError:
            pass
        if deadline_s < 240.0:
            sf1 = {
                "skipped": "no_time",
                "budget_s": budget,
                "elapsed_before_sf1_s": round(elapsed, 1),
            }
        else:
            try:
                child_env = dict(os.environ)
                child_env["SPARK_GRAFT_SF1_COVERED"] = ",".join(
                    covered_pairs
                )
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--sf1-only",
                     sf_dir, out_path, f"{deadline_s:.0f}", run_id],
                    capture_output=True,
                    text=True,
                    timeout=deadline_s + 180,
                    env=child_env,
                )
                if os.path.exists(out_path):
                    with open(out_path) as f:
                        sf1 = json.load(f)
                else:
                    sf1 = _sf1_from_progress(
                        f"sf1 subprocess rc={proc.returncode}: "
                        f"{proc.stderr[-400:]}",
                        run_id,
                    )
            except Exception as e:  # noqa: BLE001
                sf1 = _sf1_from_progress(f"{type(e).__name__}: {e}", run_id)

    # -- driver contract (r5 verdict #1): the FINAL stdout line must fit
    # the driver's ~4 KB tail capture (BENCH_r02-r05 were parsed:null
    # because the full record outgrew it). Full detail goes to a file;
    # the final line carries the headline numbers + the sf1 SUMMARY.
    host["load1"][1] = _host_telemetry().get("load1")
    host["mem_gb"][1] = _host_telemetry().get("mem_avail_gb")

    # -- cross-run min-intersection (r13 verdict item 6): earlier runs
    # of the IDENTICAL tree (content-hashed) accumulate in the repo
    # detail file; the headline this run emits is the per-pair minimum
    # over the intersection of completed pairs across ALL runs, so the
    # committed stdout record IS the multi-run number the close-note
    # cites. Per-run values stay in the detail under "runs"; a pair is
    # flagged unstable only if it looked unstable in EVERY run (more
    # samples -> fewer false flags, r13 verdict item 5).
    sf1_is_dict = isinstance(sf1, dict)
    cur_run = {
        "sf": sf,
        "cpus": cpus,
        "value": headline["value"],
        "queries": timings,
        "duckdb": duck,
        "floor_s": floor_s,
        "host": host,
        "sf1_queries": sf1.get("queries") if sf1_is_dict else None,
        "sf1_duckdb": sf1.get("duckdb") if sf1_is_dict else None,
        "sf1_unstable": sf1.get("unstable") if sf1_is_dict else None,
    }
    # same-SCALE same-CPUS guard: a smoke run at another sf shares
    # query NAMES with prior sf0.1 runs, and an 8-core scaling run
    # shares names with the 32-core primary — min-merging across either
    # axis mixes configurations (r15 what's-wrong #4), so only
    # same-sf/same-cpus prior runs (merge_runs, resolved above the sf1
    # subprocess) participate; everything else is carried through to
    # the written detail file UNCHANGED (r14 advice).
    other_runs = [r for r in prior_runs if r not in merge_runs]
    runs = merge_runs + [cur_run]
    line_timings, line_duck, line_sf1 = timings, duck, sf1
    if len(runs) > 1:
        m_q = _min_intersect([r.get("queries") for r in runs])
        m_d = _min_intersect([r.get("duckdb") for r in runs])
        if m_q and m_d:
            line_timings, line_duck = m_q, m_d
        # sf1 merge is union-with-min (r15 verdict item 2): each run
        # completes a budget-dependent subset of pairs; the union lets
        # resume-aware runs accumulate full coverage while every entry
        # stays a same-tree/same-config min.
        ms_q = _min_union([r.get("sf1_queries") for r in runs])
        ms_d = _min_union([r.get("sf1_duckdb") for r in runs])
        if ms_q and ms_d:
            line_sf1 = dict(sf1) if sf1_is_dict else {
                "carried_forward": True
            }
            line_sf1["queries"] = ms_q
            line_sf1["duckdb"] = ms_d
            line_sf1["ratio"] = {
                n: round(ms_q[n] / ms_d[n], 2)
                for n in ms_d
                if ms_d[n] > 0 and n in ms_q
                and n not in SF1_TWIN_EXCLUDED
            }
            line_sf1["ratio_floor_adjusted"] = {
                n: round(max(ms_q[n] - floor_s, 0.0) / ms_d[n], 2)
                for n in ms_d
                if ms_d[n] > 0 and n in ms_q
                and n not in SF1_TWIN_EXCLUDED
            }

            def _present(r: dict, n: str) -> bool:
                return n in (r.get("sf1_queries") or {}) or n in (
                    r.get("sf1_duckdb") or {}
                )

            # unstable iff flagged in EVERY run that measured the pair
            # (a pair seen by one run keeps that run's verdict)
            line_sf1["unstable"] = sorted(
                n
                for n in set(ms_q) | set(ms_d)
                if any(_present(r, n) for r in runs)
                and all(
                    n in (r.get("sf1_unstable") or [])
                    for r in runs
                    if _present(r, n)
                )
            )
            import hashlib as _hl

            line_sf1["pairs_md5"] = _hl.md5(
                ",".join(
                    sorted(line_sf1["ratio_floor_adjusted"])
                ).encode()
            ).hexdigest()[:10]
            line_sf1["runs_merged"] = len(runs)
    merged_value = round(sum(line_timings.values()), 3)

    full = {
        **headline,
        "value": merged_value,
        "partial": False,
        "host": host,
        "cpus": cpus,
        "queries_detail": spark_detail,
        "duckdb_detail": duck_detail,
        # carry a prior same-tree sf1 section forward through an
        # sf1-disabled run instead of refusing the write (r15 verdict
        # item 2): the accumulated runs list must keep growing
        "sf1": sf1 if sf1 is not None else prior_record.get("sf1"),
        "tree_id": tree_id,
        "runs": other_runs + runs,
        "runs_merged": len(runs),
    }
    if sf1 is None and prior_record.get("sf1") is not None:
        full["sf1_carried_forward"] = True
    if line_timings is not timings:
        full["merged"] = {
            "queries": line_timings,
            "duckdb": line_duck,
            "sf1": None if line_sf1 is sf1 else {
                "queries": line_sf1.get("queries"),
                "duckdb": line_sf1.get("duckdb"),
                "ratio_floor_adjusted": line_sf1.get(
                    "ratio_floor_adjusted"
                ),
                "unstable": line_sf1.get("unstable"),
            },
        }
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL", "/tmp/bench_full.json"
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(full, f, indent=1)
        # a copy inside the repo survives the sandbox via the driver's
        # end-of-round commit (the /tmp copy does not)
        if _may_write_repo_copy(sf, sf1, prior_record):
            with open(repo_detail, "w") as f:
                json.dump(full, f, indent=1)
    except OSError:
        pass

    print(
        compact_stdout_line(
            merged_value, sf, line_timings, floor_s, line_duck, line_sf1,
            detail_path,
            floor_1row_s=floor_1row_s,
            host=host,
            runs_merged=len(runs) if len(runs) > 1 else None,
            n_current_run=len(timings),
        ),
        flush=True,
    )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--sf1-only":
        sf1_main(
            sys.argv[2],
            sys.argv[3],
            float(sys.argv[4]) if len(sys.argv) > 4 else None,
            sys.argv[5] if len(sys.argv) > 5 else None,
        )
    else:
        main()
