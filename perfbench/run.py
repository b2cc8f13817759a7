"""End-to-end and per-layer benchmark of the etl_verkada_spark registry.

One run = one workload, one seed, one fresh driver process:

1. set up once from process start (``session.get_spark``, which launches
   the JVM, and ``registry.build_registry``), then ``SETUPS`` more times
   in the running JVM (a new SparkSession and a fresh import of the
   package each time); then derive the seeded input tables
   (``datagen.py``), outside any set-up timing;
2. one cold pass over the workload's queries in their declared order
   (the first pass of the session, what every scheduled ETL invocation
   pays); it collects every result and compares it with its DuckDB
   oracle through ``etl_verkada_spark.compare``, outside the pass time;
3. ``WARMUP_PASSES`` untimed warm-up passes, then warm passes until
   ``--seconds`` have been measured.

On a virtual machine whose host also runs other guests, a run is slower
while the others are busy, in two ways the benchmark measures and takes
out of the end-to-end times:

* the hypervisor holds runnable CPUs back ("steal" time in
  ``/proc/stat``). Each timed interval records its wall time and the
  stolen share of its CPU demand, and its net time is
  ``wall * (1 - stolen / (busy + stolen))``;
* the CPUs run slower without being held back (shared cores and memory).
  Before every pass, and once after the last, the benchmark times a fixed
  memory-bound reference task that the program does not touch
  (``reference_task_s``); the end-to-end times are net times scaled by
  ``REFERENCE_S / median(reference task times of the run)``, i.e. to the
  speed of a host on which the task takes ``REFERENCE_S``.

A later pass runs every query of the workload once, in an order permuted
by the seed. Each query is timed at the calls into the layers' public functions:
``QuerySpec.fn`` (build), ``queryExecution().executedPlan()`` (plan), the
noop or parquet action (execute) and ``checkpoints.release`` (release).

With ``--trace 1`` warm passes alternate between traced and untraced;
traced passes tag every job with a job group per layer and read Spark's
status stores afterwards (``sparkstatus.py``). The last stdout line is the
result JSON: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The full report (environment, table sizes, per-query
times) is printed on the line before and saved under
``.perfbench/results/``.

Usage::

    python3 perfbench/run.py --workload llm_python --seed 1 --seconds 10 --trace 0
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import importlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

import numpy as np

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: workload -> (queries of one pass, queries whose result goes to parquet)
WORKLOADS: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {
    "iterative_build": (
        ("graph_label_propagation", "graph_bfs_levels"),
        (),
    ),
    "llm_python": (
        (
            "llm_kmeans_assign",
            "llm_embed_rp",
            "mm_binary_stats",
            "udf_pandas",
            "llm_sim_search",
            "mm_feature_extract",
        ),
        ("mm_feature_extract",),
    ),
}
SETUPS = 5
WARMUP_PASSES = 1
MIN_WARM_PASSES = 2
DRIVER_MEMORY = "2g"
MB = 2**20
#: Time of ``reference_task_s`` on an idle 4-vCPU virtual machine; the
#: end-to-end times are scaled to that speed.
REFERENCE_S = 0.026


def default_cpus() -> int:
    """Leave one core of the host free, and use at most three task slots."""
    return max(1, min(3, (os.cpu_count() or 2) - 1))


def cpu_clock() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of this machine since boot, over all CPUs.

    ``stolen`` is time a runnable CPU waited while the hypervisor ran
    other guests; ``busy`` is time the CPUs ran this machine's work.
    """
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields
    hz = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / hz, steal / hz


class Interval:
    """Wall time of an interval and the share of its CPU demand stolen."""

    def __init__(self):
        self.clock = cpu_clock()
        self.start = time.perf_counter()

    def stop(self, exclude: float = 0.0) -> dict:
        """Wall time so far, less ``exclude`` seconds spent on the benchmark's
        own checks, and the steal share of the whole interval."""
        wall = time.perf_counter() - self.start - exclude
        busy, stolen = (b - a for a, b in zip(self.clock, cpu_clock()))
        share = stolen / (busy + stolen) if busy + stolen > 0 else 0.0
        return {"wall_s": wall, "steal_share": share, "net_s": wall * (1.0 - share)}


def reference_task_s() -> float:
    """Best of five timings of a fixed memory-bound task: copy a 64 MiB
    array and add to every element. Its time tracks how fast this machine
    runs at the moment, whatever the program under test does."""
    a = np.ones(8 * 2**20)
    best = float("inf")
    for _ in range(5):
        t = time.perf_counter()
        b = a.copy()
        b += 1.0
        best = min(best, time.perf_counter() - t)
    return best


def tree_id() -> str:
    """Content hash of the program and benchmark sources."""
    h = hashlib.sha1()
    for top in ("etl_verkada_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:12]


class PeakRss(threading.Thread):
    """Peak RSS of the JVM plus the Python workers it forks.

    The JVM's part is its kernel-kept high-water mark (``VmHWM``), exact
    however short the peak. The workers' part is the largest summed RSS of
    the JVM's descendants, sampled every ``interval`` seconds.
    """

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.workers_mb = 0.0
        self._done = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def _children(pid: int) -> list[int]:
        out: list[int] = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out += [int(c) for c in f.read().split()]
        except OSError:
            pass
        return out

    def _workers_rss_mb(self) -> float:
        total, todo = 0, self._children(self.jvm_pid)
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
            todo += self._children(pid)
        return total / MB

    def run(self) -> None:
        while not self._done.wait(self.interval):
            self.workers_mb = max(self.workers_mb, self._workers_rss_mb())

    def stop(self) -> float:
        """Stop sampling; call while the JVM is still running."""
        self._done.set()
        self.join()
        with open(f"/proc/{self.jvm_pid}/status") as f:
            hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return hwm_kb / 1024 + self.workers_mb


def median(values):
    return statistics.median(values) if values else 0.0


class Bench:
    def __init__(self, args):
        self.args = args
        self.queries, self.sinks = WORKLOADS[args.workload]
        self.work = os.path.join(
            ROOT, ".perfbench", "work", f"{args.workload}-s{args.seed}-p{os.getpid()}"
        )
        self.inputs = os.path.join(self.work, "inputs")
        self.sink_dir = os.path.join(self.work, "sink")
        self.attempted = 0
        self.failures: list[str] = []
        self.reference_s: list[float] = []
        self.spark = None

    # -- environment -------------------------------------------------------

    def pin_environment(self) -> dict:
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        for d in (tmp, local, self.sink_dir):
            os.makedirs(d, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.args.cpus)
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
        import tempfile

        tempfile.tempdir = None
        return {
            "SPARK_GRAFT_CPUS": self.args.cpus,
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.relpath(local, ROOT),
            "nproc": os.cpu_count(),
            "loadavg_start": os.getloadavg(),
            "cpu_clock_start": cpu_clock(),
            "tree_id": tree_id(),
            "sf": self.args.sf,
            "seed": self.args.seed,
            "workload": self.args.workload,
            "trace": self.args.trace,
        }

    # -- set-up ------------------------------------------------------------

    def setup_once(self) -> dict:
        """One set-up: a session and a freshly imported, built registry."""
        if self.spark is not None:
            self.spark.stop()
        for mod in [m for m in sys.modules if m.startswith("etl_verkada_spark")]:
            del sys.modules[mod]
        interval = Interval()
        t0 = time.perf_counter()
        session = importlib.import_module("etl_verkada_spark.session")
        self.spark = session.get_spark("perfbench")
        t1 = time.perf_counter()
        registry = importlib.import_module("etl_verkada_spark.registry")
        self.registry = registry.build_registry()
        t2 = time.perf_counter()
        return {**interval.stop(), "session_s": t1 - t0, "registry_s": t2 - t1,
                "since_process_start_s": t2 - T0}

    # -- passes ------------------------------------------------------------

    def order(self, label: str) -> list[str]:
        """The workload's queries in the order the seed gives this pass.

        The cold pass keeps the declared order: whichever query runs first
        pays most of the JIT and codegen warm-up, so a permuted cold pass
        would move with the seed instead of with the program.
        """
        names = list(self.queries)
        if label != "cold":
            random.Random(f"{self.args.seed}:{label}").shuffle(names)
        return names

    def action(self, name: str, df) -> None:
        if name in self.sinks:
            df.write.mode("overwrite").parquet(os.path.join(self.sink_dir, name))
        else:
            df.write.mode("overwrite").format("noop").save()

    def run_pass(self, label: str, traced: bool, check: dict | None = None) -> dict:
        """One timed pass; returns its wall time and per-query layer times.

        With ``check`` (the cold pass) every result is collected with
        ``toPandas()`` instead of written, and compared with its DuckDB
        oracle; the comparison is left out of the pass time and its
        findings go into ``check``.
        """
        sc, checkpoints = self.spark.sparkContext, self.checkpoints
        gc.collect()
        sc._jvm.System.gc()
        per_query: dict[str, dict[str, float]] = {}
        held_mb = checking = 0.0
        self.reference_s.append(reference_task_s())
        interval = Interval()
        for name in self.order(label):
            self.attempted += 1
            tag = (lambda layer: sc.setJobGroup(f"{label}|{name}|{layer}", "perfbench")) \
                if traced else (lambda layer: None)
            try:
                tag("build")
                a = time.perf_counter()
                df = self.registry[name].fn(self.spark, self.inputs)
                b = time.perf_counter()
                tag("plan")
                df._jdf.queryExecution().executedPlan()
                c = time.perf_counter()
                tag("execute")
                if check is None:
                    self.action(name, df)
                else:
                    pdf = df.toPandas()
                d = time.perf_counter()
                if traced:
                    held_mb = max(held_mb, self.status.checkpoint_state()[1])
                tag("release")
                d2 = time.perf_counter()
                checkpoints.release(df)
                e = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - counted as a failure
                self.failures.append(f"{label}/{name}: {exc!r}"[:500])
                traceback.print_exc(file=sys.stderr)
                continue
            per_query[name] = {"build_s": b - a, "plan_s": c - b,
                               "exec_s": d - c, "release_s": e - d2}
            if check is not None:
                self.check(name, pdf, check)
                checking += time.perf_counter() - e
        out = {"label": label, **interval.stop(exclude=checking), "queries": per_query}
        if traced:
            sc.setJobGroup("untraced", "perfbench")
            out.update(held_mb=held_mb, live_rdds=self.status.checkpoint_state()[0])
        return out

    def open_oracle(self):
        """A DuckDB connection with a view per input table."""
        import duckdb

        catalog = importlib.import_module("etl_verkada_spark.catalog")
        con = duckdb.connect()
        con.execute(f"SET threads={self.args.cpus}")
        for t in catalog.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(self.inputs, t)}.parquet'"
            )
        return con

    def check(self, name: str, pdf, found: dict) -> None:
        """Compare one collected result with its DuckDB oracle."""
        spec = self.registry[name]
        found["rows_out"][name] = len(pdf)
        found["user_mb"][name] = float(pdf.memory_usage(deep=True).sum()) / MB
        try:
            if spec.oracle is None:
                problems = [] if len(pdf) else ["no rows"]
            else:
                times = []
                for _ in range(3):
                    o = time.perf_counter()
                    opdf = self.oracle.execute(spec.oracle).df()
                    times.append(time.perf_counter() - o)
                found["oracle_s"][name] = median(times)
                problems = self.compare.compare_frames(pdf, opdf)
        except Exception as exc:  # noqa: BLE001 - counted as a failure
            traceback.print_exc(file=sys.stderr)
            problems = [repr(exc)]
        if problems:
            self.failures.append(f"check/{name}: {'; '.join(problems)}"[:500])

    # -- the run -----------------------------------------------------------

    def run(self) -> tuple[dict, dict]:
        env = self.pin_environment()
        try:
            report, counters, peak_rss = self.measure()
        finally:
            self.teardown()
        env["loadavg_end"] = os.getloadavg()
        busy, stolen = (b - a for a, b in zip(env.pop("cpu_clock_start"), cpu_clock()))
        env["busy_during_run_s"], env["stolen_during_run_s"] = busy, stolen
        report["env"] = env
        if self.args.trace:
            metrics = layer_metrics(report, counters, self.args.cpus, self.sinks)
        else:
            metrics = end_to_end_metrics(report, peak_rss, self.attempted)
        return report, metrics

    def measure(self) -> tuple[dict, dict | None, float]:
        """Set-ups and passes; returns the report, the traced counters and
        the peak RSS. Leaves the session running."""
        from pyspark import SparkContext

        import datagen

        setups = [self.setup_once() for _ in range(1 + SETUPS)]
        t = time.perf_counter()
        self.tables = datagen.generate(self.inputs, self.args.seed, self.args.sf)
        inputs_s = time.perf_counter() - t
        rss = None if self.args.trace else PeakRss(SparkContext._gateway.proc.pid)
        if rss:
            rss.start()
        self.checkpoints = importlib.import_module("etl_verkada_spark.checkpoints")
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.args.trace:
            self.status = importlib.import_module("sparkstatus").StatusReader(self.spark)
        self.compare = importlib.import_module("etl_verkada_spark.compare")
        self.oracle = self.open_oracle()
        check: dict[str, dict] = {"rows_out": {}, "user_mb": {}, "oracle_s": {}}
        cold = self.run_pass("cold", traced=bool(self.args.trace), check=check)
        self.oracle.close()
        for i in range(WARMUP_PASSES):
            self.run_pass(f"warmup{i}", traced=False)
        warm: list[dict] = []
        began = time.perf_counter()
        while (
            len(warm) < MIN_WARM_PASSES
            or time.perf_counter() - began < self.args.seconds
        ):
            traced = bool(self.args.trace) and len(warm) % 2 == 0
            warm.append(self.run_pass(f"warm{len(warm)}", traced))
        self.reference_s.append(reference_task_s())
        counters = None
        if self.args.trace:
            groups = [
                f"{p['label']}|{q}|{layer}"
                for p in [cold] + warm if "live_rdds" in p
                for q in self.queries
                for layer in ("build", "plan", "execute", "release")
            ]
            counters = self.status.collect(groups)
        report = {
            "tables": self.tables,
            "inputs_s": inputs_s,
            "reference_s": self.reference_s,
            "setups": setups,
            "cold": cold,
            "warm": warm,
            "check": check,
            "sink": self.sink_sizes(),
            "failures": self.failures,
        }
        return report, counters, rss.stop() if rss else 0.0

    def sink_sizes(self) -> dict:
        out = {}
        for name in self.sinks:
            files = [
                os.path.join(d, f)
                for d, _, fs in os.walk(os.path.join(self.sink_dir, name))
                for f in fs
                if f.endswith(".parquet")
            ]
            out[name] = {"files": len(files),
                         "mb": sum(os.path.getsize(f) for f in files) / MB}
        return out

    def teardown(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


# -- metrics ---------------------------------------------------------------


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end_metrics(report: dict, peak_rss_mb: float, attempted: int) -> dict:
    scale = REFERENCE_S / median(report["reference_s"])
    return {
        "setup_s": _metric(scale * median([s["net_s"] for s in report["setups"][1:]]), "s"),
        "cold_pass_s": _metric(scale * report["cold"]["net_s"], "s"),
        "pass_s": _metric(scale * median([p["net_s"] for p in report["warm"]]), "s"),
        "peak_rss_mb": _metric(peak_rss_mb, "MB"),
        "ok_frac": _metric(1.0 - len(report["failures"]) / attempted, "ratio"),
    }


def layer_metrics(report: dict, counters: dict, cpus: int, sinks) -> dict:
    """Per-layer metrics: medians over the traced warm passes.

    The execute counters (stages, tasks, task times, shuffle, spill) sum
    every Spark job of the pass, whether the action started it or the
    query's callable did while building; ``registry.build_jobs`` is the
    share of the jobs started while building, and ``slot_idle_frac``
    compares the task time with the wall time of build plus execute.
    """
    traced = [p for p in report["warm"] if "live_rdds" in p]
    plain = [p for p in report["warm"] if "live_rdds" not in p]
    check = report["check"]
    rows_out = sum(check["rows_out"].values()) or 1

    def layer_sum(p, layer, key):
        return sum(counters[f"{p['label']}|{q}|{layer}"].get(key, 0.0)
                   for q in p["queries"])

    def all_layers(p, key):
        return sum(layer_sum(p, layer, key)
                   for layer in ("build", "plan", "execute", "release"))

    def times(p, key, names=None):
        return sum(t[key] for q, t in p["queries"].items()
                   if names is None or q in names)

    def per_pass(fn):
        return median([fn(p) for p in traced])

    pass_s = per_pass(lambda p: p["wall_s"])
    net_s = per_pass(lambda p: p["net_s"])
    plain_s = median([p["net_s"] for p in plain]) or net_s
    exec_s = per_pass(lambda p: times(p, "exec_s"))
    idle = per_pass(lambda p: 1.0 - all_layers(p, "executor_run_s")
                    / ((times(p, "build_s") + times(p, "exec_s")) * cpus))
    scan_rows = per_pass(lambda p: all_layers(p, "scan_rows"))
    sink_mb = sum(s["mb"] for s in report["sink"].values())
    user_mb = sum(check["user_mb"].get(q, 0.0) for q in sinks)
    duck_s = sum(check["oracle_s"].values())
    setups = report["setups"]
    cold = report["cold"]
    m = {
        "session.start_s": _metric(median([s["session_s"] for s in setups[1:]]), "s"),
        "session.first_setup_s": _metric(setups[0]["since_process_start_s"], "s"),
        "registry.import_s": _metric(median([s["registry_s"] for s in setups[1:]]), "s"),
        "inputs.derive_s": _metric(report["inputs_s"], "s"),
        "registry.build_s": _metric(per_pass(lambda p: times(p, "build_s")), "s"),
        "registry.build_jobs": _metric(per_pass(lambda p: layer_sum(p, "build", "jobs")), "count"),
        "registry.build_share": _metric(
            per_pass(lambda p: times(p, "build_s") / p["wall_s"]), "ratio"),
        "plan.plan_s": _metric(per_pass(lambda p: times(p, "plan_s")), "s"),
        "plan.cold_plan_s": _metric(times(cold, "plan_s"), "s"),
        "catalog.scan_rows": _metric(scan_rows, "count"),
        "catalog.scan_mb": _metric(per_pass(lambda p: all_layers(p, "scan_mb")), "MB"),
        "catalog.rows_scanned_per_row_out": _metric(scan_rows / rows_out, "ratio"),
        "execute.exec_s": _metric(exec_s, "s"),
        "execute.slot_idle_frac": _metric(idle, "ratio"),
    }
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
                      ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
                      ("spill_mb", "MB")):
        m[f"execute.{key}"] = _metric(per_pass(lambda p, k=key: all_layers(p, k)), unit)
    for key, unit in (("run_s", "s"), ("boot_s", "s"), ("init_s", "s"),
                      ("sent_mb", "MB"), ("recv_mb", "MB")):
        m[f"python.{key}"] = _metric(
            per_pass(lambda p, k=key: all_layers(p, f"python_{k}")), unit)
    m["python.cold_boot_s"] = _metric(all_layers(cold, "python_boot_s"), "s")
    m.update({
        "sink.write_s": _metric(per_pass(lambda p: times(p, "exec_s", sinks)), "s"),
        "sink.output_mb": _metric(sink_mb, "MB"),
        "sink.files": _metric(sum(s["files"] for s in report["sink"].values()), "count"),
        "sink.bytes_per_user_byte": _metric(sink_mb / user_mb if user_mb else 0.0, "ratio"),
        "checkpoints.live_rdds": _metric(max(p["live_rdds"] for p in traced), "count"),
        "checkpoints.storage_mb": _metric(max(p["held_mb"] for p in traced), "MB"),
        "checkpoints.release_s": _metric(per_pass(lambda p: times(p, "release_s")), "s"),
        "oracle.duckdb_s": _metric(duck_s, "s"),
        "oracle.vs_duckdb": _metric(plain_s / duck_s if duck_s else 0.0, "ratio"),
        "trace.pass_s": _metric(pass_s, "s"),
        "trace.overhead_frac": _metric(net_s / plain_s - 1.0, "ratio"),
        "trace.passes": _metric(len(traced), "count"),
        "host.steal_share": _metric(per_pass(lambda p: p["steal_share"]), "ratio"),
        "host.reference_s": _metric(median(report["reference_s"]), "s"),
    })
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description="etl_verkada_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01,
                    help="scale factor of the generated inputs")
    args = ap.parse_args()
    args.cpus = default_cpus()
    if not os.path.isfile(os.path.join(ROOT, "etl_verkada_spark", "registry.py")):
        print(f"no etl_verkada_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    bench = Bench(args)
    report, metrics = bench.run()
    report["metrics"] = metrics
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": not report["failures"],
        "attempted": bench.attempted,
        "failed": len(report["failures"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
