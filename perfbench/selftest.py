"""Self-test of the benchmark on tiny inputs (sf 0.001).

For every workload in BENCHMARK.json it runs ``run.py`` once untraced and
once traced, with the fewest warm passes, and checks that

* the last stdout line has exactly the keys ``correct``, ``attempted``,
  ``failed`` and ``metrics``, with no failed query execution;
* every end-to-end (untraced) and per-layer (traced) metric named in
  BENCHMARK.json is printed, with its unit, and nothing else;
* the traced layers' self times (build, plan, execute, release) fit
  inside the traced pass's wall time;
* the counters each workload is built to exercise are not 0, so a
  counter that silently stops matching (for instance a renamed Spark SQL
  metric) fails here;
* a second traced run on the same seed gives exactly the same counts.

It also checks that ``run.py`` fails, without printing a result, in a
directory holding only BENCHMARK.json and the benchmark's files.

Usage: ``python3 perfbench/selftest.py`` from the repository root.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SELF_TIMES = ("registry.build_s", "plan.plan_s", "execute.exec_s", "checkpoints.release_s")
#: workload -> per-layer metrics that must not read 0 on it
NONZERO = {
    "iterative_build": ("registry.build_jobs", "execute.executor_run_s"),
    "llm_python": ("python.run_s", "python.cold_boot_s", "python.sent_mb",
                   "python.recv_mb", "sink.files", "sink.output_mb"),
}
#: counts that repeat exactly across runs of the same seed
REPEATABLE = ("registry.build_jobs", "checkpoints.live_rdds")


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "0",
           "--trace", str(trace), "--sf", "0.001"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(proc, expected: dict[str, str], what: str) -> dict:
    if proc.returncode != 0:
        raise SystemExit(f"{what}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        report = json.loads(proc.stdout.strip().splitlines()[-2])["report"]
        problems.append(f"failures {report['failures']}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != expected:
        problems.append(f"metrics {got} != {expected}")
    if problems:
        raise SystemExit(f"{what}: " + "; ".join(problems))
    return {k: v["value"] for k, v in result["metrics"].items()}


def check_fails_alone() -> None:
    """run.py must refuse to run without the package it measures."""
    alone = os.path.join(ROOT, ".perfbench", "selftest-alone")
    shutil.rmtree(alone, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(alone, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), alone)
    try:
        proc = run("iterative_build", 0, cwd=alone)
    finally:
        shutil.rmtree(alone, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        raise SystemExit("run.py succeeded without the etl_verkada_spark package")
    print("ok  fails without the package")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    check_fails_alone()
    for w in spec["workloads"]:
        name = w["name"]
        e2e = check_result(run(name, 0), end_to_end, f"{name} untraced")
        if e2e["ok_frac"] != 1.0:
            raise SystemExit(f"{name}: ok_frac {e2e['ok_frac']}")
        layers = check_result(run(name, 1), per_layer, f"{name} traced")
        spent = sum(layers[k] for k in SELF_TIMES)
        if spent > layers["trace.pass_s"]:
            raise SystemExit(
                f"{name}: layer self times {spent:.3f} s exceed the traced "
                f"pass wall time {layers['trace.pass_s']:.3f} s")
        zero = [k for k in NONZERO.get(name, ()) if not layers[k] > 0]
        if zero:
            raise SystemExit(f"{name}: per-layer metrics read 0: {zero}")
        again = check_result(run(name, 1), per_layer, f"{name} traced again")
        counts = {k: (layers[k], again[k]) for k in REPEATABLE}
        if any(a != b for a, b in counts.values()):
            raise SystemExit(f"{name}: counts differ between two runs: {counts}")
        print(f"ok  {name}: pass_s={e2e['pass_s']:.2f} layers={spent:.2f}"
              f"/{layers['trace.pass_s']:.2f} s, repeated counts {counts}")


if __name__ == "__main__":
    main()
