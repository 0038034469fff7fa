"""Self-tests of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/selftest.py

1. A smoke run of every workload, untraced and traced, on the sf0.001
   tables and a tiny genome: the last stdout line has exactly the keys
   of the result contract and every metric BENCHMARK.json names, with
   its unit.
2. The traced runs' spans nest inside their parents, and every self
   time is >= 0.
3. A deliberately wrong output and a raising query are counted as
   failed, on every call, and the raising query stays in every pass.
4. In a directory holding only BENCHMARK.json and the benchmark, the
   benchmark exits non-zero without printing a result.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import nesting_errors, self_times  # noqa: E402

RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {msg}")
    print(f"ok: {msg}", flush=True)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_bench(workload: str, trace: int, cwd: str = ROOT) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", str(trace), "--genome", "2,2000"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout


def test_smoke(bench: dict) -> None:
    for w in bench["workloads"]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            rc, out = run_bench(w["name"], trace)
            check(rc == 0, f"{w['name']} trace={trace} exits 0")
            result = json.loads(out.strip().splitlines()[-1])
            check(set(result) == RESULT_KEYS, f"{w['name']} trace={trace} result keys")
            check(result["correct"] and result["attempted"] >= 1,
                  f"{w['name']} trace={trace} outputs correct")
            want = {m["name"]: m["unit"] for m in bench[section]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            check(got == want, f"{w['name']} trace={trace} prints every {section} metric")
            if trace:
                path = os.path.join(HERE, "out", f"{w['name']}-seed1-trace1.json")
                with open(path) as fh:
                    spans = json.load(fh)["spans"]
                check(spans and not nesting_errors(spans), f"{w['name']} spans nest")
                check(min(self_times(spans).values()) >= -1e-9,
                      f"{w['name']} every self time >= 0")


def test_failures_counted() -> None:
    """In-process run of a two-query workload whose first query returns
    a wrong output and whose second raises."""
    import run as bench_run
    from workloads import Workload

    wl = Workload(name="selftest_failures", queries=("topk_orders", "join_semi"))
    run = bench_run.Run(wl, seed=1, seconds=2, trace=False)
    bench_run.isolate(run)
    import __spark_entry__ as entry

    real = entry.queries

    def broken():
        qs = dict(real())
        good = qs["topk_orders"]

        def raising(spark, sf_dir):
            raise RuntimeError("injected")

        qs["topk_orders"] = lambda spark, sf_dir: good(spark, sf_dir).limit(1)
        qs["join_semi"] = raising
        return qs

    entry.queries = broken
    try:
        result = bench_run.execute(run)
    finally:
        entry.queries = real
        shutil.rmtree(run.dir, ignore_errors=True)
    passes = run.env["passes"]["timed"]
    check(not result["correct"], "a wrong output makes the run incorrect")
    check(result["failed"] == result["attempted"] == 2 * passes,
          "every call of the wrong and the raising query counts as failed")
    check(sum(s["call"] == "join_semi" for s in run.samples) == passes,
          "the raising query stays in every pass")
    check(not run.checks["topk_orders"]["ok"], "the wrong output fails its check")


def test_bare_directory() -> None:
    bare = os.path.join(HERE, "out", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    try:
        rc, out = run_bench("floor_mix", 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    check(rc != 0 and not out.strip(), "without the engine: non-zero exit, no result")


def main() -> int:
    bench = spec()
    test_bare_directory()
    test_smoke(bench)
    test_failures_counted()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
