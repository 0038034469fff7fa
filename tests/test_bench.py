"""bench.py contract tests — specifically the round-5 fault-isolation
guarantee: one broken query records an ``err`` entry and the rest of
the inventory is still timed (BENCH_r04 was lost to a single failing
query; that must be structurally impossible now)."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_inventory
from sycl_mapreduce_cpu_gpu_hybrid_spark.plans.metrics import MetricsRecorder

SF_DIR = "/root/testdata/sf0.001"


def _ok_query(spark, sf_dir):
    return spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("dbl"))


def _broken_query(spark, sf_dir):
    raise RuntimeError("deliberately broken for isolation test")


def test_run_inventory_isolates_per_query_failures(spark):
    errors: dict[str, str] = {}
    timings = run_inventory(
        spark,
        SF_DIR,
        MetricsRecorder(),
        n_scale=0,
        ls=4,
        errors=errors,
        queries={"good_a": _ok_query, "bad": _broken_query, "good_b": _ok_query},
    )
    assert set(timings) == {"good_a", "good_b"}
    assert all(t >= 0 for t in timings.values())
    assert set(errors) == {"bad"}
    assert "deliberately broken" in errors["bad"]


def test_run_inventory_broken_analysis_time_query(spark):
    """A query that fails at DataFrame *construction* (analysis error,
    the BENCH_r04 failure mode) is isolated too."""

    def bad_analysis(spark, sf_dir):
        return spark.range(5).select("no_such_column")

    errors: dict[str, str] = {}
    timings = run_inventory(
        spark,
        SF_DIR,
        MetricsRecorder(),
        n_scale=0,
        ls=4,
        errors=errors,
        queries={"bad": bad_analysis, "good": _ok_query},
    )
    assert set(timings) == {"good"}
    assert set(errors) == {"bad"}


def test_compact_summary_fits_driver_tail_buffer():
    """BENCH_r06.json recorded parsed: null because the one-line
    summary outgrew the driver's ~2k stdout tail buffer once the
    inventory passed ~100 queries. compact_summary must always
    serialize under budget, keep the headline fields verbatim, and
    degrade by trimming the per-query map to the slowest entries."""
    import json

    from bench import compact_summary

    timings = {f"query_name_{i:03d}": round(0.1 * i, 4) for i in range(130)}
    out = {
        "metric": "bench_total_wall",
        "value": 75.0,
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "duck_floor": 0.04,
    }
    compact = compact_summary(out, "results/bench_full.json")
    line = json.dumps(compact)
    assert len(line) <= 1500
    parsed = json.loads(line)
    assert parsed["metric"] == "bench_total_wall"
    assert parsed["value"] == 75.0
    assert parsed["sf"] == 0.1
    assert parsed["n_queries"] == 130
    # trimmed map keeps the slowest queries
    kept = parsed["queries"]
    assert kept and max(timings, key=timings.get) in kept
    # a small inventory is passed through untrimmed
    small = compact_summary({**out, "queries": {"a": 1.0}}, "x")
    assert small["queries"] == {"a": 1.0}
    assert "queries_shown" not in small
    # errors never blow the budget
    noisy = compact_summary({**out, "errors": {"q": "boom" * 200}}, "x")
    assert len(json.dumps(noisy)) <= 1500


def test_write_attempt_reference_ledger_format(tmp_path):
    """Port of the reference's attempts.log bookkeeping
    (scripts/old/attemptwriter.sh:17-39): attempt numbers derived by
    counting existing headers; Success / signal / missing outcomes."""
    from bench import write_attempt

    log = str(tmp_path / "logs" / "attempts.log")
    assert write_attempt(log, n=100, k=8, ls=32, bs=5, dev="spark-local", status=0) == 1
    assert write_attempt(log, n=200, k=4, ls=16, bs=5, dev="spark-local", status=137) == 2
    assert write_attempt(log, n=300, k=2, ls=8, bs=5, dev="spark-local", status=1) == 3
    text = open(log).read()
    assert "Attempt 1: N=100, K=8, LS=32, BS=5, DEV=spark-local" in text
    assert "Attempt 1: Success" in text
    assert "Attempt 2: Fail -syserror (signal 9)" in text
    assert "Attempt 3: Fail -missing" in text
    assert text.count("--------------------------------") == 3


def test_ensure_driver_memory_scales_heap_to_fixture(tmp_path, monkeypatch):
    """The sf10 driver-heap requirement is code, not folklore (r9
    verdict task 7): a ~2.4 GB fixture must predict the measured 64g
    local-mode heap on a host with room for it, the heap is clamped to
    ~80% of host RAM on a smaller one, small fixtures keep the 16g
    default, and an explicit SPARK_GRAFT_DRIVER_MEM always wins. Host
    RAM is reported through a stubbed os.sysconf so the result does
    not depend on the machine running the test."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.session import ensure_driver_memory

    page = 4096

    def host_gib(gib):
        sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": gib * (1 << 30) // page}
        monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])

    host_gib(128)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    # small fixture: stays at the default, env untouched
    small = tmp_path / "sf_small"
    small.mkdir()
    (small / "t.parquet").write_bytes(b"x" * 1024)
    assert ensure_driver_memory(str(small)) == "16g"
    assert "SPARK_GRAFT_DRIVER_MEM" not in os.environ

    # sf10-sized fixture (2.4 GB total, sparse files to avoid real IO)
    big = tmp_path / "sf_big"
    big.mkdir()
    with open(big / "lineitem.parquet", "wb") as fh:
        fh.seek(int(2.4 * (1 << 30)) - 1)
        fh.write(b"\0")
    assert ensure_driver_memory(str(big)) == "64g"
    assert os.environ["SPARK_GRAFT_DRIVER_MEM"] == "64g"

    # the same fixture on a 16 GiB host: clamped to 16g, env untouched
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    host_gib(16)
    assert ensure_driver_memory(str(big)) == "16g"
    assert "SPARK_GRAFT_DRIVER_MEM" not in os.environ
    host_gib(128)

    # explicit env wins regardless of fixture size
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "8g")
    assert ensure_driver_memory(str(big)) == "8g"

    # unreadable dir: safe default
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert ensure_driver_memory(str(tmp_path / "absent")) == "16g"
