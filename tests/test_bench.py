"""bench.py contract tests — specifically the round-5 fault-isolation
guarantee: one broken query records an ``err`` entry and the rest of
the inventory is still timed (BENCH_r04 was lost to a single failing
query; that must be structurally impossible now)."""

from __future__ import annotations

import os
import sys
import time

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_inventory
from sycl_mapreduce_cpu_gpu_hybrid_spark.plans.metrics import (
    METRIC_EXEC_PEAK_MEM_MB,
    METRIC_SHUFFLE_READ_MB,
    METRIC_SHUFFLE_WRITE_MB,
    MetricsRecorder,
)

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


def test_failed_query_releases_its_checkpoints(spark):
    """A query that raises after an eager ``localCheckpoint`` must not
    leave its blocks resident for the next query: the release between
    queries runs on the failure path too."""

    def checkpoints_then_raises(spark, sf_dir):
        spark.range(100).localCheckpoint()
        raise RuntimeError("raised after a checkpoint")

    def sees_no_blocks(spark, sf_dir):
        assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
        return _ok_query(spark, sf_dir)

    errors: dict[str, str] = {}
    timings = run_inventory(
        spark,
        SF_DIR,
        MetricsRecorder(),
        n_scale=0,
        ls=4,
        errors=errors,
        queries={"leaks": checkpoints_then_raises, "checks": sees_no_blocks},
    )
    assert set(errors) == {"leaks"}
    assert set(timings) == {"checks"}


class _CountingCon:
    """A DuckDB connection that counts how often each SQL ran."""

    def __init__(self):
        import duckdb

        self.con = duckdb.connect()
        self.runs: dict[str, int] = {}

    def execute(self, sql):
        self.runs[sql] = self.runs.get(sql, 0) + 1
        return self.con.execute(sql)

    def interrupt(self):
        self.con.interrupt()


def test_run_inventory_times_each_oracle_in_the_same_pass(spark, monkeypatch):
    """Each query that timed runs its oracle once per pass, right after:
    a passing oracle gets a ``duck_s``; one that raises is listed in the
    ``duck`` block's errors, not the run's; one past ``DUCK_DEADLINE_S``
    is interrupted, listed in ``timeouts`` and not run in pass 2. The
    Spark timing of every query stands."""
    import bench

    monkeypatch.setattr(bench, "DUCK_DEADLINE_S", 0.2)
    sqls = {
        "passes": "SELECT sum(i) FROM range(100000) t(i)",
        "raises": "SELECT * FROM no_such_table",
        "slow": "SELECT sum(hash(i)) FROM range(100000000000) t(i)",
    }
    con = _CountingCon()
    duck = bench.DuckOracles(con, sqls)
    queries = dict.fromkeys(sqls, _ok_query)
    errors: dict[str, str] = {}
    timings = run_inventory(
        spark, SF_DIR, MetricsRecorder(), n_scale=0, ls=4, errors=errors,
        queries=queries, duck=duck,
    )
    extra = run_inventory(
        spark, SF_DIR, MetricsRecorder(), n_scale=0, ls=4, errors=errors,
        queries=queries, record_points=False, duck=duck,
    )
    assert set(timings) == set(extra) == set(sqls)
    assert errors == {}
    assert set(duck.errors) == {"raises"} and "no_such_table" in duck.errors["raises"]
    assert set(duck.times) == {"passes"} and duck.times["passes"] >= 0
    assert duck.timeouts == ["slow"]
    oracle_runs = {sql: n for sql, n in con.runs.items() if not sql.startswith("SET ")}
    assert oracle_runs == {sqls["passes"]: 2, sqls["raises"]: 1, sqls["slow"]: 1}
    block = duck.block(timings)
    assert block["errors"] == duck.errors and block["timeouts"] == ["slow"]
    ratio = block["ratio"]
    assert ratio["overall"] == ratio["floor_bound"]
    assert ratio["overall"]["n"] == 1 and ratio["overall"]["x"] > 0
    assert ratio["non_floor"] == {"spark_s": 0, "duck_s": 0, "x": None, "n": 0}


def test_oracle_memory_bound_is_half_the_free_host_memory(monkeypatch):
    """Each oracle runs with DuckDB's memory limit at half of the host
    memory free when it starts, so an oracle too big to fit beside the
    Spark JVM raises instead of exhausting the host; the connection
    does not spill, and reads the parity gate's views."""
    import bench

    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    monkeypatch.setattr(bench.CpuMonitor, "mem_used_mb", staticmethod(lambda: host_mb - 4096))
    con = bench.open_duck(SF_DIR)
    duck = bench.DuckOracles(con, {"q": "SELECT count(*) FROM lineitem"})
    assert duck.run("q").startswith("duck ")
    limit = con.execute("SELECT current_setting('memory_limit')").fetchone()[0]
    assert limit == "2.0 GiB", limit
    assert con.execute("SELECT current_setting('temp_directory')").fetchone()[0] == ""
    assert con.execute("SELECT count(*) FROM lineitem").fetchone()[0] > 0


TRACE_KEYS = {
    "decl_s", "exec_s", "jobs", "decl_jobs", "stages", "tasks", "task_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "peak_exec_mem_mb",
    "layout_scans", "py_sent_mb", "py_returned_mb",
}
# a declaration this long dominates each timed run, so the run the
# trace describes and the faster of the two timed runs agree closely
DECL_SLEEP_S = 2.0


def _slow_decl_shuffling(spark, sf_dir):
    time.sleep(DECL_SLEEP_S)
    return spark.range(10_000).groupBy(F.col("id") % 100).count()


def _slow_decl_narrow(spark, sf_dir):
    time.sleep(DECL_SLEEP_S)
    return _ok_query(spark, sf_dir)


def test_run_inventory_traces_each_query_from_status_store(spark):
    """With the UI off (as in every session get_spark builds), pass 1
    records one trace per passing query from Spark's status store, and
    feeds points rows 3/7/8 from it; a query that raised has no trace."""
    recorder = MetricsRecorder()
    errors: dict[str, str] = {}
    trace: dict[str, dict] = {}
    timings = run_inventory(
        spark,
        SF_DIR,
        recorder,
        n_scale=0,
        ls=4,
        errors=errors,
        queries={
            "shuffling": _slow_decl_shuffling,
            "bad": _broken_query,
            "narrow": _slow_decl_narrow,
        },
        trace=trace,
    )
    assert spark.conf.get("spark.ui.enabled") == "false"
    assert set(timings) == set(trace) == {"shuffling", "narrow"}
    assert set(errors) == {"bad"}
    for name, r in trace.items():
        assert set(r) == TRACE_KEYS
        assert r["jobs"] >= 1 and r["stages"] >= 1 and r["tasks"] >= 1
        # the timing is the sum of the split, and the sleep is declaration
        total = r["decl_s"] + r["exec_s"]
        assert timings[name] <= total + 1e-3
        assert total <= timings[name] * 1.05
        assert r["decl_s"] >= DECL_SLEEP_S > r["exec_s"]
        assert r["decl_jobs"] == 0
    # one shuffle of 100 groups from every map task; none for a narrow scan
    assert trace["shuffling"]["stages"] >= 2
    assert trace["shuffling"]["shuffle_write_mb"] > 0
    assert trace["shuffling"]["shuffle_read_mb"] > 0
    assert trace["narrow"]["shuffle_write_mb"] == 0
    assert trace["narrow"]["stages"] == 1
    by_metric: dict[int, list[float]] = {}
    for row in recorder.rows:
        by_metric.setdefault(row["metric"], []).append(row["value"])
    for metric in (METRIC_EXEC_PEAK_MEM_MB, METRIC_SHUFFLE_WRITE_MB, METRIC_SHUFFLE_READ_MB):
        assert len(by_metric.get(metric, [])) == 2
    assert max(by_metric[METRIC_SHUFFLE_WRITE_MB]) > 0


def test_trace_splits_declaration_jobs_and_keeps_the_faster_run(spark):
    """``decl_jobs`` counts the jobs a declaration launches (here one
    collect, which has no shuffle, so one job) apart from the sink's.
    Of pass 1's two timed runs the trace describes the faster: the
    second declaration of ``slower_second`` (its third call, after the
    warm-up) sleeps 1 s longer than the first."""
    calls: list[None] = []

    def declares_a_job(spark, sf_dir):
        spark.range(1).collect()
        return _ok_query(spark, sf_dir)

    def slower_second(spark, sf_dir):
        calls.append(None)
        time.sleep(1.0 if len(calls) == 3 else 0.0)
        return _ok_query(spark, sf_dir)

    trace: dict[str, dict] = {}
    timings = run_inventory(
        spark,
        SF_DIR,
        MetricsRecorder(),
        n_scale=0,
        ls=4,
        queries={"declares_a_job": declares_a_job, "slower_second": slower_second},
        trace=trace,
    )
    assert trace["declares_a_job"]["decl_jobs"] == 1
    assert trace["declares_a_job"]["jobs"] == 2
    assert len(calls) == 3
    r = trace["slower_second"]
    assert r["decl_s"] < 1.0
    assert r["decl_s"] + r["exec_s"] == pytest.approx(timings["slower_second"], abs=1e-3)


def test_trace_reader_resumes_past_ids_the_status_store_lacks(spark):
    """The status store drops jobs past ``spark.ui.retainedJobs`` in a
    long session, and a job that fails before it starts never enters
    it. The reader scans ids upward and stops at such a gap, so the
    bench moves it to the newest stored ids before each traced run."""
    from bench import _skip_to_newest, force
    from perfbench.tracing import SparkReader

    reader = SparkReader(spark)
    reader.next_job = reader.next_exec = -1  # an id the store lacks
    _skip_to_newest(reader, spark)
    force(_ok_query(spark, SF_DIR))
    jobs, _ = reader.read_new()
    assert len(jobs) == 1


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
    # the per-query trace stays in the full artifact, not the line
    record = dict.fromkeys(TRACE_KEYS, 0.1234)
    traced = {**out, "trace": {name: dict(record) for name in timings}}
    line = json.dumps(compact_summary(traced, "x"))
    assert len(line) <= 1500
    assert "trace" not in json.loads(line)
    assert "trace" in traced
    # the DuckDB times stay in the full artifact; the three ratios stay
    part = {"spark_s": 60.0, "duck_s": 40.0, "x": 1.5, "n": 130}
    ratio = {"overall": part, "floor_bound": part, "non_floor": part}
    ducked = {
        **traced,
        "duck": {"queries": dict(timings), "timeouts": [], "ratio": ratio},
    }
    line = json.dumps(compact_summary(ducked, "x"))
    assert len(line) <= 1500
    parsed = json.loads(line)
    assert "duck" not in parsed
    assert parsed["duck_ratio"] == {"overall": 1.5, "floor_bound": 1.5, "non_floor": 1.5}


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
