"""Benchmark harness — reproduces the reference's measurement protocol
(runprogram.sh:16-101: per-point warm-up runs excluded from metrics,
one appended points.txt row per measurement) over this engine's
declared query inventory. It is the one harness for per-query time,
trace and the Spark-vs-DuckDB ratio.

Default mode (driver contract): run every query in
``__spark_entry__.queries()`` against ``$SPARK_GRAFT_SF_DIR`` (default:
the sf0.1 test fixture) on ``local[$SPARK_GRAFT_CPUS]`` for
``$SPARK_GRAFT_BENCH_PASSES`` passes (default 3). Pass 1 warms each
query up and keeps the faster of two timed runs; later passes time each
query once. The headline is the per-query min across passes, and ONE
JSON line is printed::

    {"metric": "bench_total_wall", "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Each timed run fully materializes via the ``noop`` sink (all
partitions computed, nothing collected) — the closest analog of the
reference's kernel-time bracket (src/helper.h:124-196) without
driver-transfer bias. Timings also append to ``points.txt`` in the
reference's row shape ``N k ls lsc mode metric value``
(src/main.cpp:19-38) via plans.metrics.MetricsRecorder.

``results/bench_full.json`` carries, under ``"trace"``, one record per
timed query keyed by its name: the declaration/execution split of the
faster of pass 1's two timed runs and the Spark jobs (all, and those
submitted during the declaration), stages, tasks, shuffle, spill, peak
memory, layout scans and Python-boundary bytes it caused, read from
Spark's in-process status store. To profile one query at one fixture::

    SPARK_GRAFT_SF_DIR=<fixture dir> SPARK_GRAFT_QUERIES=q python bench.py

Under ``"duck"`` it carries each query's DuckDB oracle time: in every
pass, right after a query's Spark timing, its ``oracle_sql()`` runs once
on one DuckDB connection over the same parquet (``open_duck``: the
parity gate's views), and ``duck_s`` is the min across passes — the
same statistic as the Spark headline, from the same window.
``duck.ratio`` is the Spark / DuckDB ratio overall and split at
``DUCK_FLOOR_BOUND_S``. An oracle that raises or times out is listed in
the ``duck`` block and leaves the query's Spark timing and the run's
status alone. Each query prints a progress line to stderr as it starts
and ends.

Sweep mode (``SPARK_GRAFT_SWEEP=1``): additionally runs the
reference's own experiment grid — k-mer counting over k x truncation-N
(README.md:3-10 shape) — appending one points row per grid point.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sycl_mapreduce_cpu_gpu_hybrid_spark.plans.metrics import (  # noqa: E402
    METRIC_CPU_TEMP_C,
    METRIC_CPU_UTIL_PCT,
    METRIC_EXEC_PEAK_MEM_MB,
    METRIC_HOST_MEM_MB,
    METRIC_SHUFFLE_READ_MB,
    METRIC_SHUFFLE_WRITE_MB,
    METRIC_TIME_MS,
    CpuMonitor,
    MetricsRecorder,
    timed,
)

POINTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "points.txt")
RESULTS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "results")
SWEEP_KS = [2, 4, 8, 16]
SWEEP_NS = [100, 200, 400]
# reference-MAGNITUDE grid (README.md:3-10: N up to 5,000,000
# chars/file; truncator.sh:14-20 / runprogram.sh k up to 64): the r5
# verdict flagged the toy grid above as shape-only, so SWEEP=1 now
# also runs the real magnitudes over MAG_DOCS documents expanded by
# text repetition (fixture docs are short; repetition keeps the
# distinct-k-mer space bounded while the explode volume scales to
# N x MAG_DOCS = 120M k-mers at the top point — the throughput shape
# that matters at cluster scale)
MAG_NS = [5_000, 50_000, 500_000, 5_000_000]
MAG_KS = [2, 8, 64]
MAG_DOCS = 24
# fixed DuckDB reference timings recorded with every bench artifact:
# the host showed a whole-machine ~1.5x drift between r3 and r5, so
# round-over-round Spark comparisons self-normalize against the same
# single-threaded floor measured in the same session
DUCK_FLOOR_SQL = {
    "scan_agg": (
        "SELECT l_returnflag, count(*) AS n, sum(l_extendedprice) AS s"
        " FROM lineitem GROUP BY 1 ORDER BY 1"
    ),
    "join_agg": (
        "SELECT c_mktsegment, count(*) AS n FROM orders"
        " JOIN customer ON o_custkey = c_custkey GROUP BY 1 ORDER BY 1"
    ),
    "string_scan": "SELECT count(*) AS n, sum(length(text)) AS chars FROM documents",
}


def spark_floor(spark) -> dict[str, float]:
    """Measured per-query overhead floor, published with every bench
    artifact so the ratio decomposition is self-documenting: the
    min-of-3 time to noop-write (a) ``noop_1row``, a 1-row in-memory
    frame (pure job scheduling + py4j round trip — no data, no
    shuffle), and (b) ``shuffle_32part``, ``spark.range(32)`` grouped
    by ``id % 4`` (a 32-row in-memory source, a partial aggregate, one
    shuffle into ``spark.sql.shuffle.partitions`` partitions that AQE
    may coalesce, and the final aggregate; no file scan). Any declared
    query's wall time is bounded below by (a); ~70 of the 126 queries
    cost DuckDB <50 ms and sit within a few multiples of (b) —
    harness-floor territory, not plan defects."""
    from pyspark.sql import functions as F

    floors: dict[str, float] = {}
    one = spark.range(1)
    force(one)
    best = float("inf")
    for _ in range(3):
        with timed() as t:
            force(one)
        best = min(best, t["sec"])
    floors["noop_1row"] = round(best, 4)
    shuffled = spark.range(32).groupBy((F.col("id") % 4).alias("k")).count()
    force(shuffled)
    best = float("inf")
    for _ in range(3):
        with timed() as t:
            force(shuffled)
        best = min(best, t["sec"])
    floors["shuffle_32part"] = round(best, 4)
    return floors


def duck_floor(sf_dir: str) -> dict[str, float]:
    """Min-of-2 warm DuckDB timings for three fixed queries on the
    same parquet — the drift anchor for BENCH_r{N} comparisons."""
    import duckdb

    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )
    floors: dict[str, float] = {}
    for name, sql in DUCK_FLOOR_SQL.items():
        con.execute(sql).fetchall()  # warm-up
        best = float("inf")
        for _ in range(2):
            with timed() as t:
                con.execute(sql).fetchall()
            best = min(best, t["sec"])
        floors[name] = round(best, 4)
    floors["total"] = round(sum(floors.values()), 4)
    return floors


# An oracle still running after this many seconds is interrupted and
# listed under duck.timeouts. It sits above the slowest oracle at sf0.1
# (dedup_editdistance_verify, 13.9 s) and at the derived sf1 (34.9 s)
# with room for a 1.5-3x host drift; one sf1 oracle replay once
# ran past 25 minutes, and an sf10 sweep must stay finite.
DUCK_DEADLINE_S = 120.0
# Queries whose oracle costs DuckDB less than this are floor-bound:
# their Spark time is the fixed per-query overhead, not operator work.
DUCK_FLOOR_BOUND_S = 0.050


def open_duck(sf_dir: str):
    """The DuckDB connection the oracles run on: the parity gate's views
    over ``sf_dir``, with no spill directory (with spilling on, one
    oracle at the derived sf1 wrote 19 GB of temp files)."""
    from tests.parity import duckdb_con

    con = duckdb_con(sf_dir)
    con.execute("SET temp_directory=''")
    return con


class DuckOracles:
    """Each query's ``oracle_sql()`` timed on one DuckDB connection.

    ``run`` executes one query's oracle once, under a
    ``DUCK_DEADLINE_S`` timer that interrupts the connection, and keeps
    the min across calls in ``times``. A timed-out query is listed in
    ``timeouts`` and an oracle that raises in ``errors``; neither is run
    again. Oracle failures stay in the ``duck`` block: they do not mark
    the Spark run failed."""

    def __init__(self, con, sqls: dict[str, str]):
        self.con = con
        self.sqls = sqls
        self.times: dict[str, float] = {}
        self.timeouts: list[str] = []
        self.errors: dict[str, str] = {}

    def run(self, name: str) -> str:
        """Time ``name``'s oracle once; return a note for the progress
        line (empty when the query has no oracle or is not re-run)."""
        import threading

        import duckdb

        sql = self.sqls.get(name)
        if sql is None or name in self.timeouts or name in self.errors:
            return ""
        # DuckDB runs inside this process beside the Spark JVM, whose
        # resident size outgrows its heap (8g of heap ran at 9.7 GB at
        # the derived sf1), so each oracle gets half of the host memory
        # free right now; one too big for that raises instead of
        # exhausting the host
        host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
        free_mb = host_mb - CpuMonitor.mem_used_mb()
        self.con.execute(f"SET memory_limit='{max(free_mb // 2, 256)}MiB'")
        timer = threading.Timer(DUCK_DEADLINE_S, self.con.interrupt)
        timer.start()
        try:
            with timed() as t:
                self.con.execute(sql).fetchall()
        except duckdb.InterruptException:
            self.timeouts.append(name)
            return "duck timeout"
        except Exception as exc:  # noqa: BLE001 — the Spark timing stands
            self.errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            return "duck error"
        finally:
            timer.cancel()
            timer.join()
        self.times[name] = min(self.times.get(name, float("inf")), round(t["sec"], 4))
        return f"duck {t['sec']:.3f} s"

    def block(self, timings: dict[str, float]) -> dict:
        """The artifact's ``duck`` block: per-query times, timeouts and
        the Spark / DuckDB ratio over the queries timed on both, overall
        and split at ``DUCK_FLOOR_BOUND_S``."""
        both = [n for n in self.times if n in timings]

        def ratio(names: list[str]) -> dict:
            spark_s = sum(timings[n] for n in names)
            duck_s = sum(self.times[n] for n in names)
            return {
                "spark_s": round(spark_s, 4),
                "duck_s": round(duck_s, 4),
                "x": round(spark_s / duck_s, 3) if duck_s else None,
                "n": len(names),
            }

        return {
            "queries": self.times,
            "timeouts": self.timeouts,
            "errors": self.errors,
            "ratio": {
                "overall": ratio(both),
                "floor_bound": ratio([n for n in both if self.times[n] < DUCK_FLOOR_BOUND_S]),
                "non_floor": ratio([n for n in both if self.times[n] >= DUCK_FLOOR_BOUND_S]),
            },
        }


# local-size permutation sweep, mirroring runprogram.sh:119-129's
# work-group sizes 1..512 at fixed N; the Spark local-size knob is
# spark.sql.shuffle.partitions
SWEEP_LS = [1, 2, 4, 8, 16, 32, 64, 128, 256, 512]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _kmer_k(name: str) -> int:
    m = re.search(r"_k(\d+)", name)
    return int(m.group(1)) if m else 0


def _trace_record(
    decl_s: float, exec_s: float, decl_end: float, jobs: list[dict], sql: dict
) -> dict:
    """One query's trace: the declaration/sink split of a timed run and
    the sum of the Spark jobs and SQL executions it caused.
    ``decl_jobs`` counts the jobs submitted before ``decl_end`` (epoch
    seconds at the end of the declaration bracket): schema inference,
    probes and driver-local tiers rather than sink work."""

    def total(key: str) -> float:
        return round(sum(j[key] for j in jobs), 4)

    return {
        "decl_s": round(decl_s, 4),
        "exec_s": round(exec_s, 4),
        "jobs": len(jobs),
        "decl_jobs": sum(1 for j in jobs if j["start"] < decl_end),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "task_s": total("task_s"),
        "shuffle_write_mb": total("shuffle_write_mb"),
        "shuffle_read_mb": total("shuffle_read_mb"),
        "spill_mb": total("spill_mb"),
        "peak_exec_mem_mb": round(max((j["peak_exec_mem_mb"] for j in jobs), default=0.0), 4),
        "layout_scans": sql["layout_scans"],
        "py_sent_mb": round(sql["sent_mb"], 4),
        "py_returned_mb": round(sql["returned_mb"], 4),
    }


def _skip_to_newest(reader, spark) -> None:
    """``reader.skip_new()``, first moved to the newest job and SQL
    execution the status stores hold. The reader scans ids upward from
    its last read and stops at the first id the store lacks: one
    evicted past ``spark.ui.retainedJobs`` or
    ``spark.sql.ui.retainedExecutions`` in a long session, or a job that
    failed before it started. Both lists are sorted by id."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    if jobs.size():
        reader.next_job = max(reader.next_job, jobs.head().jobId(), jobs.last().jobId())
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    if execs.size():
        reader.next_exec = max(
            reader.next_exec, execs.head().executionId(), execs.last().executionId()
        )
    reader.skip_new()


def run_inventory(
    spark,
    sf_dir: str,
    recorder: MetricsRecorder,
    n_scale: int,
    ls: int,
    errors: dict[str, str] | None = None,
    queries: dict | None = None,
    record_points: bool = True,
    trace: dict[str, dict] | None = None,
    duck: DuckOracles | None = None,
) -> dict[str, float]:
    """Time every query; return ``{name: seconds}``. Failures go into
    ``errors``. Pass 1 (``record_points``) also appends points rows and
    fills ``trace`` with one ``_trace_record`` per timed query. With
    ``duck``, each query that timed runs its DuckDB oracle right after."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.session import release_cached

    if queries is None:
        import __spark_entry__ as entrymod

        queries = entrymod.queries()
    # SPARK_GRAFT_QUERIES=a,b,c restricts the inventory (profiling one
    # query, same-window A/B subsets)
    if subset := os.environ.get("SPARK_GRAFT_QUERIES"):
        names = {s.strip() for s in subset.split(",")}
        queries = {k: v for k, v in queries.items() if k in names}
    if errors is None:
        errors = {}
    if trace is None:
        trace = {}
    if record_points:
        from perfbench.tracing import SparkReader

        reader = SparkReader(spark)

    cpu = CpuMonitor()
    timings: dict[str, float] = {}
    for name, fn in queries.items():
        # Extra passes skip names that already errored in pass 1: a
        # late success would otherwise enter the headline from a single
        # UNWARMED run while still listed in errors (r13 advisory) —
        # the error ledger and the headline must describe the same set.
        if not record_points and name in errors:
            continue
        # progress on stderr: a stalled run shows the query it is on
        print(f"[bench] {name} ...", file=sys.stderr, flush=True)
        # Per-query fault isolation (round-5 fix): one broken query
        # must never zero the whole bench artifact — record the error
        # and keep timing the rest.
        try:
            if record_points:
                # per-point warm-up, excluded from metrics
                # (runprogram.sh:29-41)
                force(fn(spark, sf_dir))
            # min of two timed runs: the host shows episodic CPU-steal
            # bursts; min is the standard noise-robust point estimate.
            # Each run is traced on its own (one clean START..STOP
            # window, reference Metric() protocol) and the faster
            # run's record is kept, so the trace describes the timing
            # it sits next to; skipping to the newest job first leaves
            # out the warm-up's jobs and a failed previous query's.
            # Extra min-of-N passes (record_points=False) time once —
            # pass 1 already warmed JIT/codegen; the caller takes the
            # min across passes.
            best, records = float("inf"), []
            if record_points:
                _skip_to_newest(reader, spark)
                cpu.snapshot_start()
            for _ in range(2 if record_points else 1):
                with timed() as decl:
                    df = fn(spark, sf_dir)
                decl_end = time.time()
                with timed() as sink:
                    force(df)
                best = min(best, decl["sec"] + sink["sec"])
                if record_points:
                    records.append(
                        _trace_record(decl["sec"], sink["sec"], decl_end, *reader.read_new())
                    )
        except Exception as exc:  # noqa: BLE001 — isolation is the point
            msg = f"{type(exc).__name__}: {exc}"[:500]
            if record_points:
                errors[name] = msg
            else:
                # a name green in pass 1 that fails a later pass keeps
                # its pass-1 timing in the headline; disclose the flake
                # under a distinct key instead of overwriting the
                # per-query ledger (r13 advisory)
                errors.setdefault(f"{name} (extra-pass flake)", msg)
            print(f"[bench] {name}: error", file=sys.stderr, flush=True)
            continue
        finally:
            # each run registers fresh cached stages and checkpoints;
            # a query that raised releases its blocks too
            release_cached(spark)
        timings[name] = round(best, 4)
        if record_points:
            def rec(metric: int, value: float) -> None:
                recorder.record(
                    n=n_scale, k=_kmer_k(name), ls=ls, lsc=ls, mode="spark-local",
                    metric=metric, value=value,
                )

            # points.txt records pass-1's min-of-2; the JSON headline is
            # the tighter union-min across all bench_passes, so the two
            # artifacts may disagree per query (JSON <= points.txt). The
            # JSON carries the authoritative statistic; points.txt keeps
            # the reference Metric() protocol's one-clean-window shape.
            rec(METRIC_TIME_MS, round(best * 1000, 3))
            rec(METRIC_CPU_UTIL_PCT, round(cpu.util_since_snapshot(), 2))
            rec(METRIC_HOST_MEM_MB, cpu.mem_used_mb())
            if (temp := cpu.temp_c()):
                rec(METRIC_CPU_TEMP_C, temp)
            trace[name] = r = min(records, key=lambda t: t["decl_s"] + t["exec_s"])
            rec(METRIC_EXEC_PEAK_MEM_MB, round(r["peak_exec_mem_mb"], 3))
            rec(METRIC_SHUFFLE_WRITE_MB, round(r["shuffle_write_mb"], 3))
            rec(METRIC_SHUFFLE_READ_MB, round(r["shuffle_read_mb"], 3))
        # after the points rows, so DuckDB's CPU stays out of them
        note = duck.run(name) if duck is not None else ""
        print(f"[bench] {name}: spark {best:.3f} s {note}", file=sys.stderr, flush=True)
    return timings


def run_sweep(spark, sf_dir: str, recorder: MetricsRecorder, ls: int) -> None:
    """The reference's own grid: k x N (chars/doc truncation —
    truncator.sh semantics) over the documents corpus."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.kmer import kmer_count
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.corpus import truncate_docs
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    for k in SWEEP_KS:
        for n in SWEEP_NS:
            q = kmer_count(truncate_docs(docs, n), k=k, min_count=2)
            force(q)  # warm-up (JIT/codegen), suppressed like warmup=1
            recorder.record(
                n=n, k=k, ls=ls, lsc=ls, mode="spark-local",
                metric=METRIC_TIME_MS, value=0.0, warmup=True,
            )
            with timed() as t:
                force(q)
            recorder.record(
                n=n, k=k, ls=ls, lsc=ls, mode="spark-local",
                metric=METRIC_TIME_MS, value=round(t["sec"] * 1000, 3),
            )


def run_sweep_magnitude(spark, sf_dir: str, recorder: MetricsRecorder, ls: int) -> None:
    """The reference grid at its REAL magnitudes (N to 5M chars/doc,
    k to 64) over MAG_DOCS docs whose text is tiled by repetition to
    exactly N chars. The expanded corpus is MATERIALIZED once per N
    (localCheckpoint — executor-side rows, the driver never holds a
    5 MB string): leaving the repeat() in the lazy plan would
    re-evaluate the O(N) expansion under every downstream projection.
    The expanded corpus goes through ``fan_out`` with no size floor,
    because Catalyst's size stats don't model the 1000x row expansion
    (kmer_explode's slice-frame floor would see the tiny parquet scan
    and run single-task). The top grid point pushes
    ~120M exploded k-mers through the byte-windowed map kernel and
    the group-count reduce."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.kmer import kmer_count
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import fan_out, load_table

    docs = load_table(spark, sf_dir, "documents").where(f"doc_id < {MAG_DOCS}")
    for n in MAG_NS:
        expanded = docs.selectExpr(
            "doc_id",
            f"substring(repeat(text, int(ceil({n} / greatest(length(text), 1)))),"
            f" 1, {n}) AS text",
        ).localCheckpoint()
        for k in MAG_KS:
            q = kmer_count(fan_out(expanded), k=k, min_count=2)
            force(q)  # warm-up, suppressed (runprogram.sh:29-41)
            with timed() as t:
                force(q)
            recorder.record(
                n=n, k=k, ls=ls, lsc=ls, mode="spark-local",
                metric=METRIC_TIME_MS, value=round(t["sec"] * 1000, 3),
            )


def run_ls_sweep(spark, sf_dir: str, recorder: MetricsRecorder) -> None:
    """The reference's local-size permutation sweep (runprogram.sh:
    119-129): work-group sizes 1..512 at fixed N. The Spark local-size
    knob is ``spark.sql.shuffle.partitions``; AQE coalescing is
    suspended for the sweep so the requested partition count is the
    one actually executed, then restored."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.kmer import kmer_count
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.corpus import truncate_docs
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import load_table

    prior_ls = spark.conf.get("spark.sql.shuffle.partitions")
    prior_coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        docs = load_table(spark, sf_dir, "documents")
        n_fixed = 400
        for ls in SWEEP_LS:
            spark.conf.set("spark.sql.shuffle.partitions", str(ls))
            q = kmer_count(truncate_docs(docs, n_fixed), k=8, min_count=2)
            force(q)  # warm-up, suppressed (runprogram.sh:29-41)
            with timed() as t:
                force(q)
            recorder.record(
                n=n_fixed, k=8, ls=ls, lsc=ls, mode="spark-local",
                metric=METRIC_TIME_MS, value=round(t["sec"] * 1000, 3),
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior_ls)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prior_coalesce)


def write_attempt(
    logfile: str,
    n: int,
    k: int,
    ls: int,
    bs: int,
    dev: str,
    status: int,
) -> int:
    """Run-attempt bookkeeping in the reference's attempts.log format
    (scripts/old/attemptwriter.sh:17-39): one parameter header line
    per attempt — attempt number derived by counting existing headers,
    exactly like the shell script's grep -c — followed by
    Success / Fail -syserror (signal S) for status >= 128 /
    Fail -missing, and a separator. Returns the attempt number."""
    os.makedirs(os.path.dirname(logfile), exist_ok=True)
    attempt = 1
    if os.path.exists(logfile):
        with open(logfile) as fh:
            attempt += sum(
                1
                for line in fh
                if re.match(r"^Attempt [0-9]+: N=", line)
            )
    with open(logfile, "a") as fh:
        fh.write(f"Attempt {attempt}: N={n}, K={k}, LS={ls}, BS={bs}, DEV={dev}\n")
        if status == 0:
            fh.write(f"Attempt {attempt}: Success\n")
        elif status >= 128:
            fh.write(f"Attempt {attempt}: Fail -syserror (signal {status - 128})\n")
        else:
            fh.write(f"Attempt {attempt}: Fail -missing\n")
        fh.write("--------------------------------\n")
    return attempt


def compact_summary(out: dict, full_path: str, budget: int = 1500) -> dict:
    """Bound the one-line stdout summary to ``budget`` serialized
    bytes: keep headline fields intact, drop the per-query trace and
    DuckDB times but keep the three DuckDB ratios, trim the per-query
    map to the slowest entries (10 at a time) until the line fits. The
    full map, the trace and the DuckDB block live at ``full_path``."""
    timings = out["queries"]
    compact = {k: v for k, v in out.items() if k not in ("trace", "duck")}
    if "duck" in out:
        compact["duck_ratio"] = {
            part: r["x"] for part, r in out["duck"]["ratio"].items()
        }
    compact["n_queries"] = len(timings)
    compact["queries_full"] = full_path
    if out.get("errors"):
        compact["errors"] = {
            k: v[:80] for k, v in list(out["errors"].items())[:5]
        }
    slowest = sorted(timings, key=timings.get, reverse=True)
    while len(json.dumps(compact)) > budget and compact["queries"]:
        slowest = slowest[: max(len(compact["queries"]) - 10, 0)]
        compact["queries"] = {k: timings[k] for k in slowest}
        compact["queries_shown"] = f"slowest {len(slowest)} of {len(timings)}"
    return compact


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from sycl_mapreduce_cpu_gpu_hybrid_spark.session import (
        ensure_driver_memory,
        get_spark,
    )

    # Scale the single-JVM heap to the fixture before launch (sf10's
    # 64 GiB requirement as code, not folklore — r9 verdict task 7)
    print(f"driver heap: {ensure_driver_memory(sf_dir)}", file=sys.stderr)
    spark = get_spark(app_name="bench")
    ls = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_scale = int((sf or 0) * 1_000_000)

    import __spark_entry__ as entrymod

    duck = DuckOracles(open_duck(sf_dir), entrymod.oracle_sql())
    recorder = MetricsRecorder()
    errors: dict[str, str] = {}
    trace: dict[str, dict] = {}
    n_passes = max(int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")), 1)
    print(f"[bench] pass 1 of {n_passes}", file=sys.stderr, flush=True)
    timings = run_inventory(
        spark, sf_dir, recorder, n_scale, ls, errors, trace=trace, duck=duck
    )
    # Min-of-N passes (r12 verdict task 4): a single-pass total on this
    # shared host reads up to 24% over the quiet-window floor (BENCH_r12
    # 63.98 s vs 3 quiet passes at ~47 s on identical code — ambient
    # tenant load, see SCALING.md "Ambient-load variance"). Pass 1 above
    # keeps the reference measurement protocol (warm-up + min-of-2 +
    # secondary-metric bracket + points.txt rows); passes 2..N re-time
    # each query once — declarations come from the prepared-plan cache,
    # caches are cleared per query, so every extra pass is a full
    # uncached execution. The artifact carries per-pass totals and the
    # headline becomes the per-query min across passes: the statistic
    # the quiet-window files carried manually in r11/r12.
    pass_totals = [round(sum(timings.values()), 4)]
    for p in range(2, n_passes + 1):
        print(f"[bench] pass {p} of {n_passes}", file=sys.stderr, flush=True)
        extra = run_inventory(
            spark, sf_dir, recorder, n_scale, ls, errors,
            record_points=False, duck=duck,
        )
        pass_totals.append(round(sum(extra.values()), 4))
        for name, sec in extra.items():
            timings[name] = min(timings.get(name, float("inf")), sec)
    if os.environ.get("SPARK_GRAFT_SWEEP") == "1":
        run_sweep(spark, sf_dir, recorder, ls)
        run_sweep_magnitude(spark, sf_dir, recorder, ls)
        run_ls_sweep(spark, sf_dir, recorder)
    recorder.write_points(POINTS_PATH)

    out = {
        "metric": "bench_total_wall",
        # headline = sum of per-query min across passes (the quiet-
        # window floor statistic); pass_totals carries each raw pass
        # so a genuine regression still surfaces as a shifted floor.
        # "semantics" discloses this in the artifact itself so
        # consumers don't compare the union-min floor 1:1 against
        # pre-r13 single-pass headlines (r13 advisory).
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "semantics": (
            "union-min floor: per-query min across bench_passes; no "
            "single pass achieved this total (see pass_totals)"
        ),
        "bench_passes": n_passes,
        "pass_totals": pass_totals,
        "queries": timings,
        "sf": sf,
        "duck_floor": duck_floor(sf_dir),
        "spark_floor": spark_floor(spark),
        "trace": trace,
        "duck": duck.block(timings),
    }
    if errors:
        out["errors"] = errors

    # The driver captures a bounded TAIL of stdout and parses the
    # JSON it finds there. r6's single line grew past that buffer as
    # the inventory passed ~100 queries, so the tail began mid-object
    # and BENCH_r06.json recorded parsed: null. Emit the full record
    # to results/ for humans, then print a compact line LAST — per-
    # query map trimmed to the slowest entries until the serialized
    # line fits well inside the tail window — so the final stdout
    # line is always complete, parseable JSON.
    os.makedirs(RESULTS_DIR, exist_ok=True)
    full_path = os.path.join(RESULTS_DIR, "bench_full.json")
    with open(full_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)

    # reference-shape attempt ledger: one entry per bench run, Success
    # iff every query timed without error (attemptwriter.sh semantics:
    # a run that produced no usable result is Fail -missing)
    write_attempt(
        os.path.join(RESULTS_DIR, "attempts.log"),
        n=n_scale,
        k=0,
        ls=ls,
        bs=len(timings),
        dev="spark-local",
        status=0 if not errors else 1,
    )
    print(json.dumps(compact_summary(out, full_path)), flush=True)


if __name__ == "__main__":
    main()
