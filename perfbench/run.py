"""The repository's benchmark: drive the engine from outside, the way a
caller would, and print one JSON result line.

    python3 perfbench/run.py --workload floor_mix --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Each run

1. writes its inputs from ``--seed`` into a fresh run directory under
   ``perfbench/out/`` (``TMPDIR``, ``SPARK_LOCAL_DIRS``, the warehouse and
   the k-mer sink point there too; it is removed on exit);
2. sets up: ``session.ensure_driver_memory`` + ``session.get_spark`` on
   ``local[nproc]`` (JIT limited to C1, see ``isolate``), then two
   warm-up passes over the workload's calls;
3. runs a closed loop with one client for ``--seconds``, in whole
   passes over the workload's calls, each pass shuffled by the seed;
4. checks every output once: each query's first warm-up output against its
   DuckDB oracle, each k's last k-mer sink against the reference's
   dict-increment oracle;
5. writes ``perfbench/out/<workload>-seed<N>-trace<T>.json`` with every
   raw sample, and prints the result as the last line of stdout:
   ``setup_s``, ``query_p90_s`` and ``queries_per_s`` (the median over
   passes).

With ``--trace 1`` the loop alternates untraced and traced passes in
the same session until each kind has had ``--seconds``; the result line
carries the per-layer numbers of the traced passes, and
``trace.overhead_s`` (mean call latency, traced minus untraced). The
artifact also holds every span.

The workloads and their frozen call lists are in ``workloads.py``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
ENGINE_FILES = (
    "__spark_entry__.py",
    "bench.py",
    "sycl_mapreduce_cpu_gpu_hybrid_spark",
    "tests/parity.py",
)
KMER_PREFIX = "kmer_ingest_k"
_MB = float(1 << 20)


def _proc_stats() -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                out[int(entry)] = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return out


def descendants(pid: int, stats: dict[int, list[str]] | None = None) -> list[int]:
    """Every live process below ``pid``, from /proc."""
    stats = _proc_stats() if stats is None else stats
    children: dict[int, list[int]] = {}
    for child, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(child)
    out, todo = [], list(children.get(pid, []))
    while todo:
        child = todo.pop()
        out.append(child)
        todo.extend(children.get(child, []))
    return out


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below
    it: the Python driver, the JVM and its Python workers. A process's
    own time plus that of the children it has reaped, so a worker that
    exits still counts."""
    own = resource.getrusage(resource.RUSAGE_SELF)
    stats = _proc_stats()
    ticks = sum(
        sum(int(f) for f in stats[pid][11:15])  # utime stime cutime cstime
        for pid in descendants(os.getpid(), stats)
    )
    return own.ru_utime + own.ru_stime + ticks * _TICK_S


class Run:
    """State of one benchmark run: where it writes, what it has timed,
    and how much of its wall time was the benchmark's own work."""

    def __init__(self, workload, seed: int, seconds: float, trace: bool, genome=None) -> None:
        from tracing import Tracer

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.genome = genome or workload.genome
        self.calls = list(workload.queries) + [f"{KMER_PREFIX}{k}" for k in workload.kmer_ks]
        self.dir = os.path.join(OUT, f"run-{workload.name}-{seed}-{os.getpid()}")
        self.data = os.path.join(self.dir, "data")
        self.genome_dir = os.path.join(self.dir, "genome")
        self.tracer = Tracer()
        self.reader = None  # tracing.SparkReader in a traced run
        self.own_s = 0.0  # input generation, oracles and checks: not set-up
        self.samples: list[dict] = []  # one per timed call
        self.passes: list[dict] = []  # one per timed pass: wall and CPU time
        self.warmups: list[dict] = []  # one per set-up call
        self.last_frames: dict = {}  # query -> frame its last call declared
        self.errors: dict[str, str] = {}  # call -> first error it raised
        self.bad: set[str] = set()  # calls whose output check failed
        self.checks: dict[str, dict] = {}
        self.env: dict = {}

    @contextlib.contextmanager
    def own(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.own_s += time.perf_counter() - t0


def isolate(run: Run) -> None:
    """Point every scratch location the engine uses at the run directory."""
    import tempfile

    for sub in ("tmp", "local", "warehouse", "sink"):
        os.makedirs(os.path.join(run.dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run.dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.dir, "local")
    # every JVM, the spark-submit launcher too: temp files into the run
    # directory, no hsperfdata file under /tmp. The JIT stops at C1: with
    # C2 the calls keep getting faster for the first ~60 s of the loop
    # (heavy_mix passes 3.5 s -> 2.05 s on a 4-vCPU host), longer than a
    # run can warm up, so a run's figures depended on how far the JIT had
    # got. With C1 they are flat from the second warm-up pass, at about
    # 1.4x the latency of a JVM that C2 has fully compiled. C1 alone
    # would get a 48 MB code cache, which floor_mix filled ~50 s into a
    # run; the sweeper then flushed and recompiled, and the last passes
    # used twice the CPU time. The code cache keeps the tiered default.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(run.dir, 'tmp')} -XX:-UsePerfData"
        " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tests"))


def start_session(run: Run):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.session import ensure_driver_memory, get_spark

    nproc = len(os.sched_getaffinity(0))
    with run.tracer.span("session.start"):
        heap = ensure_driver_memory(run.data)
        spark = get_spark(
            app_name=f"perfbench-{run.workload.name}",
            cpus=nproc,
            extra_conf={"spark.sql.warehouse.dir": os.path.join(run.dir, "warehouse")},
        )
        spark.sparkContext.setLogLevel("ERROR")
    run.env.update(nproc=nproc, heap=heap, cores=spark.sparkContext.defaultParallelism)
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then wait for the JVM and the Python workers it
    started to exit; whatever is still alive after a minute is killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 60
    for pid in workers:
        while alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if alive(pid):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def alive(pid: int) -> bool:
    """Running, or stopped; not exited (a zombie has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters (user ... steal), in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def release(spark) -> None:
    """Between calls, as bench.py does: drop cached tables and persisted RDDs."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(True)


# --------------------------------------------------------------------------
# One call: a declaration and a sink, each a span in a traced run.


def sink_dir(run: Run, k: int) -> str:
    return os.path.join(run.dir, "sink", f"k{k}")


def call_once(run: Run, spark, queries, name: str, collect: bool = False):
    """Make one call. Returns its record, the collected rows when
    ``collect`` (a query's first warm-up), and its (call, decl, sink) spans."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.kmer import kmer_count, kmer_sink
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import load_table

    tracer = run.tracer
    rec = {"call": name}
    rows = None
    kmer = name.startswith(KMER_PREFIX)
    layer = "operators" if kmer else "queries"
    t0 = time.perf_counter()
    with tracer.span("bench.call", query=name) as call:
        with tracer.span(f"{layer}.decl", role="decl") as decl:
            if kmer:
                rec["k"] = k = int(name[len(KMER_PREFIX):])
                df = kmer_count(load_table(spark, run.genome_dir, "documents"), k=k)
            else:
                df = queries[name](spark, run.data)
            rec["decl_s"] = time.perf_counter() - t0
        if not kmer:
            rec["plan_cache_hit"] = run.last_frames.get(name) is df
            run.last_frames[name] = df
        with tracer.span("operators.sink" if kmer else "spark.sink", role="sink") as sink_span:
            if kmer:
                kmer_sink(df, sink_dir(run, k))
            elif collect:
                rows = (df.columns, [tuple(r) for r in df.collect()])
            else:
                df.write.format("noop").mode("overwrite").save()
    rec["latency_s"] = time.perf_counter() - t0
    rec["sink_s"] = rec["latency_s"] - rec["decl_s"]
    return rec, rows, (call, decl, sink_span)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def observe(run: Run, rec: dict, spans) -> None:
    """After a traced call: read its Spark jobs, Python-boundary bytes
    and layout scans, and hang the jobs under the declaration or sink span."""
    from tracing import attach_jobs

    call, decl, sink_span = spans
    if call is None or run.reader is None:
        return
    jobs, sql = run.reader.read_new()
    attach_jobs(run.tracer, jobs, [decl, sink_span])
    rec["jobs"] = jobs
    rec["py_sent_mb"] = sql["sent_mb"]
    rec["py_returned_mb"] = sql["returned_mb"]
    rec["layout_scans"] = sql["layout_scans"]
    rec["sink_start"] = sink_span["start"]
    rec["sink_end"] = sink_span["end"]
    if "k" in rec:
        rec["sink_mb"] = dir_bytes(sink_dir(run, rec["k"])) / _MB


# --------------------------------------------------------------------------
# Checks.


def oracle_signatures(run: Run) -> dict:
    import parity

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = parity.duckdb_con(run.data)
    out = {}
    for name in run.workload.queries:
        rel = con.sql(sql[name])
        out[name] = parity.frame_signature(list(rel.columns), rel.fetchall())
    con.close()
    return out


def check_query(run: Run, name: str, rows, expected) -> None:
    """Order-insensitive signature of the output against the oracle's."""
    import parity

    cols, data = rows
    got = parity.frame_signature(cols, data)
    ok = got == expected
    run.checks[name] = {"ok": ok, "rows": got[0], "oracle_rows": expected[0]}
    if not ok:
        run.bad.add(name)
        run.checks[name]["error"] = (
            f"output differs from the DuckDB oracle: rows {got[0]} vs {expected[0]}, "
            f"cols {got[1]} vs {expected[1]}"
        )


def check_kmer_sinks(run: Run) -> None:
    """Compare each k's last sink output with the reference's own
    dict-increment oracle over the genome, filtered to count >= 2 as
    the sink filters."""
    import pyarrow.parquet as pq

    from sycl_mapreduce_cpu_gpu_hybrid_spark.oracle import python_kmer_oracle

    texts = pq.read_table(os.path.join(run.genome_dir, "documents.parquet")).column("text")
    texts = texts.to_pylist()
    for k in run.workload.kmer_ks:
        name = f"{KMER_PREFIX}{k}"
        expected = {w: c for w, c in python_kmer_oracle(texts, k).items() if c >= 2}
        try:
            sink = pq.read_table(sink_dir(run, k)).to_pydict()
        except OSError as exc:  # never written: every call of this k raised
            sink = {"word": [], "cnt": []}
            run.errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:500])
        got = dict(zip(sink["word"], sink["cnt"]))
        diff = sum(1 for w in expected.keys() | got.keys() if expected.get(w) != got.get(w))
        ok = diff == 0 and len(got) == len(sink["word"]) and len(expected) > 0
        run.checks[name] = {"ok": ok, "rows": len(sink["word"]), "oracle_rows": len(expected)}
        if not ok:
            run.bad.add(name)
            run.checks[name]["error"] = f"{diff} words differ from the oracle count"


# --------------------------------------------------------------------------
# The run.


WARM_PASSES = 2


def warm_up(run: Run, spark, queries, expected) -> None:
    """``WARM_PASSES`` passes over everything in the workload before the
    clock starts. The first pass is the one whose query outputs are
    checked. The second lets the JVM settle: after one pass the next
    one still ran up to 2x slower. What settling is left (the first
    timed passes of floor_mix ran up to 1.3x slower than its last ones)
    the medians over passes absorb; a third pass did not fit the time
    a run may take on a busy host."""
    for n_pass in range(WARM_PASSES):
        for name in run.calls:
            run.tracer.call_id = f"warmup:{n_pass}:{name}"
            try:
                rec, rows, spans = call_once(run, spark, queries, name, collect=n_pass == 0)
            except Exception as exc:  # noqa: BLE001 - a failing call stays in the run
                run.errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:500])
                release(spark)
                continue
            rec["n_pass"] = n_pass
            run.warmups.append(rec)
            with run.own():
                observe(run, rec, spans)
                if rows is not None:
                    check_query(run, name, rows, expected[name])
            release(spark)


def timed_loop(run: Run, spark, queries) -> None:
    """Whole passes over the workload's calls until ``run.seconds`` have
    passed. A traced run alternates untraced and traced passes, so that
    warm-up drift (JIT, caches) does not bias the tracing overhead, and
    runs until each kind has had ``run.seconds``."""
    rng = random.Random(run.seed)
    phases = ("untraced", "traced") if run.trace else ("timed",)
    wall = dict.fromkeys(phases, 0.0)
    cpu0 = cpu_times()
    passes = dict.fromkeys(phases, 0)
    n_pass = 0
    while min(wall.values()) < run.seconds:
        phase = phases[n_pass % len(phases)]
        if run.trace:
            run.reader.skip_new()
            run.tracer.active = phase == "traced"
        order = list(run.calls)
        rng.shuffle(order)
        cpu_pass = tree_cpu_s()
        t_pass = time.perf_counter()
        for name in order:
            run.tracer.call_id = f"{phase}:{n_pass}:{name}"
            t0 = time.perf_counter()
            try:
                rec, _rows, spans = call_once(run, spark, queries, name)
                rec["ok"] = True
            except Exception as exc:  # noqa: BLE001 - counted, and the call stays
                rec = {"call": name, "ok": False, "latency_s": time.perf_counter() - t0}
                run.errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:500])
                spans = (None, None, None)
            rec.update(phase=phase, n_pass=n_pass, t_s=t0 - T_PROCESS)
            observe(run, rec, spans)
            run.samples.append(rec)
            release(spark)
        pass_wall = time.perf_counter() - t_pass
        run.passes.append({
            "phase": phase,
            "n_pass": n_pass,
            "wall_s": pass_wall,
            "cpu_s": tree_cpu_s() - cpu_pass,
            "calls": len(order),
        })
        wall[phase] += pass_wall
        passes[phase] += 1
        n_pass += 1
    run.tracer.active = False
    run.env["timed_wall_s"] = wall
    run.env["passes"] = passes
    # share of the host's CPU time taken by other guests while the loop
    # ran: the latencies follow it, so it tells host drift from a change
    ticks = [b - a for a, b in zip(cpu0, cpu_times())]
    run.env["cpu_steal_frac"] = ticks[7] / max(1, sum(ticks))


def percentile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def passed(run: Run, s: dict) -> bool:
    return s["ok"] and s["call"] not in run.bad


def latencies(run: Run, phase: str) -> list[float]:
    """Call latencies of a phase. A failed call, or a call whose output
    check failed, counts as taking the whole phase."""
    wall = run.env["timed_wall_s"][phase]
    return [
        s["latency_s"] if passed(run, s) else wall
        for s in run.samples
        if s["phase"] == phase
    ]


def per_pass(run: Run, phase: str) -> list[dict]:
    """The phase's passes, each with the number of its calls that passed."""
    ok: dict[int, int] = {}
    for s in run.samples:
        if s["phase"] == phase and passed(run, s):
            ok[s["n_pass"]] = ok.get(s["n_pass"], 0) + 1
    return [
        {**p, "ok_calls": ok.get(p["n_pass"], 0)} for p in run.passes if p["phase"] == phase
    ]


def query_cpu_s(run: Run, phase: str) -> float:
    """CPU seconds per passed call of the Python driver, the JVM and the
    Python workers together, the median over the phase's passes."""
    return statistics.median(
        p["cpu_s"] / max(1, p["ok_calls"]) for p in per_pass(run, phase)
    )


def end_to_end(run: Run, setup_s: float) -> dict:
    """The untraced loop's figures. Throughput is the median over whole
    passes, so that a minority of passes slowed by something outside the
    engine (another guest on the host, a GC cycle) does not move it;
    every pass makes the same calls. Only calls that passed count, so
    that a call failing fast cannot raise it."""
    lat = latencies(run, "timed")
    passes = per_pass(run, "timed")
    metrics = {
        "setup_s": (setup_s, "s"),
        "query_p90_s": (percentile(lat, 90), "s"),
        "queries_per_s": (statistics.median(p["ok_calls"] / p["wall_s"] for p in passes), "1/s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def execute(run: Run) -> dict:
    from datagen import write_genome, write_tables

    workload = run.workload
    with run.own():
        run.env["rows"] = write_tables(run.data, run.seed)
        if workload.kmer_ks:
            n_docs, doc_len = run.genome
            write_genome(run.genome_dir, run.seed, n_docs, doc_len)
            run.env["kmers_per_call"] = {
                f"{KMER_PREFIX}{k}": n_docs * max(0, doc_len - k + 1) for k in workload.kmer_ks
            }
        expected = oracle_signatures(run)

    import bench

    import __spark_entry__ as entry
    from tracing import SparkReader, probes, streaming_listener

    queries = entry.queries()
    run.tracer.active = run.trace
    with contextlib.ExitStack() as stack:
        if run.trace:
            stack.enter_context(probes(run.tracer))
        spark = start_session(run)
        stack.callback(stop_session, spark)
        if run.trace:
            stack.enter_context(streaming_listener(spark, run.tracer))
            with run.own():
                run.reader = SparkReader(spark)
        warm_up(run, spark, queries, expected)
        setup_s = time.perf_counter() - T_PROCESS - run.own_s
        setup_counts = dict(run.tracer.counts)
        run.tracer.counts.clear()
        timed_loop(run, spark, queries)
        if workload.kmer_ks:
            check_kmer_sinks(run)
        # host-drift anchors, measured in the same window as the run
        run.env["duck_floor_total_s"] = bench.duck_floor(run.data)["total"]
        run.env["spark_floor_noop_1row_s"] = bench.spark_floor(spark)["noop_1row"]

    # Peak resident memory, read once the JVM has been waited for: the
    # driver's own peak plus that of its largest descendant (the JVM).
    # Nothing polls memory while calls are timed.
    peak_rss_kb = (
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        + resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    )
    failed = sum(1 for s in run.samples if not passed(run, s))
    attempted = len(run.samples)
    if run.trace:
        from layers import per_layer

        metrics = per_layer(run, setup_counts)
    else:
        metrics = end_to_end(run, setup_s)
    phase = "traced" if run.trace else "timed"
    lat = latencies(run, phase)
    p90 = percentile(lat, 90)
    jobs_per_call: dict[str, list[int]] = {}
    for s in run.samples:
        if s["phase"] == phase and "jobs" in s:
            jobs_per_call.setdefault(s["call"], []).append(len(s["jobs"]))
    kmer_samples = [
        s for s in run.samples
        if s["phase"] == phase and "k" in s and passed(run, s)
    ]
    artifact = {
        "workload": workload.name,
        "seed": run.seed,
        "seconds": run.seconds,
        "trace": int(run.trace),
        "calls": run.calls,
        "env": run.env,
        "setup_s": setup_s,
        # not an end-to-end metric: with the heap the engine picks for
        # small inputs (16g), it moved by a quarter between seeds
        "peak_rss_mb": peak_rss_kb / 1024.0,
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / attempted if attempted else 1.0,
        "errors": run.errors,
        "checks": run.checks,
        "setup_counts": setup_counts,
        "metrics": metrics,
        "latency_samples": len(lat),
        "samples_above_p90": sum(1 for v in lat if v > p90),
        # Spark jobs per call, min and max: some calls vary run to run
        "jobs_per_call": {k: [min(v), max(v)] for k, v in jobs_per_call.items()},
        # k-mer occurrences counted and written per second of k-mer call
        "kmers_per_s": (
            sum(run.env["kmers_per_call"][s["call"]] for s in kmer_samples)
            / sum(s["latency_s"] for s in kmer_samples)
            if kmer_samples else 0.0
        ),
        # not an end-to-end metric: it follows the host's per-core speed
        # more than wall time does (heavy_mix runs spread 1.25-2.06 s)
        "query_cpu_s": query_cpu_s(run, phase),
        "samples": run.samples,
        "passes": run.passes,
        "warmups": run.warmups,
    }
    if run.trace:
        artifact["spans"] = run.tracer.spans
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"{workload.name}-seed{run.seed}-trace{int(run.trace)}.json")
    with open(path, "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    return {
        "correct": failed == 0 and not run.bad and not run.errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument(
        "--genome", default=None, help="N,LEN: a smaller genome, for the self-tests"
    )
    args = parser.parse_args(argv)

    missing = [p for p in ENGINE_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the engine is not in {ROOT}: missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(
            f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
            file=sys.stderr,
        )
        return 2
    genome = tuple(int(x) for x in args.genome.split(",")) if args.genome else None
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), genome)
    shutil.rmtree(run.dir, ignore_errors=True)
    isolate(run)
    try:
        result = execute(run)
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
