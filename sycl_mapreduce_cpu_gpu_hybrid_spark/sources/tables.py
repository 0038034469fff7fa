"""Loaders for the driver's test tables (TESTDATA.md).

The one input contract: a table ``name`` of fixture ``sf_dir`` is
``{sf_dir}/{name}.parquet``, either one parquet file or a
Spark-written directory of part files. Parquet scans are the engine's
primary source: columnar, predicate pushdown and column pruning reach
the scan via Catalyst, partition count follows
spark.sql.files.maxPartitionBytes at cluster scale. Metadata probes
(row counts, schemas) read footers and run no Spark job.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _parquet_files(path: str) -> list[str]:
    """The parquet files of a table or layout: ``[path]`` for a file,
    the part files of a directory otherwise (names starting with ``_``
    or ``.`` are skipped, as Spark's reader skips them)."""
    if os.path.isfile(path):
        return [path]
    return [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


def _ns_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark's reader
    rejects ([PARQUET_TYPE_ILLEGAL]). Footer-only read of the file, or
    of a directory's first part file — no data I/O; memoized per path
    and source stamp (every load_table call would otherwise re-read
    the footer; a rewritten file is read again)."""
    stamp = _source_stamp(path)
    if _NS_COLS_CACHE.get(path, (None,))[0] != stamp:
        try:
            import pyarrow.parquet as pq

            # INT96 (Spark's default timestamp encoding) also maps to
            # timestamp[ns] in Arrow; Spark reads it natively, so
            # coerce it to µs and keep only true TIMESTAMP(NANOS)
            with pq.ParquetFile(
                _parquet_files(path)[0], coerce_int96_timestamp_unit="us"
            ) as pf:
                schema = pf.schema_arrow
            cols = [f.name for f in schema if str(f.type) == "timestamp[ns]"]
        except (OSError, IndexError):
            cols = []
        _NS_COLS_CACHE[path] = (stamp, cols)
    return _NS_COLS_CACHE[path][1]


_NS_COLS_CACHE: dict[str, tuple[tuple, list[str]]] = {}
_SCHEMA_CACHE: dict[str, tuple[tuple, StructType]] = {}
_ROWS_CACHE: dict[str, tuple[tuple, int]] = {}


def parquet_rows(path: str) -> int:
    """Row count of the parquet at ``path`` from its footers: one
    footer for a file, the sum over the part files of a directory
    (names starting with ``_`` or ``.`` are skipped, as Spark's reader
    skips them). O(files) metadata, never a Spark job; memoized per
    path and source stamp, so a table rewritten in place is counted
    again. Raises OSError when ``path`` does not exist."""
    stamp = _source_stamp(path)
    if _ROWS_CACHE.get(path, (None,))[0] != stamp:
        import pyarrow.parquet as pq

        rows = sum(pq.read_metadata(f).num_rows for f in _parquet_files(path))
        _ROWS_CACHE[path] = (stamp, rows)
    return _ROWS_CACHE[path][1]


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet at ``path``, to pass to
    ``read.schema(...)`` or ``readStream.schema(...)``. Inference
    launches a footer-reading Spark job, so the schema is memoized per
    path and source stamp, across sessions (they share their parquet
    confs): a regenerated file is inferred again. A TIMESTAMP(NANOS)
    file needs ``nanosAsLong`` set on the session first, as
    stream_events does; load_table reads such files itself."""
    stamp = _source_stamp(path)
    if _SCHEMA_CACHE.get(path, (None,))[0] != stamp:
        _SCHEMA_CACHE[path] = (stamp, read_parquet(spark, path).schema)
    return _SCHEMA_CACHE[path][1]


_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = None  # type: ignore[assignment]


def _source_stamp(path: str) -> tuple:
    """Cheap immutability stamp (size + mtime) for a parquet file or
    directory — a regenerated fixture changes the stamp, so a cached
    scan can never serve stale data."""
    try:
        st = os.stat(path)
        if os.path.isfile(path):
            return (st.st_size, st.st_mtime_ns)
        with os.scandir(path) as it:
            return tuple(
                sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in it)
            )
    except OSError:
        return ("<unstattable>",)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan through :func:`read_parquet`: a table no larger than
    the session's AQE minimum partition size (1 MiB by default) reads
    as ONE partition, so its aggregates, windows and sorts plan no
    exchange. That holds on a cluster too: a sub-MiB table is one split
    anywhere, and AQE would coalesce its shuffle to one reduce task.
    ns-precision timestamps are read as raw int64 nanoseconds
    (``nanosAsLong``) and converted to microsecond timestamps (floor
    division — same truncation DuckDB applies when it narrows
    TIMESTAMP_NS to its µs TIMESTAMP).

    The returned (lazy, immutable) frame is memoized per SESSION,
    source stamp and floor: a read pays several py4j roundtrips, pure
    declaration overhead for a fixture that never changes mid-run, and
    the schema comes from :func:`parquet_schema`, so a new session
    (a scoped streaming clone) launches no schema job either. A session
    whose floor changes gets a frame planned for the new floor.
    Sessions are held weakly, so ephemeral clones don't pin their
    frames."""
    path = f"{sf_dir}/{name}.parquet"
    per_session = _cache_for(spark)
    key = ("table", path, _source_stamp(path), _one_partition_floor(spark))
    if key in per_session:
        return per_session[key]
    df = _load_table_uncached(spark, path)
    _cache_insert(per_session, key, df)
    return df


def _cache_for(spark: SparkSession) -> dict:
    global _TABLE_CACHE
    import weakref

    if _TABLE_CACHE is None:
        _TABLE_CACHE = weakref.WeakKeyDictionary()
    return _TABLE_CACHE.setdefault(spark, {})


def _cache_insert(per_session: dict, key: tuple, df: DataFrame) -> None:
    """Insert under a (namespace, path, stamp, floor) key, evicting
    superseded stamps and floors of the same (namespace, path) —
    without this, every republished layout/fixture leaks one dead lazy
    frame into the per-session dict for the session's lifetime (r14
    advisory). The namespace tag keeps load_table frames (which carry
    the nanosAsLong -> timestamp_micros rewrite) from ever being
    served through read_layout (raw reads) or vice versa."""
    stale = [k for k in per_session if k[:2] == key[:2] and k != key]
    for k in stale:
        del per_session[k]
    per_session[key] = df


def _load_table_uncached(spark: SparkSession, path: str) -> DataFrame:
    ns_cols = _ns_timestamp_cols(path)
    if not ns_cols:
        return read_parquet(spark, path, parquet_schema(spark, path))
    # Scope the legacy flag to this read: the reader captures it at
    # DataFrame creation (verified: execution after restore still
    # reads longs), so restoring immediately keeps unrelated
    # parquet reads in the session on the loud
    # PARQUET_TYPE_ILLEGAL behavior instead of silently yielding longs.
    flag = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(flag, None)
    spark.conf.set(flag, "true")
    try:
        df = read_parquet(spark, path)
        df.schema  # force schema resolution under the flag
    finally:
        if prior is None:
            spark.conf.unset(flag)
        else:
            spark.conf.set(flag, prior)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def read_parquet(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """The one batch parquet read in the package: ``spark.read.parquet``
    of ``path`` (a file, a directory or a glob), with ``schema`` given to
    the reader when passed, coalesced to ONE partition when its files
    total no more than the session's
    ``spark.sql.adaptive.coalescePartitions.minPartitionSize``.

    Why: ``CoalesceExec(1)`` reports SinglePartition, which satisfies
    every distribution an aggregate, window or sort requires, so the
    planner inserts no hash or range exchange above it and those
    operators run in the scan's own stage and job. The exchange it
    saves bought no parallelism: with ``parallelismFirst`` AQE
    coalesces any shuffle under that size to one reduce task anyway.
    The rule holds on a cluster too: a sub-MiB file is one split on any
    cluster (splits never go below ``openCostInBytes``), so the scan
    runs as one task either way. Expanding operators still spread
    through :func:`fan_out`, which sees one partition, as it does for
    any single-split file. A path with no local files (a remote URI)
    is never coalesced."""
    if schema is None:
        df = spark.read.parquet(path)
    else:
        df = spark.read.schema(schema).parquet(path)
    if _files_fit(path, _one_partition_floor(spark)):
        return df.coalesce(1)
    return df


def _one_partition_floor(spark: SparkSession) -> int:
    """The session's AQE minimum partition size, in bytes: Spark's
    byte-string form (``1048576b``, ``1m``, ``64kb``; no suffix means
    bytes)."""
    value = spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    m = re.fullmatch(r"([0-9]+)([kmgtp]?)b?", value.strip().lower())
    if m is None:
        raise ValueError(f"unparseable minPartitionSize {value!r}")
    return int(m[1]) << (10 * " kmgtp".index(m[2] or " "))


def _files_fit(path: str, limit: int) -> bool:
    """Whether the files a read of ``path`` scans total at most
    ``limit`` bytes: a file, a directory walked recursively, or every
    match of a glob; names starting with ``_`` or ``.`` are skipped, as
    Spark's file index skips them. False when nothing matches locally.
    Stops walking once past ``limit``."""
    roots = glob.glob(path)
    total = 0
    for root in roots:
        if os.path.isfile(root):
            total += os.path.getsize(root)
        for d, dirs, files in os.walk(root):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            for f in files:
                if not f.startswith(("_", ".")):
                    total += os.path.getsize(os.path.join(d, f))
            if total > limit:
                return False
    return bool(roots) and total <= limit


_PARTS_CACHE: dict[tuple[str, int], int] = {}


def scan_num_partitions(df: DataFrame) -> int:
    """``df.rdd.getNumPartitions()`` memoized per (application,
    canonical plan): the RDD conversion runs the full driver-side
    analysis + physical-planning pipeline and a py4j roundtrip —
    ~0.1-0.2s of pure declaration overhead PER CALL, paid again on
    every re-declaration of a query that probes its scan (r7 verdict).
    The partition count of a given plan is stable within one
    application (fixtures are immutable; the split math depends only
    on session confs that don't change mid-run), so key the memo on
    ``semanticHash`` — one cheap analysis-only roundtrip — and pay the
    RDD conversion once per distinct plan.

    A plan with an exchange is never converted: under AQE that runs
    every shuffle and broadcast stage upstream (and fills any cache on
    the way) at declaration time. Its physical plan, which no job
    builds, gives the count instead: a shuffle on the output path
    sets it (before any AQE coalescing), and 0 means the output
    follows a scan through broadcast joins, which reads as
    under-partitioned."""
    sc = df.sparkSession.sparkContext
    try:
        key = (sc.applicationId, df.semanticHash())
    except Exception:  # non-classic backends: fall through uncached
        return df.rdd.getNumPartitions()
    if key not in _PARTS_CACHE:
        plan = df._jdf.queryExecution().executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            n = plan.executedPlan().outputPartitioning().numPartitions()
        else:
            n = df.rdd.getNumPartitions()
        _PARTS_CACHE[key] = n
    return _PARTS_CACHE[key]


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the frame (no job run)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # non-JVM-backed or API change: fall back to "unknown"
        return None


def fan_out(df: DataFrame, min_bytes: int = 0) -> DataFrame:
    """Round-robin the scan to ``defaultParallelism`` partitions when
    it arrives with fewer — a CPU-parallelism fix for heavy PER-ROW
    expression work (array builds, regex packs, n-gram explodes) on
    mid-size inputs that land as a handful of parquet files. At 100 TB
    the scan already yields >= cores splits and this is a no-op; the
    Exchange it inserts on small inputs moves the raw rows ONCE,
    before the expensive projection, and is repaid many times over
    (measured: text_repetition 12.1s -> sub-second at sf0.1, which
    arrives as ONE split). This is the engine's only spread decision:
    every operator that fans out an under-partitioned input calls it.
    The partition probe runs no job, even on a frame with exchanges
    (``scan_num_partitions``). A table under the AQE minimum partition
    size arrives as ONE partition (:func:`read_parquet` coalesces it,
    a sub-MiB file being one split on any cluster anyway), so an
    expanding operator over it spreads here once above ``min_bytes``,
    and a non-expanding plan over it stays in one task.

    ``min_bytes``: skip the exchange when Catalyst's plan-size stat is
    below this floor — for kernels whose per-byte cost is low enough
    that on tiny inputs the exchange + task overhead exceeds the
    single-core work it parallelizes (e.g. the k-mer count's
    slice-frame floor; no job is run to probe)."""
    sc = df.sparkSession.sparkContext
    if scan_num_partitions(df) >= sc.defaultParallelism:
        return df
    if min_bytes > 0:
        size = _plan_size_bytes(df)
        if size is not None and size < min_bytes:
            return df
    return df.repartition(sc.defaultParallelism)


def fingerprint(sf_dir: str, table: str) -> str:
    """Digest of the source parquet ``{sf_dir}/{table}.parquet``: its
    absolute path plus each file's name, size and mtime, so a
    regenerated fixture or one read from another CWD changes it.
    Raises OSError when the table does not exist. Local-filesystem
    paths only."""
    src = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))
    h = hashlib.sha256(src.encode())
    files = (
        [src]
        if os.path.isfile(src)
        else [os.path.join(src, p) for p in sorted(os.listdir(src))]
    )
    for p in files:
        st = os.stat(p)
        h.update(f"{os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()


def read_layout(spark: SparkSession, path: str) -> DataFrame:
    """Memoized :func:`read_parquet` over a published write-once
    layout (r14): the read itself is pure declaration, but its
    schema-resolution/file-listing step launches one small Spark job
    per call, which (a) costs ~0.3-0.5 s of py4j + scheduling per
    re-declaration and (b) trips the declared-plan cache's purity
    guard (queries/__init__._prepared), so every consumer re-paid its
    WHOLE declaration forever. Layouts are immutable once their
    ``_SUCCESS`` marker exists, so the lazy frame is memoized with the
    same session + source-stamp + floor key as :func:`load_table` — a
    republished layout (new fingerprint dir, or a pruned-and-rebuilt
    one) changes the stamp and can never be served stale. Every
    materialization still scans the layout files. Keys are
    namespaced apart from load_table's (see _cache_insert) and
    superseded stamps are evicted on insert."""
    per_session = _cache_for(spark)
    key = ("layout", path, _source_stamp(path), _one_partition_floor(spark))
    if key not in per_session:
        _cache_insert(per_session, key, read_parquet(spark, path))
    return per_session[key]


def publish_layout_atomic(write_fn, path: str) -> None:
    """``write_fn(tmp)`` builds into a pid-suffixed sibling, which one
    ``os.rename`` publishes. Two sessions building the same key (bench
    and parity on one fixture) each write their own copy; the loser of
    the rename drops its copy and reads the winner's, which is
    identical because builds are deterministic per key. A build that
    raises leaves nothing behind."""
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        write_fn(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            raise


def keyed_dir(
    sf_dir: str | None, family: str, tables: tuple[str, ...], deriv: str
) -> str:
    """The one rule for every directory derived under
    ``$TMPDIR/smrgh_roundtrip``: ``{family}_{fixture8}_{hash16}``.
    ``fixture8`` hashes the absolute ``sf_dir`` (None for a tree no
    fixture feeds, whose family then names its scope); ``hash16``
    covers the fingerprint of every named table plus ``deriv``, which
    must name every constant the contents depend on (a version stamp,
    parallelism, a drained schema). Changing any of them yields a new
    dir, so stale contents can never be read against a fresh fixture,
    and repeated runs reuse one tree.

    Prune scope: when the keyed dir does not exist yet (the caller is
    about to create it), every other ``{family}_{fixture8}_*`` sibling
    is deleted — the same family of the same fixture under an older
    fingerprint or derivation. Other fixtures' trees are never
    touched, so a run at one scale cannot delete a tree that a
    concurrent run at another scale is reading or draining; two
    variants that must live side by side need families of their own.
    An existing dir costs one ``exists`` check and no listing.
    In-flight ``.tmp<pid>`` builds never match. Raises OSError when a
    table cannot be fingerprinted."""
    keys = [fingerprint(sf_dir, t) for t in tables]
    scope = os.path.abspath(sf_dir) if sf_dir else ""
    fixture8 = hashlib.sha256(scope.encode()).hexdigest()[:8]
    h = hashlib.sha256("|".join([*keys, deriv]).encode()).hexdigest()[:16]
    prefix = f"{family}_{fixture8}_"
    root = os.path.join(tempfile.gettempdir(), "smrgh_roundtrip")
    path = os.path.join(root, prefix + h)
    if not os.path.exists(path):
        stale = re.compile(re.escape(prefix) + r"[0-9a-f]{16}")
        with contextlib.suppress(OSError):
            for other in os.listdir(root):
                if stale.fullmatch(other):
                    shutil.rmtree(os.path.join(root, other), ignore_errors=True)
    return path


def derived_layout(
    sf_dir: str, family: str, tables: tuple[str, ...], deriv: str, write
) -> str:
    """The one write-once layout mechanism: the published directory of
    layout ``family``, derived from the fixture's ``tables`` by
    ``write``, built on first use.

    The boundary rule (r15): layouts may restructure input, and may
    not store a result the timed query is credited with computing.

    The dir and its pruning are :func:`keyed_dir`'s. ``write(tmp)``
    fills ``tmp`` and runs only while the keyed dir lacks its
    ``_SUCCESS`` marker; the marker is added after it returns, and
    :func:`publish_layout_atomic` publishes the result. Raises
    OSError when a table cannot be fingerprinted."""
    path = keyed_dir(sf_dir, family, tables, deriv)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):

        def build(tmp: str) -> None:
            write(tmp)
            # Spark's writers leave the marker; hand-built trees don't
            with open(os.path.join(tmp, "_SUCCESS"), "a"):
                pass

        publish_layout_atomic(build, path)
    return path
