"""Structured Streaming over the ``events`` table (SURVEY.md §2.10 —
no reference counterpart; additive capability per the north star).

The batch/stream unification is the point: the same tumbling-window
aggregation expression runs as a batch groupBy or as a watermarked
streaming query, and the tests assert both produce identical results
(the streaming analog of the reference's device-1/2/3 agreement
invariant, SURVEY §5).

At cluster scale the source would be Kafka (`readStream.format
("kafka")`) — here the file source replays the parquet fixture, which
exercises the identical watermark/state machinery, and the
rate-micro-batch source (stream_rate_source_to_parquet) executes the
non-file admission path: offset tracking, checkpoint resume across
restarts, exactly-once append — everything a broker deployment uses
except the broker itself (descoped, SURVEY §2.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import (
    _ns_timestamp_cols,
    derived_layout,
    keyed_dir,
    load_table,
    parquet_schema,
    read_parquet,
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table. Streaming sources need
    an explicit schema: the memoized ``parquet_schema``, whose
    ns-precision timestamps are raw nanoseconds that go through the
    same microsecond conversion as the batch loader."""
    path = f"{sf_dir}/events.parquet"
    ns_cols = _ns_timestamp_cols(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the file stream source requires a directory: stream the sf dir
    # with a glob pinned to the events file
    stream = (
        spark.readStream.schema(parquet_schema(spark, path))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    for c in ns_cols:
        stream = stream.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # us-precision no-tz parquet infers TIMESTAMP_NTZ, which watermarks
    # reject; session TZ is pinned UTC so the cast is value-identical.
    for f in stream.schema:
        if f.dataType.typeName() == "timestamp_ntz":
            stream = stream.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return stream


def tumbling_counts(
    events: DataFrame, width: str = "1 hour", watermark: str | None = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts per event type. Works on a
    stream (late data beyond ``watermark`` dropped, state evicted per
    window close) and on a batch frame (watermark is a no-op there).
    Pass ``watermark=None`` when the stream is already watermarked
    upstream (e.g. after a dedup stage) — redefining it is an error."""
    src = (
        events.withWatermark("ts", watermark)
        if events.isStreaming and watermark is not None
        else events
    )
    return (
        src.groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_avg(events: DataFrame, width: str = "2 hours", slide: str = "1 hour") -> DataFrame:
    """Sliding-window rolling stats (each event lands in width/slide
    windows). Emits count + rounded sum + the derived average; the
    hash-bearing columns are n/sum_value — round(avg) of doubles is
    NOT bit-stable across engines (authoring convention rule 3), so
    avg_value is excluded from the declared-query projection."""
    src = events.withWatermark("ts", "2 hours") if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", width, slide).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .select(F.col("win.start").alias("win_start"), "n", "sum_value", "avg_value")
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exactly-once-per-id dedup with bounded state:
    duplicates arriving within the watermark horizon are dropped,
    state for expired event-times is evicted (the streaming
    generalization of the reference sink's unordered_set dedup,
    src/main.cpp:62-70 — which would grow without bound on a stream)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def run_available_now(result: DataFrame, name: str, mode: str = "complete") -> None:
    """Drain the full backlog through the streaming engine
    (Trigger.AvailableNow) into an in-memory table ``name``.

    ``complete`` for windowed aggregations: in append mode a window
    only emits once the watermark passes its end, so the trailing
    windows of a finite backlog would be withheld in state forever.
    Row-level streams (e.g. dedup) use ``append``."""
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _n_committed(checkpoint: str) -> int:
    """Number of micro-batches durably committed at ``checkpoint`` —
    the engine's own offset ledger (one all-digit file per committed
    batch under commits/). Local-FS probe, same assumption as
    sources.tables.keyed_dir."""
    import os

    d = os.path.join(checkpoint, "commits")
    if not os.path.isdir(d):
        return 0
    return sum(1 for p in os.listdir(d) if p.isdigit())


def _overwrite_sink(path: str):
    """Complete-mode foreachBatch sink: each batch overwrites ``path``
    with the full current result — idempotent under redelivery, and
    the last committed batch is the aggregate of the whole backlog."""
    return lambda batch_df, batch_id: batch_df.write.mode("overwrite").parquet(path)


def stream_tumbling_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: stream the events fixture through an event_id
    dropDuplicatesWithinWatermark stage (the exactly-once ingestion
    guard: state bounded by the watermark horizon, not the stream
    length) and watermarked tumbling windows, drain with availableNow,
    return the result. The watermark is declared once, upstream of the
    dedup.

    The stateful shuffles run on 8 state partitions: a streaming
    query's state partitioning is pinned at the first checkpoint, so
    it is sized to *state cardinality* (distinct keys within the
    watermark horizon), never inherited from the batch shuffle
    parallelism — each state-store partition pays checkpoint IO per
    micro-batch whether or not it holds keys. State lives in the
    default HDFS-backed in-memory provider; a RocksDB provider (state
    spilled to local disk) would be a new option, added when a query
    needs it.

    The shuffle override is scoped to a CLONED session
    (``spark.newSession()`` — shared SparkContext, isolated SQLConf),
    so batch queries running concurrently on the caller's session
    never observe the streaming conf; the returned DataFrame is bound
    to the clone (same JVM data, collectable anywhere).

    The sink is DURABLE (foreachBatch complete-overwrite parquet +
    checkpoint in a ``keyed_dir`` keyed on the fixture fingerprint and
    the drained schema): a re-run against an unchanged fixture resumes
    a complete checkpoint, drains nothing, and reads the persisted
    result back — restart-resume exactly-once, the r7 pattern the
    append-mode streaming queries already use. Single-process use per
    keyed tree (local-FS markers, no cross-process locking)."""
    scoped = spark.newSession()
    src = (
        stream_events(scoped, sf_dir)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    result = tumbling_counts(src, watermark=None)
    scoped.conf.set("spark.sql.shuffle.partitions", "8")
    # the family keeps its older spelling, so this tree's first build
    # prunes the trees drained under the older derivation
    base = keyed_dir(
        sf_dir,
        "stream_tumbling_stream_tumbling",
        ("events",),
        f"{result.schema.json()};dedup=event_id",
    )
    sink = _overwrite_sink(f"{base}/state")
    stream_foreach_batch(result, sink, f"{base}/ckpt", "complete")
    return read_parquet(scoped, f"{base}/state", result.schema)


def stream_sliding_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window averages through the streaming engine (file
    source -> watermark -> 2h/1h sliding windows -> availableNow drain
    into a durable complete-overwrite parquet sink). Same
    session-scoping and restart-resume discipline as
    stream_tumbling_to_table."""
    scoped = spark.newSession()
    result = sliding_avg(stream_events(scoped, sf_dir))
    scoped.conf.set("spark.sql.shuffle.partitions", "8")
    base = keyed_dir(sf_dir, "stream_sliding", ("events",), result.schema.json())
    sink = _overwrite_sink(f"{base}/state")
    stream_foreach_batch(result, sink, f"{base}/ckpt", "complete")
    return (
        read_parquet(scoped, f"{base}/state", result.schema)
        .select("win_start", "n", "sum_value")
    )


def stream_running_max_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState running-max through the streaming engine.
    Update mode emits one row per key per micro-batch that touched it;
    both state fields are monotone (count accumulates, max never
    decreases), so the final per-key state is recovered batching-
    independently with a max over the emitted rows — the query is
    deterministic whether the backlog replays as 1 micro-batch or 50.
    The emitted rows land in a durable batch-keyed parquet sink
    (foreachBatch, idempotent on batch id) so re-runs against an
    unchanged fixture resume the complete checkpoint and just read the
    sink back — restart-resume, same as the other durable drains."""
    scoped = spark.newSession()
    result = stateful_running_max(stream_events(scoped, sf_dir))
    scoped.conf.set("spark.sql.shuffle.partitions", "8")
    base = keyed_dir(sf_dir, "stream_rmax", ("events",), result.schema.json())

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # batch-keyed subdirs: redelivery overwrites, never duplicates
        batch_df.write.mode("overwrite").parquet(f"{base}/sink/b{batch_id}")

    stream_foreach_batch(result, sink, f"{base}/ckpt", "update")
    return (
        read_parquet(scoped, f"{base}/sink/b*", result.schema)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("max_value").alias("max_value"),
        )
    )


def stream_interval_join_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: clicks joined to the purchases
    that follow within 1 hour, both sides watermarked so join state is
    EVICTED as event time advances — the property that makes a
    stream-stream join runnable forever (state holds only the
    watermark horizon, not the stream history). Inner join rows emit
    as soon as both inputs arrive (append mode withholds nothing for
    inner joins); the drained rows are aggregated per user in batch
    for a compact deterministic result.

    The fixture replays as a single availableNow micro-batch (one
    parquet file), so watermark eviction cannot drop true pairs here;
    on a live multi-batch stream the 2-hour watermark bounds both
    state size and how late a side may arrive."""
    scoped = spark.newSession()
    src = stream_events(scoped, sf_dir)
    clicks = (
        src.where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        src.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), "value")
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user AND p_ts >= click_ts"
            " AND p_ts <= click_ts + INTERVAL 1 HOUR"
        ),
        "inner",
    ).select("user_id", "click_ts", "p_ts", "value")
    # join state keys = users in the watermark horizon (150 in the
    # fixture): 4 state partitions measured best locally; size to
    # horizon key-cardinality on a real deployment (see
    # stream_tumbling_to_table's state-partition discussion)
    scoped.conf.set("spark.sql.shuffle.partitions", "4")
    # durable keyed sink: re-runs resume the complete checkpoint and
    # drain nothing (restart-resume exactly-once; inner-join append
    # rows are immutable once emitted, so the sink is append-safe)
    base = keyed_dir(sf_dir, "stream_ssjoin", ("events",), joined.schema.json())
    stream_to_parquet(joined, f"{base}/sink", f"{base}/ckpt")
    return (
        read_parquet(scoped, f"{base}/sink", joined.schema)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum("value"), 2).alias("sum_purchase_value"),
        )
    )


def stream_enrich_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the purchase stream joined to
    the customer dimension (broadcast — stateless, no watermark
    needed; the static side is re-resolvable per micro-batch, which
    is how slowly-changing dims refresh mid-stream). Drained rows
    aggregate per market segment in batch. The durable tree is keyed
    on both tables it reads."""
    scoped = spark.newSession()
    src = stream_events(scoped, sf_dir)
    purchases = src.where(F.col("event_type") == "purchase").select(
        "user_id", "value"
    )
    dim = load_table(scoped, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = purchases.join(F.broadcast(dim), "user_id")
    scoped.conf.set("spark.sql.shuffle.partitions", "4")
    base = keyed_dir(
        sf_dir, "stream_enrich", ("events", "customer"), enriched.schema.json()
    )
    stream_to_parquet(enriched, f"{base}/sink", f"{base}/ckpt")
    return (
        read_parquet(scoped, f"{base}/sink", enriched.schema)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", key: str = "user_id"
) -> DataFrame:
    """Session-window aggregation: events for a key belong to one
    session while each is within ``gap`` of the previous; the window
    closes ``gap`` after the last event. Identical expression in batch
    and stream (session_window supports both); on a stream the
    watermark bounds session state. SQL-oracled in batch mode via
    gap-island detection (lag + cumulative new-session flags)."""
    src = events.withWatermark("ts", gap) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("win"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col(key),
            F.col("win.start").alias("session_start"),
            "n",
            "sum_value",
        )
    )


def stateful_running_max(events: DataFrame, key: str = "user_id") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-key
    running max of ``value`` with event count. The state tuple is the
    streaming analog of the reference's per-key accumulation
    (Mapped::operator+, src/GPU_Module/GPU.cpp:20-27) with explicit
    lifetime management — the piece Spark's built-in aggregates hide.

    Each micro-batch emits one row per updated key; state survives
    across batches and is bounded by the distinct-key count, never the
    event count. No key times out: a pending processing-time timeout
    would keep an availableNow drain alive until the wall clock
    reaches it."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key} long, n_events long, max_value double"
    state_schema = "n long, mx double"

    def update(key_tuple, pdfs, state: GroupState):
        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame({key: [key_tuple[0]], "n_events": [n], "max_value": [mx]})

    return events.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_to_parquet(result: DataFrame, path: str, checkpoint: str) -> None:
    """Append-mode parquet streaming sink with a checkpoint: the
    durable analog of the reference's output.txt sink
    (src/main.cpp:55-73) — exactly-once per micro-batch via the
    checkpoint/WAL, safe to restart. Drains the available backlog
    (availableNow) then stops."""
    q = (
        result.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_purchases_to_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durable-sink roundtrip: stream the events fixture, keep the
    row-level purchase stream (stateless — append mode emits every row
    immediately; an aggregation here would withhold trailing windows
    until a watermark that never advances past a finite backlog),
    drain it into a parquet sink with a checkpoint (exactly-once per
    micro-batch), then read the files back and aggregate per day in
    batch. The returned frame is the proof the durable sink holds
    exactly the streamed rows. Conf stays on a cloned session, same as
    stream_tumbling_to_table. The base dir is a ``keyed_dir`` (one
    durable tree per fixture state and drained schema): re-runs resume
    the complete checkpoint, drain nothing, and read the sink —
    restart-resume exactly-once, not a fresh re-ingest per call."""
    scoped = spark.newSession()
    src = stream_events(scoped, sf_dir)
    purchases = src.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    base = keyed_dir(sf_dir, "stream_pq", ("events",), purchases.schema.json())
    stream_to_parquet(purchases, f"{base}/data", f"{base}/ckpt")
    back = read_parquet(scoped, f"{base}/data", purchases.schema)
    return (
        back.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def stream_rate_source_to_parquet(
    spark: SparkSession, rows_per_batch: int = 2000, n_batches: int = 5
) -> DataFrame:
    """The NON-FILE streaming source path, end to end: the
    rate-micro-batch source generates offset-tracked synthetic rows
    (value = a monotonically increasing long — exactly ``rows_per_
    batch`` per micro-batch, deterministic by construction), drained
    through a checkpointed parquet sink over ``n_batches`` separate
    query STARTS against the same checkpoint. Each restart resumes
    from the committed offset — after k restarts the sink holds
    exactly values [0, k * rows_per_batch), never a duplicate, never
    a gap. This is the offset-tracking / checkpoint-resume /
    exactly-once-append machinery a Kafka deployment exercises, proven
    without a broker: swapping ``format("rate-micro-batch")`` for
    ``format("kafka")`` (sources/connectors.py:read_kafka_stream)
    changes the source admission only, not the state/commit path.
    Kafka itself is descoped (no broker exists in this environment or
    the reference's — SURVEY §2.1).

    The restart LOOP is driven by the checkpoint's own commit ledger,
    not a fixed iteration count: each pass starts a query that resumes
    from the committed offset and commits exactly one more batch, until
    ``n_batches`` are durably committed. A completed tree (a
    ``keyed_dir`` whose family names ``rows_per_batch`` x ``n_batches``,
    so each parameter pair keeps a tree of its own) is therefore reused
    READ-ONLY by later calls — the result is always exactly values
    [0, n_batches * rows_per_batch), whether this call performed all
    the restarts, some of them (crash recovery), or none (re-run).
    Single-process use per keyed tree, like the other durable sinks."""
    scoped = spark.newSession()
    src = (
        scoped.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(rows_per_batch))
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 1000)
        .load()
        .select("value")
    )
    base = keyed_dir(None, f"rate_{rows_per_batch}x{n_batches}", (), src.schema.json())
    ckpt = f"{base}/ckpt"
    attempts = 0
    while _n_committed(ckpt) < n_batches:
        attempts += 1
        if attempts > 2 * n_batches + 2:
            raise RuntimeError(
                f"rate source made no commit progress at {ckpt} "
                f"({_n_committed(ckpt)}/{n_batches} after {attempts} starts)"
            )
        stream_to_parquet(src, f"{base}/data", ckpt)
    return read_parquet(scoped, f"{base}/data", src.schema)


def stream_foreach_batch(
    result: DataFrame, sink, checkpoint: str, mode: str = "append"
) -> None:
    """The availableNow foreachBatch drain: ``sink(batch_df, batch_id)``
    runs arbitrary batch-DataFrame logic (overwrite, merge/upsert,
    multi-table write) per micro-batch. ``mode`` is the output mode:
    ``complete`` for windowed aggregates (append would withhold the
    trailing windows of a finite backlog in state), ``update`` for a
    stateful operator, ``append`` for row-level streams. The
    checkpoint makes redelivery at-least-once; sinks must be
    idempotent on (batch_id) — e.g. overwrite, write to a batch-keyed
    path or MERGE on a key. A re-run against a complete checkpoint
    drains nothing and leaves the durable output in place."""
    q = (
        result.writeStream.foreachBatch(sink)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


_CDC_FEED_FILES = 4


def stream_cdc_upsert_to_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply through the streaming engine: the events table poses
    as a keyed change feed (key = user_id, version = (ts, event_id)),
    split into ``_CDC_FEED_FILES`` parquet files and drained ONE FILE
    PER MICRO-BATCH (maxFilesPerTrigger=1) through foreachBatch, which
    MERGEs each batch into a keyed parquet state — latest version
    wins. This is the streaming complement of the batch MERGE
    (queries/relational.py merge_upsert): same latest-wins semantics,
    applied incrementally with a checkpoint instead of in one shot.

    Correctness properties the declared query's oracle rides on:
    - the merge is an argmax over (ts, event_id) — associative and
      commutative, so the final state is independent of how the
      engine batches the feed;
    - re-delivery is idempotent: merging a batch twice is a no-op
      (max of max), the foreachBatch contract's requirement;
    - state stays key-grain: |users| rows regardless of feed length —
      the bounded-state shape that survives an unbounded CDC stream.
    The merged frame is localCheckpointed before the overwrite so the
    state dir is never read and rewritten in the same job.

    Storage: the feed is restructured input, so it is a
    ``derived_layout`` (published atomically, built once per fixture
    state); the state and checkpoint live in a ``keyed_dir`` keyed on
    the feed and the drained schema. Repeated runs against an
    unchanged fixture reuse both: the checkpoint already covers the
    feed, availableNow finds nothing new, and the call returns the
    (deterministic) persisted state. A run killed mid-stream resumes
    from the checkpoint and converges to the same state — the merge is
    idempotent. Local filesystem only (the state's _SUCCESS probe and
    the tempdir anchor assume one)."""
    import os

    from pyspark.sql import Window

    changes = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    feed = derived_layout(
        sf_dir,
        "cdc_feed",
        ("events",),
        f"{changes.schema.json()};files={_CDC_FEED_FILES}",
        lambda tmp: changes.repartition(_CDC_FEED_FILES).write.parquet(tmp),
    )
    scoped = spark.newSession()
    schema = parquet_schema(scoped, feed)
    src = (
        scoped.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    base = keyed_dir(
        sf_dir, "cdc_state", ("events",), f"{os.path.basename(feed)};{schema.json()}"
    )
    state_dir, ckpt = f"{base}/state", f"{base}/ckpt"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        if os.path.exists(os.path.join(state_dir, "_SUCCESS")):
            merged_src = s.read.schema(schema).parquet(state_dir).unionByName(batch_df)
        else:
            merged_src = batch_df
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        merged = (
            merged_src.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
            .localCheckpoint()
        )
        merged.write.mode("overwrite").parquet(state_dir)

    stream_foreach_batch(src, apply_batch, ckpt)
    return read_parquet(spark, state_dir, schema)


def stream_dedup_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once-per-id dedup end to end: a feed with
    REAL duplicates (the full events table plus a second copy of the
    event_id % 3 == 0 slice, as separate parquet files) is drained
    through dropDuplicatesWithinWatermark (dedup_within_watermark)
    into a durable parquet sink, then reduced to an exact integer
    digest per event_type. The feed is drained in ONE availableNow
    batch (no maxFilesPerTrigger) so the result is deterministic
    regardless of file enumeration order — multi-batch re-delivery
    semantics are exercised by stream_cdc_upsert, watermark-horizon
    eviction by the operator's unit tests. Oracle: the digest over the
    DISTINCT feed, i.e. the original table — streaming dedup must
    reproduce batch DISTINCT exactly.

    The feed is a ``derived_layout`` like the CDC feed: both write
    steps land in one unpublished copy, so a crash between them can
    never leave a duplicate-free feed that silently turns the dedup
    gate into a no-op. The sink and checkpoint live in a ``keyed_dir``
    keyed on the feed and the drained schema."""
    import os

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )

    def write_feed(tmp: str) -> None:
        ev.coalesce(2).write.parquet(tmp)
        dup = ev.where(F.col("event_id") % 3 == 0)
        dup.coalesce(1).write.mode("append").parquet(tmp)

    feed = derived_layout(
        sf_dir,
        "dedup_feed",
        ("events",),
        f"{ev.schema.json()};files=2;dup=event_id%3==0;dup_files=1",
        write_feed,
    )
    scoped = spark.newSession()
    src = scoped.readStream.schema(parquet_schema(scoped, feed)).parquet(feed)
    for f in src.schema:
        if f.dataType.typeName() == "timestamp_ntz":
            src = src.withColumn(f.name, F.col(f.name).cast("timestamp"))
    deduped = dedup_within_watermark(src, watermark="1 hour")
    # a re-run against an unchanged fixture resumes a complete
    # checkpoint, drains nothing, and reads the sink back — the
    # restart-resume exactly-once property, same as stream_cdc_upsert
    base = keyed_dir(
        sf_dir,
        "stream_dedup",
        ("events",),
        f"{os.path.basename(feed)};{deduped.schema.json()}",
    )
    stream_to_parquet(deduped, f"{base}/sink", f"{base}/ckpt")
    back = read_parquet(scoped, f"{base}/sink", deduped.schema)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.min("event_id").cast("bigint").alias("min_eid"),
        F.max("event_id").cast("bigint").alias("max_eid"),
        F.sum("event_id").cast("bigint").alias("sum_eid"),
    )
