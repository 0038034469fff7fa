"""Streaming tests: batch/stream result equivalence (the streaming
analog of the reference's device-agreement invariant), sliding
windows, and watermark dedup."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import load_table
from sycl_mapreduce_cpu_gpu_hybrid_spark.streaming.events import (
    dedup_within_watermark,
    run_available_now,
    sliding_avg,
    stream_events,
    tumbling_counts,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _all_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


STREAM_QUERIES = [n for n in entry.queries() if n.startswith("stream_")]


def test_stream_equals_batch_tumbling(spark, sf_dir):
    batch = tumbling_counts(load_table(spark, sf_dir, "events"))
    streamed = tumbling_counts(stream_events(spark, sf_dir))
    run_available_now(streamed, "t_tumbling_eq", mode="complete")
    cols = ["win_start", "event_type", "n", "sum_value"]
    assert _rows(spark.table("t_tumbling_eq"), cols) == _rows(batch, cols)


def test_stream_equals_batch_sliding(spark, sf_dir):
    batch = sliding_avg(load_table(spark, sf_dir, "events"))
    streamed = sliding_avg(stream_events(spark, sf_dir))
    run_available_now(streamed, "t_sliding_eq", mode="complete")
    cols = ["win_start", "avg_value"]
    assert _rows(spark.table("t_sliding_eq"), cols) == _rows(batch, cols)


def test_dedup_within_watermark(spark, sf_dir):
    stream = dedup_within_watermark(stream_events(spark, sf_dir))
    run_available_now(stream, "t_dedup_wm", mode="append")
    out = spark.table("t_dedup_wm")
    n_events = load_table(spark, sf_dir, "events").count()
    # fixture ids are unique, so dedup must be lossless here; the
    # operator's job is bounded state, not dropping unique rows
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events


def test_stream_equals_batch_session(spark, sf_dir):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.streaming.events import session_counts

    batch = session_counts(load_table(spark, sf_dir, "events"))
    streamed = session_counts(stream_events(spark, sf_dir))
    run_available_now(streamed, "t_session_eq", mode="complete")
    cols = ["user_id", "session_start", "n", "sum_value"]
    assert _rows(spark.table("t_session_eq"), cols) == _rows(batch, cols)


def test_stateful_running_max(spark, sf_dir):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.streaming.events import (
        stateful_running_max,
    )

    streamed = stateful_running_max(stream_events(spark, sf_dir))
    run_available_now(streamed, "t_stateful_max", mode="update")
    out = spark.table("t_stateful_max")
    # update mode: keep each key's last emission (max n_events)
    final = (
        out.groupBy("user_id")
        .agg(F.max_by("max_value", "n_events").alias("max_value"),
             F.max("n_events").alias("n_events"))
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("value").alias("max_value"), F.count(F.lit(1)).alias("n_events"))
    )
    cols = ["user_id", "n_events", "max_value"]
    assert _rows(final, cols) == _rows(batch, cols)


def test_stream_parquet_sink_roundtrip(spark, sf_dir, tmp_path):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.streaming.events import (
        stream_to_parquet,
    )

    deduped = dedup_within_watermark(stream_events(spark, sf_dir))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream_to_parquet(deduped, out, ckpt)
    back = spark.read.parquet(out)
    n = load_table(spark, sf_dir, "events").count()
    assert back.count() == n
    assert back.select("event_id").distinct().count() == n


def test_stream_foreach_batch_idempotent_paths(spark, sf_dir, tmp_path):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.streaming.events import (
        stream_foreach_batch,
    )

    base = str(tmp_path / "batches")

    def sink(batch_df, batch_id):
        # batch-keyed path: redelivery overwrites, never duplicates
        batch_df.write.mode("overwrite").parquet(f"{base}/b{batch_id}")

    stream_foreach_batch(
        dedup_within_watermark(stream_events(spark, sf_dir)),
        sink,
        str(tmp_path / "ckpt"),
    )
    back = spark.read.parquet(f"{base}/*")
    assert back.count() == load_table(spark, sf_dir, "events").count()


def test_rate_source_restart_exactly_once(spark):
    """Non-file source E2E: n_batches separate query starts against
    one checkpoint must yield exactly the contiguous value range —
    a duplicate (offset replayed) or gap (offset skipped) fails."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.streaming.events import (
        stream_rate_source_to_parquet,
    )

    df = stream_rate_source_to_parquet(spark, rows_per_batch=50, n_batches=3)
    vals = sorted(r["value"] for r in df.collect())
    assert vals == list(range(150))


@pytest.mark.parametrize("name", STREAM_QUERIES)
def test_stream_redeclaration_launches_no_job(spark, sf_dir, name):
    """Against a drained checkpoint a stream query's declaration reads
    its schemas from memos and drained frames: the re-declaration
    launches no Spark job and reads back the first call's rows."""
    from bench import _skip_to_newest
    from perfbench.tracing import SparkReader

    fn = entry.queries()[name]
    first = _all_rows(fn(spark, sf_dir))
    reader = SparkReader(spark)
    _skip_to_newest(reader, spark)
    again = fn(spark, sf_dir)
    jobs, _ = reader.read_new()
    assert jobs == []
    assert _all_rows(again) == first


def test_stream_events_schema_follows_source_stamp(spark, sf_dir, tmp_path):
    """The events schema memo is keyed on the file's stamp: a rewritten
    fixture with one more column is inferred again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(f"{sf_dir}/events.parquet")
    path = tmp_path / "events.parquet"
    pq.write_table(table, path)
    scoped = spark.newSession()
    assert "extra" not in stream_events(scoped, str(tmp_path)).columns
    extra = pa.array(range(table.num_rows), pa.int64())
    pq.write_table(table.append_column("extra", extra), path)
    assert "extra" in stream_events(scoped, str(tmp_path)).columns


def test_file_sink_read_back_skips_uncommitted_files(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A read-back with an explicit schema still lists the file sink
    through its _spark_metadata log: a parquet file dropped into the
    sink without a log entry is not read."""
    import glob
    import tempfile

    from sycl_mapreduce_cpu_gpu_hybrid_spark.streaming.events import (
        stream_purchases_to_parquet,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    first = _all_rows(stream_purchases_to_parquet(spark, sf_dir))
    (base,) = glob.glob(str(tmp_path / "smrgh_roundtrip" / "stream_pq_*"))
    data = f"{base}/data"
    committed = spark.read.parquet(data).count()
    part = next(f for f in os.listdir(data) if f.endswith(".parquet"))
    shutil.copy(os.path.join(data, part), os.path.join(data, "part-stray.parquet"))
    # a listing read (a glob bypasses the log) does see the stray file
    assert spark.read.parquet(f"{data}/*.parquet").count() > committed
    again = stream_purchases_to_parquet(spark, sf_dir)
    assert _all_rows(again) == first


def test_durable_dir_keyed_on_drained_schema(spark, sf_dir):
    """Frames drained under one family land in one durable tree only
    when their schemas match: every stream keys its tree on the
    drained schema."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import keyed_dir

    def tree(df):
        return keyed_dir(sf_dir, "t_family", ("events",), df.schema.json())

    events = stream_events(spark.newSession(), sf_dir)
    same = tree(events)
    assert tree(events.select("*")) == same
    assert tree(events.select("event_id", "ts")) != same
