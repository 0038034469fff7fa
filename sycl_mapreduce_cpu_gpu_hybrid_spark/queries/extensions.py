"""Extension-surface queries: Structured Streaming, the pandas_udf
kernel registration path, and multimodal binary-column plumbing."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.oracle_gen import sql_list
from ..functions.udf import vowel_ratio_udf
from ..operators.multimodal import (
    FEATURE_DIM,
    MODALITIES,
    attach_encoded_audio,
    attach_encoded_images,
    attach_fake_media,
    audio_stats,
    byte_histogram_features,
    resize_images,
    sample_frames,
)
from ..sources.tables import load_table
from ..streaming.events import (
    session_counts,
    stream_enrich_to_table,
    stream_interval_join_to_table,
    stream_purchases_to_parquet,
    stream_rate_source_to_parquet,
    stream_running_max_to_table,
    stream_sliding_to_table,
    stream_tumbling_to_table,
)


def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window gap-sessions per user (batch mode — the same
    expression streams; tests assert batch/stream agreement). Oracled
    via SQL gap-island detection (lag + cumulative new-session flag)."""
    return session_counts(load_table(spark, sf_dir, "events"), gap="30 minutes")


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events replayed through the streaming engine (file source ->
    watermark -> dropDuplicatesWithinWatermark on event_id -> tumbling
    windows -> availableNow drain). The dedup stage is the exactly-
    once ingestion guard every production stream runs before a
    windowed aggregate (bounded state: ids expire with the watermark);
    event_id is unique in the fixture, so the batch oracle — 1-hour
    window starts == date_trunc — is unchanged."""
    return stream_tumbling_to_table(spark, sf_dir)


def stream_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The durable streaming sink, end to end: events replayed through
    the engine, purchase rows appended to checkpointed parquet files,
    files read back and aggregated per day in batch. Oracled — the
    sink must hold exactly the rows the batch filter selects."""
    return stream_purchases_to_parquet(spark, sf_dir)


_RATE_ROWS_PER_BATCH = 2000
_RATE_N_BATCHES = 5


def stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-file streaming source on the gate: 5 checkpointed restarts
    of a rate-micro-batch query (the broker-less stand-in for Kafka —
    same offset-tracking/resume/exactly-once-append path, different
    admission), then a batch aggregation over the drained sink. The
    oracle regenerates the exact expected value range [0, 10000) with
    generate_series: any duplicate or gap across the 5 restarts
    changes n/sum_value and fails the hash. ``sf_dir`` is unused —
    the source is synthetic by nature."""
    df = stream_rate_source_to_parquet(
        spark,
        rows_per_batch=_RATE_ROWS_PER_BATCH,
        n_batches=_RATE_N_BATCHES,
    )
    return df.groupBy((F.col("value") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
    )


def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h width / 1h slide) through the streaming
    engine. Oracled: every event lands in exactly width/slide = 2
    hour-aligned windows, so the batch replay unnests the two window
    starts per event and averages per start."""
    return stream_sliding_to_table(spark, sf_dir)


def stream_running_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState running
    max/count per user) drained through the streaming engine. The
    final state equals plain per-key count/max of the whole backlog,
    which is the oracle."""
    return stream_running_max_to_table(spark, sf_dir)


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (clicks x purchases within 1 hour,
    watermarked state eviction on both sides) drained through the
    engine; oracled as the equivalent batch self-join + interval
    predicate."""
    return stream_interval_join_to_table(spark, sf_dir)


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment (purchase stream x customer
    dim), the stateless streaming-ETL staple; oracled as the batch
    join."""
    return stream_enrich_to_table(spark, sf_dir)


def udf_kernel_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both user-kernel extension points in ONE plan: the Arrow-batched
    scalar pandas_udf (vectorized map — vowel ratio per document) feeds
    a GROUPED_AGG pandas_udf (custom combiner, the Mapped::operator+
    analog, src/GPU_Module/GPU.cpp:20-27 — per-bucket RMS of the
    ratios). Deliberately SQL-replicable so the Python kernel path
    itself passes the value-hash gate; the RMS stays a plain
    round(x, 4) double — the form proven driver-hash-green in round 2
    (DECIMAL casts fail the gate; see queries/__init__.py). On the
    strict-parity watchlist (tests/parity.py) so a future edit can't
    reintroduce the repr knife edge."""
    import numpy as np
    import pandas as pd

    from ..functions.udf import register_grouped_agg_kernel

    def rms(s: pd.Series) -> float:
        return float(np.sqrt(np.mean(np.square(s.to_numpy(dtype="float64")))))

    kernel = register_grouped_agg_kernel(spark, "rms_kernel", rms, "double")
    # a grouped-agg pandas UDF cannot share an agg() with JVM
    # aggregates, so the count rides the same Arrow path
    count_kernel = register_grouped_agg_kernel(
        spark, "count_kernel", lambda s: len(s), "long"
    )
    vr = vowel_ratio_udf()
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return (
        docs.select("doc_id", vr("text").alias("_ratio"))
        .groupBy((F.col("doc_id") % 10).alias("bucket"))
        .agg(
            count_kernel("_ratio").alias("n_docs"),
            F.round(kernel("_ratio"), 4).alias("rms_ratio"),
        )
    )


def udtf_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF via LATERAL join: per-document top-3 words with
    deterministic tiebreak, the one-row-to-many-rows user-kernel
    surface. Bounded to 200 docs like udf_kernel_pack (Python path —
    demo of the API, not a hot-path pattern)."""
    from ..functions.udf import register_top_words_udtf

    register_top_words_udtf(spark)
    load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 200
    ).createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT t.doc_id, t.word, t.cnt, t.rnk"
        " FROM _udtf_docs AS d, LATERAL top_words(d.doc_id, d.text) AS t"
    )


def udtf_top_words_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same UDTF kernel registered Arrow-optimized (useArrow=True)
    and run over the FULL documents table. Declared to prove the
    transport surface AND to pin a measured anti-guess: on this kernel
    Arrow transport is ~2-4x SLOWER than row pickling (0.5s vs 1.2s at
    sf0.1; 2.2s vs 9.6s at 10x rows, local[8]) — Spark 4.x Arrow
    UDTFs still call eval() per row and pay per-yield conversion, so
    the batch transport only wins on wide columnar inputs, not
    short-string fan-out. The row-transport variant is the recommended
    default for this shape; identical results prove transport doesn't
    change semantics."""
    from ..functions.udf import register_top_words_udtf

    register_top_words_udtf(spark, name="top_words_arrow", use_arrow=True)
    from ..sources.tables import fan_out

    # the kernel is pure per-row Python — without spreading the
    # single-split scan the whole table runs through ONE worker
    # (measured 7.4s -> sub-second at the derived sf1)
    fan_out(
        load_table(spark, sf_dir, "documents"), min_bytes=1_000_000
    ).createOrReplaceTempView("_udtf_docs_all")
    return spark.sql(
        "SELECT t.doc_id, t.word, t.cnt, t.rnk"
        " FROM _udtf_docs_all AS d, LATERAL top_words_arrow(d.doc_id, d.text) AS t"
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media pipeline: documents -> opaque payloads + typed
    metadata -> mapInPandas byte-histogram features (the stand-in for
    a decode/embed stage). Emits the RAW COUNT histogram as a CSV
    string plus the byte total — all integers/strings, so the full
    feature vector rides the driver's value hash against a DuckDB
    oracle generated from the same constants (FEATURE_DIM, MODALITIES,
    the 256/FEATURE_DIM bin width) that the fixture and extractor
    consume; the normalized-double variant stays the library default."""
    docs = load_table(spark, sf_dir, "documents")
    feats = byte_histogram_features(attach_fake_media(docs), normalize=False)
    return feats.select(
        "media_id",
        "modality",
        F.size("features").alias("feat_dim"),
        F.array_join(
            F.transform("features", lambda x: x.cast("string")), ","
        ).alias("hist_csv"),
        F.aggregate(
            "features", F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("n_bytes"),
    )


def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source on the gate: orders written once to a header CSV
    (idempotent per warehouse dir), read back through the
    explicit-schema reader (sources/files.py — no inference pass),
    aggregated per status. The oracle aggregates the original parquet:
    the text round-trip must be value-exact (Java double formatting is
    shortest-round-trip; dates are ISO)."""
    from ..sources.files import read_csv
    from ..sources.tables import derived_layout

    # the file count is part of the layout key: text parsing is the
    # whole cost of this query, and the parquet source's 1-4 splits
    # capped read parallelism at 4 tasks — spreading the one-time
    # write across default parallelism lets every core parse
    # (0.68 -> ~0.25s at sf0.1; same rows, same values)
    n_parts = spark.sparkContext.defaultParallelism
    path = derived_layout(
        sf_dir,
        "csv",
        ("orders",),
        f"parts={n_parts}",
        lambda tmp: load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .repartition(n_parts)
        .write.mode("overwrite")
        .option("header", True)
        .csv(tmp),
    )
    df = read_csv(
        spark,
        path,
        "o_orderkey bigint, o_orderstatus string, o_totalprice double,"
        " o_orderdate date",
    )
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.max("o_orderdate").alias("last_date"),
    )


def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source on the gate, mirroring source_csv_roundtrip:
    events (sans timestamp — JSON timestamp serialization is
    TZ-format-sensitive; the scalar packs cover timestamps) written
    once as JSONL, read back through the explicit-schema reader,
    aggregated per type."""
    from ..sources.files import read_json
    from ..sources.tables import derived_layout

    # same parse-parallelism spread as source_csv_roundtrip
    n_parts = spark.sparkContext.defaultParallelism
    path = derived_layout(
        sf_dir,
        "json",
        ("events",),
        f"parts={n_parts}",
        lambda tmp: load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "user_id", "value")
        .repartition(n_parts)
        .write.mode("overwrite")
        .json(tmp),
    )
    df = read_json(
        spark, path, "event_id bigint, event_type string, user_id bigint, value double"
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source on the gate (Spark's second built-in columnar
    format — same pushdown/pruning machinery as parquet): lineitem
    columns written once as ORC, read back, filtered + aggregated so
    the scan exercises predicate pushdown on the ORC reader. Oracle
    aggregates the original parquet."""
    from ..sources.tables import derived_layout

    path = derived_layout(
        sf_dir,
        "orc",
        ("lineitem",),
        "",
        lambda tmp: load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_discount")
        .write.mode("overwrite")
        .orc(tmp),
    )
    df = spark.read.orc(path)
    return (
        df.where(F.col("l_discount") > 0.05)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling on the gate: video payloads sliced into 32-byte
    frames JVM-side (substring arithmetic on the binary column, no
    Python), keeping every 2nd frame. Frames are emitted as hex
    strings because the driver hash needs a stable text rendering of
    binary (and DuckDB cannot slice BLOBs — its oracle slices the hex
    rendering at 2x the offsets instead)."""
    media = attach_fake_media(load_table(spark, sf_dir, "documents"))
    frames = sample_frames(media, every_nth=2, frame_bytes=32)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.length("frame").cast("int").alias("n_bytes"),
        F.hex("frame").alias("frame_hex"),
    )


def multimodal_decode_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode on the gate: per-document deterministic RGB
    images are encoded to actual PNG bytes (zlib-deflated, filtered
    scanlines — operators/codecs.py), carried as a binary column
    across an Arrow batch boundary, DECODED by the real PNG parser,
    then nearest-neighbor resized to 8x8. The oracle replays the pixel
    formula + resize arithmetic in pure SQL with no codec anywhere, so
    a value-hash match proves the encode->transport->decode->resample
    chain is bit-exact."""
    media = attach_encoded_images(load_table(spark, sf_dir, "documents"))
    resized = resize_images(media, out_w=8, out_h=8, fake_decode=False)
    px_int = F.transform("pixels", lambda x: x.cast("bigint"))
    return resized.select(
        "media_id",
        F.aggregate(
            px_int, F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("px_sum"),
        # md5 of the FULL pixel vector (row-major, CSV of ints): any
        # future mismatch localizes to the exact media_id from the row
        # alone instead of hiding inside an aggregate (r6 verdict #1)
        F.md5(
            F.array_join(
                F.transform("pixels", lambda x: x.cast("bigint").cast("string")),
                ",",
            )
        ).alias("px_md5"),
    )


def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode on the gate: deterministic PCM-16 waveforms
    encoded to actual RIFF/WAVE containers, decoded by the real RIFF
    chunk parser, reduced to integer sample statistics. Oracle replays
    the sample formula in SQL — codec-free — so the hash covers the
    WAV round-trip."""
    media = attach_encoded_audio(load_table(spark, sf_dir, "documents"))
    return audio_stats(media)


def _multimodal_oracle_sql() -> str:
    """DuckDB replay of the byte-histogram feature pipeline, generated
    from the SAME constants the Spark side consumes (FEATURE_DIM,
    MODALITIES): UTF-8-encode each document, parse bytes out of the
    hex rendering, bucket them at the shared bin width, and render the
    count vector as the same CSV string. Pure integer arithmetic end
    to end — bit-identical across engines by construction."""
    bin_width = 256 // FEATURE_DIM
    mods = sql_list(MODALITIES)
    return f"""
        WITH b AS (
            SELECT doc_id, hex(encode(text)) AS h,
                   octet_length(encode(text)) AS n
            FROM documents
        ), e AS (
            SELECT doc_id,
                   (('0x' || substr(h, CAST((i - 1) * 2 + 1 AS INT), 2))::INT)
                       // {bin_width} AS bin
            FROM b, unnest(range(1, n + 1)) AS u(i)
        ), m AS (
            SELECT doc_id, histogram(bin) AS mh FROM e GROUP BY doc_id
        )
        SELECT b.doc_id AS media_id,
               {mods}[CAST(b.doc_id % {len(MODALITIES)} AS INT) + 1] AS modality,
               {FEATURE_DIM} AS feat_dim,
               array_to_string(
                   [CAST(coalesce(map_extract(mh, bv)[1], 0) AS BIGINT)
                    FOR bv IN range(0, {FEATURE_DIM})], ',') AS hist_csv,
               b.n AS n_bytes
        FROM b LEFT JOIN m ON b.doc_id = m.doc_id
    """


QUERIES = {
    "events_sessionization": events_sessionization,
    "stream_tumbling_counts": stream_tumbling_counts,
    "stream_parquet_sink": stream_parquet_sink,
    "stream_rate_source": stream_rate_source,
    "stream_sliding_avg": stream_sliding_avg,
    "stream_running_max": stream_running_max,
    "stream_interval_join": stream_interval_join,
    "stream_static_enrich": stream_static_enrich,
    "udf_kernel_pack": udf_kernel_pack,
    "udtf_top_words": udtf_top_words,
    "udtf_top_words_arrow": udtf_top_words_arrow,
    "multimodal_frame_sample": multimodal_frame_sample,
    "source_csv_roundtrip": source_csv_roundtrip,
    "source_json_roundtrip": source_json_roundtrip,
    "source_orc_roundtrip": source_orc_roundtrip,
    "multimodal_features": multimodal_features,
    "multimodal_decode_resize": multimodal_decode_resize,
    "multimodal_audio_stats": multimodal_audio_stats,
}

ORACLES = {
    "events_sessionization": """
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts >= lag(ts) OVER w + INTERVAL '30 minutes'
                        OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
        ), numbered AS (
            SELECT user_id, ts, value,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, value
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        )
        SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
               count(*) AS n, round(sum(value), 2) AS sum_value
        FROM numbered GROUP BY user_id, sid
    """,
    "stream_tumbling_counts": """
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
               event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "stream_rate_source": f"""
        SELECT CAST(v % 10 AS BIGINT) AS bucket,
               count(*) AS n,
               CAST(sum(v) AS BIGINT) AS sum_value
        FROM generate_series(0, {_RATE_ROWS_PER_BATCH * _RATE_N_BATCHES - 1}) t(v)
        GROUP BY 1
    """,
    "stream_parquet_sink": """
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               count(*) AS n_purchases,
               round(sum(value), 2) AS sum_value
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    """,
    "stream_sliding_avg": """
        WITH w AS (
            SELECT CAST(date_trunc('hour', ts) - o * INTERVAL 1 HOUR
                        AS TIMESTAMP) AS win_start,
                   value
            FROM events, unnest([0, 1]) AS u(o)
        )
        SELECT win_start, count(*) AS n, round(sum(value), 2) AS sum_value
        FROM w GROUP BY 1
    """,
    "stream_running_max": """
        SELECT user_id, count(*) AS n_events, max(value) AS max_value
        FROM events GROUP BY user_id
    """,
    "stream_static_enrich": """
        SELECT c.c_mktsegment, count(*) AS n,
               round(sum(e.value), 2) AS sum_value
        FROM events e JOIN customer c ON c.c_custkey = e.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY 1
    """,
    "stream_interval_join": """
        SELECT c.user_id, count(*) AS n_pairs,
               round(sum(p.value), 2) AS sum_purchase_value
        FROM events c JOIN events p
          ON p.user_id = c.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        GROUP BY c.user_id
    """,
    "udf_kernel_pack": """
        WITH r AS (
            SELECT doc_id, doc_id % 10 AS bucket,
                   len(regexp_extract_all(text, '[aeiou]')) * 1.0
                       / greatest(length(text), 1) AS ratio
            FROM documents WHERE doc_id < 200
        )
        SELECT bucket, count(*) AS n_docs,
               round(sqrt(avg(ratio * ratio)), 4) AS rms_ratio
        FROM r GROUP BY bucket
    """,
    "udtf_top_words": r"""
        WITH toks AS (
            SELECT doc_id, t AS word
            FROM documents,
                 unnest(string_split_regex(trim(lower(text)), '\s+')) AS u(t)
            WHERE doc_id < 200 AND t != ''
        ), counts AS (
            SELECT doc_id, word, count(*) AS cnt FROM toks GROUP BY 1, 2
        ), ranked AS (
            SELECT doc_id, word, cnt,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, word) AS rnk
            FROM counts
        )
        SELECT doc_id, word, cnt, CAST(rnk AS INT) AS rnk
        FROM ranked WHERE rnk <= 3
    """,
    "udtf_top_words_arrow": r"""
        WITH toks AS (
            SELECT doc_id, t AS word
            FROM documents,
                 unnest(string_split_regex(trim(lower(text)), '\s+')) AS u(t)
            WHERE t != ''
        ), counts AS (
            SELECT doc_id, word, count(*) AS cnt FROM toks GROUP BY 1, 2
        ), ranked AS (
            SELECT doc_id, word, cnt,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, word) AS rnk
            FROM counts
        )
        SELECT doc_id, word, cnt, CAST(rnk AS INT) AS rnk
        FROM ranked WHERE rnk <= 3
    """,
    "source_csv_roundtrip": """
        SELECT o_orderstatus, count(*) AS n,
               round(sum(o_totalprice), 2) AS sum_price,
               CAST(max(o_orderdate) AS DATE) AS last_date
        FROM orders GROUP BY o_orderstatus
    """,
    "source_json_roundtrip": """
        SELECT event_type, count(*) AS n,
               count(DISTINCT user_id) AS n_users,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY event_type
    """,
    "source_orc_roundtrip": """
        SELECT l_returnflag, count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem WHERE l_discount > 0.05
        GROUP BY l_returnflag
    """,
    "multimodal_features": _multimodal_oracle_sql(),
    "multimodal_frame_sample": f"""
        WITH media AS (
            SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS n
            FROM documents
            WHERE {sql_list(MODALITIES)}[CAST(doc_id % {len(MODALITIES)} AS INT) + 1]
                  = 'video'
        ), frames AS (
            SELECT media_id, CAST(i AS INT) AS frame_idx,
                   substr(hx, CAST(i * 64 + 1 AS BIGINT), 64) AS frame_hex
            FROM media, unnest(range(0, (n - 1) // 32 + 1)) AS u(i)
        )
        SELECT media_id, frame_idx,
               CAST(length(frame_hex) // 2 AS INT) AS n_bytes, frame_hex
        FROM frames WHERE frame_idx % 2 = 0
    """,
    # codec-free replay of the deterministic pixel formula + 8x8
    # nearest-neighbor resample; Spark's side goes through the REAL
    # PNG encoder/decoder, so hash equality certifies the codec.
    # Version-stable SQL only (r6 verdict #1): no list slicing, no
    # map_extract, no list comprehensions — string_agg + plain GROUP
    # BY; and SUM is cast to BIGINT because DuckDB's native
    # SUM(BIGINT) returns HUGEINT, which round-trips as int via
    # fetchall but degrades to float64/decimal128 on the pandas/arrow
    # fetch paths (the exact r6 driver hash-fail mechanism —
    # reproduced: df() dtype float64, arrow decimal128(38,0)).
    "multimodal_decode_resize": """
        WITH d AS (
            SELECT doc_id, doc_id % 48 + 1 AS h, doc_id % 64 + 1 AS w
            FROM documents
        ), px AS (
            SELECT doc_id, yo.i AS yo, xo.i AS xo, c.i AS c,
                   CAST((doc_id * 31
                         + LEAST((yo.i * h) // 8, h - 1) * 7
                         + LEAST((xo.i * w) // 8, w - 1) * 3
                         + c.i) % 256 AS BIGINT) AS v
            FROM d,
                 unnest(range(0, 8)) AS yo(i),
                 unnest(range(0, 8)) AS xo(i),
                 unnest(range(0, 3)) AS c(i)
        )
        SELECT doc_id AS media_id,
               CAST(SUM(v) AS BIGINT) AS px_sum,
               md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY yo, xo, c))
                   AS px_md5
        FROM px GROUP BY doc_id
    """,
    # codec-free replay of the PCM sample formula; Spark's side goes
    # through the REAL RIFF/WAVE encoder/decoder. Same HUGEINT cast
    # rule as multimodal_decode_resize; amp_md5 digests the full
    # sample vector so a mismatch names its media_id.
    "multimodal_audio_stats": """
        WITH d AS (
            SELECT doc_id, doc_id % 100 + 20 AS n FROM documents
        ), s AS (
            SELECT doc_id, n, t.i AS i,
                   CAST((doc_id * 7 + t.i * 13) % 2048 - 1024 AS BIGINT) AS amp
            FROM d, unnest(range(0, n)) AS t(i)
        )
        SELECT doc_id AS media_id,
               16000 AS sample_rate,
               n AS n_samples,
               CAST(SUM(amp) AS BIGINT) AS sum_amp,
               CAST(MIN(amp) AS INT) AS min_amp,
               CAST(MAX(amp) AS INT) AS max_amp,
               md5(string_agg(CAST(amp AS VARCHAR), ',' ORDER BY i)) AS amp_md5
        FROM s GROUP BY doc_id, n
    """,
}


def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP) on the gate: orders are laid
    out hive-partitioned by month (80 dirs — the write is idempotent
    per fixture fingerprint, same cache rule as the roundtrips), a
    month dimension carries the quarter attribute, and the query joins
    fact-to-dim with the selective filter ON THE DIM SIDE (quarter =
    1). Catalyst cannot prune statically — which months are Q1 is only
    known after reading the dim — so it plans a dynamicpruning
    subquery that reuses the dim broadcast to skip ~3/4 of the fact
    partitions at runtime (asserted plan-level in
    tests/test_warehouse.py). At 100 TB this is the difference
    between scanning 3 months and scanning 8 years. The oracle joins
    the plain parquet: pruning must not change a row."""
    from ..sources.tables import derived_layout, read_layout
    from ..sources.warehouse import write_partitioned

    fact_path = derived_layout(
        sf_dir,
        "dpp_fact",
        ("orders",),
        "",
        lambda tmp: write_partitioned(
            load_table(spark, sf_dir, "orders").withColumn(
                "month", F.date_format("o_orderdate", "yyyy-MM")
            ),
            tmp,
            ["month"],
        ),
    )
    dim_path = derived_layout(
        sf_dir,
        "dpp_dim",
        ("orders",),
        "",
        lambda tmp: load_table(spark, sf_dir, "orders")
        .select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.expr("CAST((month(o_orderdate) - 1) DIV 3 + 1 AS INT)").alias(
                "quarter"
            ),
        )
        .distinct()
        .write.mode("overwrite")
        .parquet(tmp),
    )
    # read_layout memoizes the opened relations per session: partition
    # discovery on the 80-dir hive layout is a driver listing job
    # re-paid on every re-declaration otherwise (~0.45s)
    fact = read_layout(spark, fact_path)
    dim = read_layout(spark, dim_path).where(F.col("quarter") == 1)
    return (
        fact.join(dim, "month")
        .groupBy("month", "quarter")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
    )


QUERIES["join_partition_pruned"] = join_partition_pruned

ORACLES["join_partition_pruned"] = """
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST((extract(month FROM o_orderdate) - 1) // 3 + 1 AS INT)
               AS quarter,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders
    WHERE (extract(month FROM o_orderdate) - 1) // 3 + 1 = 1
    GROUP BY 1, 2
"""


def join_runtime_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning (the shuffle-join sibling of
    join_partition_pruned's DPP): the selective dim-side predicate
    (urgent orders) builds a bloom_filter_agg whose might_contain
    probe is injected into the FACT scan's filters, so non-matching
    lineitem rows die before the shuffle instead of after it. On a
    100 TB fact table this is the difference between shuffling the
    full scan and shuffling the ~1/5 that can match. Spark's rule
    self-arms only when the application side exceeds its scan-size
    threshold (default 10GB — i.e. exactly the at-scale regime); the
    query pins that threshold to 0 while BUILDING this plan so toy
    fixtures exercise the same plan shape, then restores the session
    confs (the physical plan is materialized eagerly before restore,
    and the driver's later collect() reuses the same QueryExecution).
    Plan-asserted in tests/test_plans.py; the oracle is the plain
    join — the filter is pass-through-correct by construction."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        out = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("revenue_cents"),
            )
        )
        # materialize the physical plan under the pinned confs; the
        # returned DataFrame keeps this QueryExecution
        out._jdf.queryExecution().executedPlan()
        return out
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


QUERIES["join_runtime_filtered"] = join_runtime_filtered

ORACLES["join_runtime_filtered"] = """
    SELECT l_returnflag, count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY 1
"""


_BINFILE_DOCS = 400  # files written once per fixture fingerprint


def source_binaryfile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source on the gate — Spark's built-in reader for
    opaque media/blob corpora (the ingest path for the multimodal
    family, which otherwise synthesizes payloads in-plan): the first
    400 documents written once as one UTF-8 text file each under a
    doc_id=N partition dir, read back as raw bytes, identity-checked
    byte-for-byte. The text sink appends one newline per record, so
    the oracle hashes text || chr(10) and counts octet_length + 1 —
    octet (UTF-8 byte) length, not char length: the zh documents make
    the difference real. Emits (doc_id parsed from the partition path,
    byte count, md5 of the bytes)."""
    import glob as _glob
    import shutil

    from ..sources.tables import derived_layout

    def _write(tmp: str) -> None:
        # Build via the partitioned text sink, then FLATTEN to one file
        # per doc named doc_id=N.txt in a single directory: the
        # binaryFile reader's file index lists each directory
        # separately, and 400 one-file partition dirs cost a ~0.8s
        # recursive-listing pass (above the parallel-discovery
        # threshold it even launches a listing JOB) at every
        # declaration; one flat dir is a single list call. The rename
        # is build-once, byte content identical (text sink newline
        # included).
        staging = os.path.join(tmp, "_staging")
        (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < _BINFILE_DOCS)
            .select("doc_id", F.col("text").alias("value"))
            .write.mode("overwrite")
            .partitionBy("doc_id")
            .text(staging)
        )
        for d in _glob.glob(os.path.join(staging, "doc_id=*")):
            parts = _glob.glob(os.path.join(d, "part-*"))
            if len(parts) != 1:
                raise RuntimeError(f"expected one part file in {d}, got {parts}")
            os.replace(parts[0], os.path.join(tmp, os.path.basename(d) + ".txt"))
        shutil.rmtree(staging)

    path = derived_layout(
        sf_dir, "binfile_flat", ("documents",), f"docs={_BINFILE_DOCS}", _write
    )
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "doc_id=*.txt")
        .load(path)
    )
    return df.select(
        F.regexp_extract("path", r"doc_id=(\d+)", 1).cast("bigint").alias(
            "doc_id"
        ),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


QUERIES["source_binaryfile_roundtrip"] = source_binaryfile_roundtrip
ORACLES["source_binaryfile_roundtrip"] = f"""
    SELECT doc_id,
           CAST(octet_length(encode(text)) + 1 AS BIGINT) AS n_bytes,
           md5(text || chr(10)) AS content_md5
    FROM documents
    WHERE doc_id < {_BINFILE_DOCS}
"""


def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply on the gate: the events feed split into 4
    files, drained one-file-per-micro-batch through foreachBatch, each
    batch MERGEd latest-(ts, event_id)-wins into a keyed parquet state
    (streaming/events.py stream_cdc_upsert_to_state — the streaming
    complement of merge_upsert). The oracle replays the argmax over
    the whole table in one window: any lost update, duplicate key, or
    batch-order dependence in the incremental merge changes the final
    state and fails the hash."""
    from ..streaming.events import stream_cdc_upsert_to_state

    state = stream_cdc_upsert_to_state(spark, sf_dir)
    return state.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("last_us"),
    )


QUERIES["stream_cdc_upsert"] = stream_cdc_upsert
ORACLES["stream_cdc_upsert"] = """
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           CAST(epoch_us(ts) AS BIGINT) AS last_us
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1
"""


def events_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key on the gate: the interleaved
    (user_id, day) key that a lakehouse OPTIMIZE ZORDER computes
    before rewriting files — sorting by it colocates rows close in
    BOTH dimensions so row-group stats prune on either predicate
    column (spread contrast measured in tests/test_warehouse.py).
    Pure unrolled bit arithmetic (sources/warehouse.py
    zorder_key_exprs), bit-identical across engines. Emits the key
    plus file-granularity bucket counts a layout job would use to
    size its rewrite."""
    from ..sources.warehouse import zorder_key_exprs

    spark_expr, _ = zorder_key_exprs("user_id", "day_ord")
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day_ord"),
    )
    return e.select(
        "event_id",
        "user_id",
        "day_ord",
        F.expr(spark_expr).cast("bigint").alias("zkey"),
    )


def _zorder_oracle() -> str:
    from ..sources.warehouse import zorder_key_exprs

    _, duck_expr = zorder_key_exprs("user_id", "day_ord")
    return f"""
        WITH e AS (
            SELECT event_id, user_id,
                   datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                       AS day_ord
            FROM events
        )
        SELECT event_id, user_id, CAST(day_ord AS INT) AS day_ord,
               CAST({duck_expr} AS BIGINT) AS zkey
        FROM e
    """


QUERIES["events_zorder_key"] = events_zorder_key
ORACLES["events_zorder_key"] = _zorder_oracle()


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once-per-id dedup on the VALUE gate
    (streaming/events.stream_dedup_to_table): a feed with planted
    duplicate files drained through dropDuplicatesWithinWatermark,
    digested to exact integers per event_type. The oracle replays the
    digest over the original table — streaming dedup of the
    duplicated feed must equal batch DISTINCT."""
    from ..streaming.events import stream_dedup_to_table

    return stream_dedup_to_table(spark, sf_dir)


QUERIES["stream_dedup"] = stream_dedup
ORACLES["stream_dedup"] = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(min(event_id) AS BIGINT) AS min_eid,
           CAST(max(event_id) AS BIGINT) AS max_eid,
           CAST(sum(event_id) AS BIGINT) AS sum_eid
    FROM events GROUP BY event_type
"""
