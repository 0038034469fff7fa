"""The reference's one real query, Spark-first: k-mer counting.

Reference semantics being reproduced (citations into /root/reference):
- Map: for every in-document window of length k emit (word, 1) —
  src/GPU_Module/GPU.cpp:32-45, src/CPU_Module/CPU.cpp:32-50.
- Windows never span documents: the kernels reject windows containing
  the ``'\\0'`` file separator (src/GPU_Module/GPU.cpp:36-40). Spark
  rows keep per-document boundaries natively, so this holds by
  construction.
- Reduce: sort + segmented sum == groupBy(word).count()
  (src/GPU_Module/GPU.cpp:61-111); Catalyst picks hash aggregation with
  map-side partial aggregation, which replaces the reference's
  sort+atomic-merge scheme.
- Sink filter: the production sink emits only count >= 2, deduplicated
  (src/main.cpp:55-73, filter at :65) — ``kmer_sink`` applies it;
  ``kmer_count``'s ``min_count=2`` reproduces it for declared queries.
- Degenerate input: doc shorter than k produces no windows
  (src/main.cpp:133 clamps setsize to 0).

Scale design (100 TB posture): a naive
``explode(transform(sequence(1, len-k+1), i -> substring(text,i,k)))``
materializes one array element per character of the document in a single
row buffer — a 10 MB document becomes a ~10M-element array. We instead
explode in two levels: first into fixed-size overlapping *slices*
(bounded memory per row regardless of document size), then into k-mers
within each slice. Each level explodes a ``sequence`` of *start
positions* (an int array — 4 B/element row buffer, not a string array)
and computes ``substring`` as an ordinary projected expression, so the
whole map phase stays inside whole-stage codegen — no interpreted
higher-order ``transform`` lambdas (measured ~15%% on the sf0.1 corpus)
and no Python. The aggregation is an ordinary shuffle-based hash agg
that spills — so the operator survives documents and corpora far bigger
than executor memory.

Nothing about the kernel is per-call configurable: the slice size is
the module constant ``SLICE_SIZE``, the reference's MAXK=64 cap is
always enforced, and whether the map phase is spread across cores is
decided by ``sources.tables.fan_out``, the engine's one spread rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import fan_out

MAXK = 64  # reference fixed-width key cap, src/GPU_Module/GPU.h:15
# k-mer starts per slice; bounds per-row state (~64 KB slice bytes +
# a 256 KB start-position array). With byte windowing the per-window
# cost is O(1), so the optimum is the largest slice whose row state
# stays trivially small: measured on 500 KB docs 4096 -> 0.42s,
# 65536 -> 0.26s; short-doc corpora are insensitive (slice >= doc).
# Read at call time, so a test can shrink it to stress the overlap.
SLICE_SIZE = 65536
# fan_out floor on the slice frame's plan-size stat. The spread pays
# only once per-task compute beats the repartition's fixed cost
# (~0.1-0.2s shuffle setup): measured on an idle host, sf0.1 1 task
# 1.5s vs 32 tasks 0.45-0.58s, sf0.01 0.28s vs 0.53s. The slice-frame
# stat is ~1.24x the documents scan's and does not depend on k, so
# the 1M-char crossover (a ~333 KB scan stat at 3x parquet
# decompression) sits near 413 KB here: sf0.01 reads 80,647 B (stays
# on one task), sf0.1 737,142 B and the 8 x 100,000-base genome
# ~1.09 MB (both spread).
SPREAD_MIN_SLICE_BYTES = 400_000


def kmer_explode(
    docs: DataFrame,
    k: int,
    text_col: str = "text",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Emit one row per k-mer occurrence (the Map phase).

    Two-level explode: slices of ``SLICE_SIZE`` starts (each slice is
    ``SLICE_SIZE + k - 1`` bytes, overlapping by ``k - 1`` so no window
    is lost or duplicated at slice boundaries), then k-mers per slice.
    Each level explodes start positions (``sequence`` int arrays) and
    projects ``substring`` — plain codegen'd expressions end to end.
    The aggregation downstream is an ordinary spillable shuffle hash
    agg. ``k`` is capped at the reference's MAXK.

    The spread decision is ``sources.tables.fan_out``'s, made on the
    slice frame with the ``SPREAD_MIN_SLICE_BYTES`` floor: the slice
    string is cut *before* the repartition, so the exchange moves
    slice bytes, never whole documents per slice row, and one giant
    document's slices scatter across cores. The floor models a
    counting workload; callers whose per-row work is much heavier
    (MinHash's 64 hashes per shingle) or whose upstream projections
    expand rows beyond what Catalyst's size stats see (repeat/concat)
    call ``fan_out`` on their own input first, which leaves the slice
    frame already spread.

    BYTE windowing (r6): the window arithmetic runs on the text cast
    to BINARY, and each window is cast back to string at the end.
    This is both reference parity — the C++ kernels window a raw
    ``char*`` buffer (src/GPU_Module/GPU.cpp:32-45), i.e. bytes — and
    a 25x+ throughput win on multi-KB documents: ``substring`` on a
    STRING pays an O(position) UTF-8 codepoint scan per window
    (measured: cost grows ∝ slice size, 13.4s -> 0.49s at 12M chars
    switching to binary), while BINARY substrings are O(1) byte
    slices. For pure-ASCII corpora (all driver fixtures) results are
    bit-identical to char windowing; multibyte UTF-8 input windows by
    byte exactly as the reference would.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if k > MAXK:
        raise ValueError(
            f"k={k} exceeds the reference's MAXK={MAXK} (src/GPU_Module/GPU.h:15)"
        )
    carried = [F.col(c) for c in (keep_cols or [])]
    slices = (
        # validity predicate in BYTES, consistent with byte windowing
        docs.where(
            F.octet_length(text_col).isNotNull() & (F.octet_length(text_col) >= k)
        )
        .select(
            *carried,
            F.expr(f"cast({text_col} AS binary)").alias("_bytes"),
        )
        .select(
            *carried,
            F.col("_bytes"),
            F.explode(
                F.expr(f"sequence(1, length(_bytes), {SLICE_SIZE})")
            ).alias("_s"),
        )
        .select(
            *carried,
            F.expr(f"substring(_bytes, _s, {SLICE_SIZE + k - 1})").alias("_slice"),
        )
        .where(F.length("_slice") >= k)
    )
    return (
        fan_out(slices, min_bytes=SPREAD_MIN_SLICE_BYTES)
        .select(
            *carried,
            F.col("_slice"),
            F.explode(
                F.expr(f"sequence(1, length(_slice) - {k} + 1)")
            ).alias("_i"),
        )
        .select(
            *carried,
            F.expr(f"cast(substring(_slice, _i, {k}) AS string)").alias("word"),
        )
    )


def kmer_count(
    docs: DataFrame,
    k: int,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """k-mer occurrence counts across the corpus: DataFrame[word, cnt].

    ``min_count=2`` reproduces the reference sink filter
    (src/main.cpp:65). The groupBy carries map-side partial aggregation,
    so each shuffle partition receives pre-combined (word, partial cnt)
    pairs — the Spark-native equivalent of the reference's
    atomic-merge reduce (src/GPU_Module/GPU.cpp:100-108).
    """
    counts = (
        kmer_explode(docs, k, text_col)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if min_count > 1:
        counts = counts.where(F.col("cnt") >= min_count)
    return counts


def total_kmers(docs: DataFrame, k: int, text_col: str = "text") -> DataFrame:
    """Scalar total of k-mer occurrences: sum over docs of
    max(0, len - k + 1) — the reference's ``compute_unique_total``
    (src/main.cpp:47-53). Computed without exploding (O(docs), not
    O(chars)); equals sum(cnt) over :func:`kmer_count` with min_count=1.
    """
    per_doc = F.greatest(F.octet_length(text_col) - F.lit(k) + F.lit(1), F.lit(0))
    return docs.agg(F.coalesce(F.sum(per_doc.cast("long")), F.lit(0).cast("long")).alias("total"))


def kmer_sink(counts: DataFrame, path: str) -> None:
    """Filtered dedup sink — reference print_mapped_counts
    (src/main.cpp:55-73): write only the count >= 2 rows (the filter
    at :65) as parquet. The reference additionally dedups via an
    unordered_set; groupBy output is already unique per word.
    """
    counts.where(F.col("cnt") >= 2).write.mode("overwrite").parquet(path)


def safe_num_to_string(col: F.Column | str) -> F.Column:
    """Int -> string with 0 mapped to the literal 'null' — parity with
    the reference's debug formatter safe_num_to_string
    (src/main.cpp:15-18), where a zeroed count marks a tombstoned
    (merged-away) row rather than a real value."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c == 0, F.lit("null")).otherwise(c.cast("string"))
