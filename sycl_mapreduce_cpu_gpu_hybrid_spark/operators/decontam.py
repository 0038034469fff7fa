"""Benchmark decontamination: drop training documents that share word
n-grams with a held-out evaluation set — the standard published
procedure for LLM training corpora (n-gram overlap removal, as in the
GPT-3 / PaLM / Gopher training-data sections).

Additive to the reference (its corpus ETL is scan+truncate,
src/main.cpp:40-53); part of this repo's LLM-pipeline inventory
alongside operators/dedup.py.

Scale posture (100 TB corpus vs ~GB benchmark):
- The benchmark's distinct n-gram set is SMALL by nature (eval sets
  are orders of magnitude smaller than training corpora) — it is
  broadcast, so the corpus side is ONE scan: explode n-grams, hash
  probe, partial-agg the per-doc hit counts. No shuffle of corpus
  text, no all-pairs anything.
- With ``broadcast_bench=False`` (benchmark too big for one
  executor's memory) the join degrades gracefully to a shuffle hash
  join keyed on the fixed-width md5 of the gram, so shuffle volume is
  16 bytes per (doc, gram), never the gram text.
- N-gram extraction is pure JVM expression work (split + slice +
  array_join inside whole-stage codegen); Python never touches a row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import normalize_text


def word_ngram_array_from_tokens(tok_col: Column, n: int) -> Column:
    """Array of overlapping word ``n``-grams (space-joined) from an
    ALREADY-SPLIT token array column. Prefer this over
    :func:`word_ngram_array` whenever the caller can stage the split
    into its own projection: lambda bodies (higher-order functions)
    get no common-subexpression elimination, so a split captured
    inline re-evaluates per gram — staging the tokens measured 2.25
    -> 1.07 s on the sf1 bigram explode (r12). Documents with fewer
    than ``n`` tokens yield an empty array — the sequence() is
    guarded because Spark's sequence(1, 0) DESCENDS ([1, 0]) rather
    than returning empty."""
    n_grams = F.size(tok_col) - (n - 1)
    return F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.array_join(F.slice(tok_col, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_ngram_array(text_col: Column | str, n: int) -> Column:
    """Array of overlapping word ``n``-grams (space-joined) of the
    normalized text. NOTE: the split is captured inside the transform
    lambda and re-evaluates per gram — fine for one-shot expressions
    over short text, but hot paths should stage the tokens as a
    column and use :func:`word_ngram_array_from_tokens`."""
    return word_ngram_array_from_tokens(F.split(normalize_text(text_col), " "), n)


def _gram_key_array_sql(tok_col: str, n: int) -> str:
    """SQL for the per-row array of DISTINCT n-gram xxhash64 keys over
    an already-split token array column — the gram never materializes
    as a string (r15): the old path built every gram via
    array_join(slice(...)), exploded ~100-byte strings, and hashed
    them at the join; this computes the 8-byte key INSIDE the
    enumeration lambda (xxhash64 over the n token columns — the
    running-seed construction frames each token, so ("ab","c") and
    ("a","bc") key differently), dedups longs instead of strings, and
    explodes longs. Measured at the 10x fixture: the corpus gram
    enumeration 5.3 -> 1.8 s, contamination_hits end-to-end
    6.4 -> 2.5 s. The sequence() is guarded because Spark's
    sequence(1, 0) DESCENDS rather than returning empty."""
    args = ", ".join(f"element_at({tok_col}, i + {j})" for j in range(n))
    return (
        f"CASE WHEN size({tok_col}) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size({tok_col}) - {n - 1}), "
        f"i -> xxhash64({args}))) ELSE array() END"
    )


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_bench: bool = True,
) -> DataFrame:
    """Per-document count of distinct n-grams shared with the
    benchmark: (id, n_hits) for every corpus document with at least
    one overlap. ``n=13`` is the published default for real corpora;
    callers tune it to their tokenization.

    Both sides key on the 8-byte xxhash64 of the token n-tuple
    (_gram_key_array_sql): no gram string is ever built, the
    broadcast build relation is 8 bytes per distinct benchmark gram
    (was 16-byte md5 digests in r14, ~100-byte raw grams before r12),
    and per-doc gram distinctness dedups longs. Collision posture
    (replaces the r14 md5 2^-128 note): a cross-gram collision is a
    2^-64 event per (corpus gram, benchmark gram) pair — at a 100 TB
    corpus (~1e12 corpus grams probing a ~1e8-gram benchmark) that is
    ~5 expected spurious hits, i.e. at most ~5 extra documents
    dropped from ~1e9, and decontamination is a deliberately
    conservative filter; a within-document collision merging two
    distinct grams undercounts that doc's n_hits by 1 with the same
    odds. At fixture scales the expected count is <= 1e-7 per run, so
    the bit-exact DuckDB gate (which joins raw gram strings) is
    unaffected."""
    corpus_keys = corpus.select(
        id_col, F.split(normalize_text(text_col), " ").alias("_tk")
    ).select(id_col, F.explode(F.expr(_gram_key_array_sql("_tk", n))).alias("_gk"))
    bench_keys = (
        benchmark.select(F.split(normalize_text(text_col), " ").alias("_tk"))
        .select(F.explode(F.expr(_gram_key_array_sql("_tk", n))).alias("_gk"))
        .distinct()
    )
    if broadcast_bench:
        joined = corpus_keys.join(F.broadcast(bench_keys), "_gk")
    else:
        # shuffle join fallback (benchmark too big for one executor):
        # shuffle volume is 8 bytes per (doc, gram), never the text
        joined = corpus_keys.join(bench_keys, "_gk")
    return joined.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_hits"))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_bench: bool = True,
) -> DataFrame:
    """Corpus minus contaminated documents (>= ``min_hits`` shared
    n-grams), via left_anti against the hit set — corpus rows stream
    through untouched; only ids shuffle."""
    flagged = contamination_hits(
        corpus, benchmark, n, text_col, id_col, broadcast_bench
    ).where(F.col("n_hits") >= min_hits)
    return corpus.join(flagged.select(id_col), id_col, "left_anti")
