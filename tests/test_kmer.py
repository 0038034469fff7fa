"""M0 correctness: k-mer pipeline vs the pure-Python oracle, plus the
reference's golden invariants (SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sycl_mapreduce_cpu_gpu_hybrid_spark.operators import kmer
from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.kmer import (
    kmer_count,
    total_kmers,
)
from sycl_mapreduce_cpu_gpu_hybrid_spark.oracle import (
    assert_matches,
    python_kmer_oracle,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")


@pytest.fixture(scope="module")
def texts(docs):
    return [r.text for r in docs.select("text").collect()]


@pytest.mark.parametrize("k", [2, 4, 8])
def test_kmer_count_matches_python_oracle(spark, docs, texts, k):
    oracle = spark.createDataFrame(
        [(w, c) for w, c in python_kmer_oracle(texts, k).items()],
        "word string, cnt long",
    )
    engine = kmer_count(docs, k)
    assert_matches(oracle, engine, ["word"], ["cnt"])


def test_slice_boundaries_do_not_lose_or_duplicate(spark, monkeypatch):
    # doc length straddles multiple slices; a tiny slice stresses overlap
    monkeypatch.setattr(kmer, "SLICE_SIZE", 7)
    text = "ABCDEFGHIJ" * 7  # len 70
    docs = spark.createDataFrame([("d1", text)], "doc_id string, text string")
    k = 3
    oracle = spark.createDataFrame(
        list(python_kmer_oracle([text], k).items()), "word string, cnt long"
    )
    engine = kmer_count(docs, k)
    assert_matches(oracle, engine, ["word"], ["cnt"])


def test_windows_never_span_documents(spark):
    # 'AB'+'CD' must not produce 'BC' (GPU.cpp:36-40 '\0' rejection)
    docs = spark.createDataFrame(
        [("a", "AB"), ("b", "CD")], "doc_id string, text string"
    )
    words = {r.word for r in kmer_count(docs, 2).collect()}
    assert words == {"AB", "CD"}


def test_min_count_sink_filter(spark):
    # src/main.cpp:65 — production sink drops singletons
    docs = spark.createDataFrame([("a", "AAAB")], "doc_id string, text string")
    rows = {r.word: r.cnt for r in kmer_count(docs, 2, min_count=2).collect()}
    assert rows == {"AA": 2}  # AB occurs once → dropped


def test_short_and_empty_docs_produce_no_windows(spark):
    # N < k → empty (src/main.cpp:133)
    docs = spark.createDataFrame(
        [("a", "AB"), ("b", ""), ("c", None)], "doc_id string, text string"
    )
    assert kmer_count(docs, 3).count() == 0


def test_total_sum_identity(spark, docs, texts):
    # sum(cnt) == Σ_docs max(0, len-k+1)  (compute_unique_total, main.cpp:47-53)
    k = 5
    total = total_kmers(docs, k).collect()[0].total
    expected = sum(max(0, len(t) - k + 1) for t in texts if t is not None)
    assert total == expected
    agg = kmer_count(docs, k).agg(F.sum("cnt").alias("s")).collect()[0].s
    assert agg == expected


def test_partition_count_invariance(spark, docs, texts):
    # reference invariant: devices 1/2/3 agree → our analog: result is
    # invariant across physical partitionings (SURVEY.md §5e)
    k = 4
    one = kmer_count(docs.repartition(1), k)
    many = kmer_count(docs.repartition(16), k)
    from sycl_mapreduce_cpu_gpu_hybrid_spark.oracle import diff_keyed

    assert diff_keyed(one, many, ["word"], ["cnt"]).count() == 0


def test_k_cap_validation(spark, docs):
    with pytest.raises(ValueError):
        kmer_count(docs, 65)


def test_safe_num_to_string(spark):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.kmer import safe_num_to_string

    df = spark.createDataFrame([(0,), (1,), (-3,)], "v int")
    got = sorted(r[0] for r in df.select(safe_num_to_string("v")).collect())
    assert got == ["-3", "1", "null"]
