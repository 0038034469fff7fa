"""End-to-end reference-pipeline round-trip (SURVEY §1.4 + §3.4):
FASTA dir -> strip/normalize -> truncate-to-N -> k-mer count ->
filtered dedup sink -> read back, verified against the pure-Python
oracle port of scripts/solutiongenerator.py."""

from __future__ import annotations

import pytest

from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.kmer import kmer_count, kmer_sink
from sycl_mapreduce_cpu_gpu_hybrid_spark.oracle import python_kmer_oracle
from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.corpus import (
    read_text_corpus,
    truncate_docs,
)


@pytest.fixture(scope="module")
def fasta_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fasta")
    (d / "genome_a.fna").write_text(
        ">chr1 header line\nACGTACGTAC\nGTTTACGT\n>chr2 another\nCCCCACGT\n"
    )
    (d / "genome_b.fna").write_text(">only\nAAAATTTTACGT\n")
    (d / "notes.txt").write_text("ACGT\nACGT\n")
    return str(d)


def test_roundtrip_matches_python_oracle(spark, fasta_dir, tmp_path):
    docs = truncate_docs(read_text_corpus(spark, fasta_dir), n=20)
    texts = [r["text"] for r in docs.collect()]
    # reference semantics: headers stripped, newlines removed, each
    # file truncated to its first N chars (truncator.sh:17-19)
    assert sorted(len(t) for t in texts) == sorted(min(len(t), 20) for t in texts)

    counts = kmer_count(docs, k=4, min_count=1)
    got = {r["word"]: r["cnt"] for r in counts.collect()}
    assert got == python_kmer_oracle(texts, 4)

    # sink parity: only count >= 2 rows emitted (src/main.cpp:65)
    out = str(tmp_path / "sink")
    kmer_sink(counts, out)
    emitted = {r["word"]: r["cnt"] for r in spark.read.parquet(out).collect()}
    assert emitted == {w: c for w, c in got.items() if c >= 2}
    assert emitted  # non-degenerate: repeats exist in the fixture


def test_short_and_empty_docs(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("edge")
    (d / "tiny.txt").write_text("AC\n")
    (d / "empty.txt").write_text("")
    (d / "exact.txt").write_text("ACGT\n")
    docs = read_text_corpus(spark, str(d))
    got = {r["word"]: r["cnt"] for r in kmer_count(docs, k=4, min_count=1).collect()}
    # len<k docs contribute nothing (src/main.cpp:133); len==k -> 1 window
    assert got == {"ACGT": 1}
