"""One spread rule: ``sources.tables.fan_out`` decides every round-robin
of an under-partitioned input, the k-mer count included, and its
partition probe never runs a job."""

from __future__ import annotations

import os
import pathlib

import pytest
from pyspark.sql import functions as F

from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.kmer import kmer_count
from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import (
    load_table,
    scan_num_partitions,
)

ROOT = pathlib.Path(__file__).resolve().parents[1]
ROUND_ROBIN = "RoundRobinPartitioning"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


@pytest.fixture(scope="module")
def bench_inputs(tmp_path_factory):
    """The benchmark's two k-mer corpora, written by its own generator:
    the 8 x 100,000-base genome and the floor mix's documents."""
    from perfbench.datagen import write_genome, write_tables

    root = tmp_path_factory.mktemp("fan_out")
    write_genome(str(root / "genome"), 1, 8, 100_000)
    write_tables(str(root / "floor"), 902)
    return {"genome": str(root / "genome"), "floor": str(root / "floor")}


# every input arrives as one scan partition; only the corpora whose
# slice frame clears kmer_explode's floor are spread
@pytest.mark.parametrize(
    "name, spreads",
    [
        ("genome", True),
        ("floor", False),
        ("sf0.001", False),
        ("sf0.01", False),
        ("sf0.1", True),
    ],
)
def test_kmer_spread_decisions(spark, sf_dir, bench_inputs, name, spreads):
    path = bench_inputs.get(name) or os.path.join(os.path.dirname(sf_dir), name)
    docs = load_table(spark, path, "documents")
    assert scan_num_partitions(docs) == 1
    assert (ROUND_ROBIN in _plan(kmer_count(docs, k=4))) is spreads


def test_no_spread_when_already_partitioned(spark, sf_dir, tmp_path):
    n = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "docs")
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    load_table(spark, sf01, "documents").repartition(n).write.parquet(path)
    docs = spark.read.parquet(path)
    assert scan_num_partitions(docs) >= n
    assert ROUND_ROBIN not in _plan(kmer_count(docs, k=4))


def test_probe_runs_no_job_behind_an_exchange(spark, sf_dir, read_floor):
    """A frame behind a shuffle or broadcast is sized from its physical
    plan: converting it to an RDD would run the stages upstream (and
    fill the persisted frame) at declaration time. Checked above the
    one-partition read floor, where the groupBy shuffles, and below it
    (sf0.001's sub-MiB documents), where only the broadcast does."""
    n = spark.sparkContext.defaultParallelism

    def probe() -> list[int]:
        docs = load_table(spark, sf_dir, "documents")
        groups = (
            docs.groupBy(F.md5("text").alias("h"))
            .agg(F.min("doc_id").alias("rep"))
            .persist()
        )
        try:
            joined = docs.join(groups, F.col("doc_id") == F.col("rep"))
            spread = docs.repartition(n)
            before = _jobs(spark)
            counts = [
                scan_num_partitions(joined),
                scan_num_partitions(
                    spread.join(groups, F.col("doc_id") == F.col("rep"))
                ),
            ]
            assert _jobs(spark) == before
        finally:
            groups.unpersist()
        return counts

    with read_floor("1b"):
        # a broadcast join over the one-split scan reads as under-partitioned
        assert probe() == [0, n]
    # the coalesced scan's single partition carries through the join
    assert probe() == [1, n]


def test_partition_probes_live_in_tables():
    """``scan_num_partitions`` and ``_plan_size_bytes`` feed the one
    spread rule; a call anywhere else is a second rule in the making."""
    pkg = ROOT / "sycl_mapreduce_cpu_gpu_hybrid_spark"
    files = [*pkg.rglob("*.py"), ROOT / "bench.py"]
    hits = {
        os.path.relpath(p, ROOT)
        for p in files
        if any(w in p.read_text() for w in ("scan_num_partitions(", "_plan_size_bytes("))
    }
    assert hits == {"sycl_mapreduce_cpu_gpu_hybrid_spark/sources/tables.py"}
