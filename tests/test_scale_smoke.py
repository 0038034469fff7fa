"""Scale smoke: replicate the corpus 8x in-memory (~12M chars) and
check the operators' invariants and plan behavior hold as data grows —
the closest local[N] gets to a scale-up rehearsal.

Replication with remapped doc_ids multiplies every k-mer count by the
replication factor, giving an exact oracle-free invariant; the spread
repartition must engage (the whole point of the size threshold)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.kmer import (
    kmer_count,
    total_kmers,
)
from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import load_table

REPLICAS = 8


def _big_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    return docs.crossJoin(
        spark.range(REPLICAS).select(F.col("id").alias("_rep"))
    ).select(
        (F.col("doc_id") + F.col("_rep") * n).alias("doc_id"),
        "text",
    )


def test_replicated_counts_scale_exactly(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    big = _big_docs(spark, sf_dir)
    base = {
        r["word"]: r["cnt"] for r in kmer_count(docs, k=8, min_count=1).collect()
    }
    scaled = {
        r["word"]: r["cnt"] for r in kmer_count(big, k=8, min_count=1).collect()
    }
    assert scaled == {w: c * REPLICAS for w, c in base.items()}


def test_total_identity_at_scale(spark, sf_dir):
    big = _big_docs(spark, sf_dir)
    total = total_kmers(big, k=8).collect()[0][0]
    base = total_kmers(load_table(spark, sf_dir, "documents"), k=8).collect()[0][0]
    assert total == base * REPLICAS


def test_exact_dedup_finds_planted_replicas(spark, sf_dir):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.dedup import exact_dedup

    big = _big_docs(spark, sf_dir)
    groups = exact_dedup(big)
    # every distinct text now has exactly REPLICAS x its base copies
    base_groups = exact_dedup(load_table(spark, sf_dir, "documents"))
    got = {r["content_hash"]: r["n_copies"] for r in groups.collect()}
    want = {
        r["content_hash"]: r["n_copies"] * REPLICAS for r in base_groups.collect()
    }
    assert got == want


def test_exact_percentile_hot_group(spark):
    """Worst-case rehearsal for the agg_median scale bound
    (SCALING.md "Exact quantiles"): the whole sf0.01 lineitem table
    collapsed into ONE group — the hottest group the operator can see
    locally — with the exact result checked against DuckDB on the same
    parquet. The buffer holds distinct values, so this stays exact and
    correct; the documented envelope is ~1e7 distincts per group."""
    import duckdb

    path = "/root/testdata/sf0.01/lineitem.parquet"
    li = spark.read.parquet(path)
    row = (
        li.groupBy(F.lit(1).alias("g"))
        .agg(
            F.median("l_extendedprice").alias("med"),
            F.percentile("l_extendedprice", F.lit(0.75)).alias("p75"),
        )
        .collect()[0]
    )
    want = duckdb.sql(
        "SELECT median(l_extendedprice) AS med,"
        " quantile_cont(l_extendedprice, 0.75) AS p75"
        f" FROM read_parquet('{path}')"
    ).fetchone()
    assert row["med"] == pytest.approx(want[0], abs=1e-6)
    assert row["p75"] == pytest.approx(want[1], abs=1e-6)


def test_dedup_pipeline_sf1_smoke(spark):
    """sf1-equivalent dedup rehearsal: the sf0.1 corpus replicated 10x
    (~50k docs — sf1 cardinality, ~15M chars) through the pipeline in
    its real order: exact dedup FIRST (collapses replica groups — at
    scale those would otherwise blow past the LSH bucket cap and be
    dropped), then MinHash LSH and cluster assembly over survivors.
    Must complete without OOM or driver-collect blowup, and the
    surviving near-dup cluster structure must exactly equal the base
    corpus's — replication can neither invent nor lose structure."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.dedup import (
        connected_components,
        exact_dedup,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text"
    )
    n = docs.count()
    reps = 10
    big = docs.crossJoin(
        spark.range(reps).select(F.col("id").alias("_rep"))
    ).select((F.col("doc_id") + F.col("_rep") * n).alias("doc_id"), "text")

    def survivors(frame):
        keep = exact_dedup(frame).select(F.col("keep_id").alias("doc_id"))
        return frame.join(keep, "doc_id", "left_semi")

    big_groups = exact_dedup(big)
    assert big_groups.where(F.col("n_copies") < reps).isEmpty()

    def clusters(frame):
        pairs = minhash_lsh_pairs(
            frame, k=6, num_hashes=64, bands=16, threshold=0.7
        )
        return {
            (r["id"], r["cluster_id"])
            for r in connected_components(pairs).collect()
        }

    assert clusters(survivors(big)) == clusters(survivors(docs))


def _big_events(spark, sf_dir, replicas=8):
    """Events replicated with remapped user_ids: per-user behavioral
    structure is preserved per replica, so funnel stage counts and
    transition counts must scale EXACTLY by the replication factor."""
    ev = load_table(spark, sf_dir, "events")
    n_users = 10_000_000  # disjoint user-id ranges per replica
    return ev.crossJoin(
        spark.range(replicas).select(F.col("id").alias("_rep"))
    ).select(
        (F.col("event_id") + F.col("_rep") * 10_000_000_000).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("_rep") * n_users).alias("user_id"),
        "event_type",
        "value",
    )


def test_funnel_scales_exactly(spark, sf_dir, monkeypatch):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries import behavioral

    base = behavioral.events_funnel(spark, sf_dir).collect()[0]
    big = _big_events(spark, sf_dir)
    monkeypatch.setattr(behavioral, "load_table", lambda s, d, n: big)
    scaled = behavioral.events_funnel(spark, "unused").collect()[0]
    for c in ("n_view", "n_click", "n_purchase"):
        assert scaled[c] == base[c] * 8
    # ratios are scale-invariant
    assert scaled["click_rate_e4"] == base["click_rate_e4"]
    assert scaled["purchase_rate_e4"] == base["purchase_rate_e4"]


def test_transition_matrix_scales_exactly(spark, sf_dir, monkeypatch):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries import behavioral

    base = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in behavioral.events_transition_matrix(spark, sf_dir).collect()
    }
    big = _big_events(spark, sf_dir)
    monkeypatch.setattr(behavioral, "load_table", lambda s, d, n: big)
    scaled = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in behavioral.events_transition_matrix(spark, "unused").collect()
    }
    assert scaled == {k: v * 8 for k, v in base.items()}
