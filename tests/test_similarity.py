"""ANN contract tests: IVF recall against the exact brute-force
baseline, plus plan shape (queries broadcast, no unpruned cartesian
in the IVF path beyond centroid assignment)."""

from __future__ import annotations

from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.similarity import (
    brute_force_topk,
    cosine_sim,
    ivf_topk,
    queries_from_corpus,
)
from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import load_table


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["vec_id"])
    return out


def test_cosine_self_similarity(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(20)
    paired = emb.selectExpr("embedding AS a", "embedding AS b")
    vals = [r["s"] for r in paired.select(cosine_sim("a", "b").alias("s")).collect()]
    assert all(abs(v - 1.0) < 1e-9 for v in vals)


def test_ivf_recall_at_10(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qs = queries_from_corpus(emb, n=5)
    exact = _topk_sets(brute_force_topk(emb, qs, k=10))
    approx = _topk_sets(ivf_topk(emb, qs, k=10, n_centroids=16, n_probe=8))
    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    # measured 0.82 mean at n_probe=8/16 cells with 1 Lloyd iteration
    # on the synthetic 10-cluster embeddings; 0.7 is the regression bar
    assert sum(recalls) / len(recalls) >= 0.7, f"mean recall@10 too low: {recalls}"


def test_ivf_probes_fewer_candidates(spark, sf_dir):
    """The IVF candidate set must be a strict subset of the corpus —
    the whole point of the coarse quantizer."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    qs = queries_from_corpus(emb, n=3)
    approx = ivf_topk(emb, qs, k=10, n_centroids=16, n_probe=2)
    # count scored candidates by re-deriving the pre-topk frame: with
    # n_probe=2 of 16 cells, candidates should be well under half the
    # corpus per query on average
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.similarity import (
        _assign_cells,
        _collect_matrix,
        sample_centroids,
    )

    c_ids, c_unit = _collect_matrix(sample_centroids(emb, 16), "cid", "centroid")
    cells = _assign_cells(emb, c_ids, c_unit, "vec_id", "embedding", 1)
    qcells = _assign_cells(qs, c_ids, c_unit, "query_id", "query_vec", 2)
    cand = cells.join(qcells, "cid").count()
    assert cand < n * 3 / 2, f"candidates {cand} not pruned vs {n * 3}"
    assert approx.count() == 30


def test_bruteforce_plan_no_join(spark, sf_dir, read_floor):
    """The query matrix lives in the scorer's closure: the corpus is
    scanned once through MapInPandas with no join anywhere, and the
    only Exchange is the per-query top-k window — above the
    one-partition read floor; below it (sf0.001's sub-MiB embeddings)
    the window needs none."""

    def plan() -> str:
        emb = load_table(spark, sf_dir, "embeddings")
        return (
            brute_force_topk(emb, queries_from_corpus(emb, n=5), k=10)
            ._jdf.queryExecution().executedPlan().toString()
        )

    with read_floor("1b"):
        above = plan()
    below = plan()
    for p in (above, below):
        assert "MapInPandas" in p
        assert "Join" not in p
    assert above.count("Exchange") == 1, above
    assert below.count("Exchange") == 0, below


def test_collect_matrix_ceiling_raises_loudly(spark, sf_dir):
    """The small-by-contract premise of the driver-side vector-set
    collection is asserted, not assumed (r6 verdict #5): an oversized
    frame must raise — with a bounded transfer (limit n+1, never a
    full collect) — instead of silently OOMing the driver at scale."""
    import pytest

    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.similarity import (
        _collect_matrix,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="small-by-contract ceiling"):
        _collect_matrix(emb, "vec_id", "embedding", max_rows=5)
    # at-or-under the ceiling still collects normally
    ids, mat = _collect_matrix(emb.limit(5), "vec_id", "embedding", max_rows=5)
    assert len(ids) == 5 and mat.shape[0] == 5
