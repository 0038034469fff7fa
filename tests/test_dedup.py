"""Planted-duplicate tests for the dedup operator family: the
LSH/SimHash paths must find planted near-dups (recall) without
pairing unrelated documents (precision), and must agree with the
exact Jaccard verify stage."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.dedup import (
    exact_dedup,
    hamming64,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)

WORDS = [
    "table", "scan", "filter", "join", "merge", "sort", "window", "batch",
    "stream", "query", "column", "row", "hash", "agg", "spark", "value",
]


def _mk_doc(rng, n=120):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _mutate(rng, text, n_edits=3):
    toks = text.split(" ")
    for _ in range(n_edits):
        toks[rng.randrange(len(toks))] = rng.choice(WORDS)
    return " ".join(toks)


@pytest.fixture(scope="module")
def planted(spark):
    rng = random.Random(7)
    rows = []
    for i in range(40):
        rows.append((i, _mk_doc(rng)))
    # 5 planted near-dup pairs: ids (100+i, 200+i)
    for i in range(5):
        base = _mk_doc(rng)
        rows.append((100 + i, base))
        rows.append((200 + i, _mutate(rng, base)))
    # 2 planted exact dups of doc 0
    rows.append((300, rows[0][1]))
    rows.append((301, "  " + rows[0][1].upper() + "  "))  # normalizes equal
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_dedup_groups_planted_copies(planted):
    out = exact_dedup(planted).collect()
    by_keep = {r["keep_id"]: r["n_copies"] for r in out}
    assert by_keep[0] == 3  # doc 0 + raw copy + case/whitespace variant
    assert sum(r["n_copies"] for r in out) == planted.count()


@pytest.mark.parametrize("portable", [False, True], ids=["xxhash64", "portable_md5"])
def test_minhash_finds_planted_pairs_no_false_positives(planted, portable):
    # threshold 0.7: unrelated docs drawn from the same 16-word
    # vocabulary legitimately share ~half their 6-gram shingles, so
    # 0.5 would (correctly) pair them. Runs for BOTH hash families:
    # a degenerate family can be hash-green against its own generated
    # oracle (the oracle replays the degeneracy faithfully) — only a
    # quality assertion catches it.
    pairs = {
        (r["a"], r["b"])
        for r in minhash_lsh_pairs(planted, threshold=0.7, portable=portable).collect()
    }
    for i in range(5):
        assert (100 + i, 200 + i) in pairs, f"planted pair {i} missed"
    # no pair between two unrelated random docs (ids < 100 both sides)
    assert not [p for p in pairs if p[0] < 100 and p[1] < 100]


@pytest.mark.parametrize("portable", [False, True], ids=["xxhash64", "portable_md5"])
def test_minhash_estimate_tracks_exact_jaccard(planted, portable):
    # both families must track exact Jaccard — the portable run pins
    # the affine family against the correlated-argmin trap (a shared
    # per-shingle (a, b) pair makes every component pick the same
    # argmin shingle, inflating est_jaccard for weakly related docs
    # while still matching its own oracle)
    est = {
        (r["a"], r["b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(planted, threshold=0.3, portable=portable).collect()
    }
    exact = {
        (r["a"], r["b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(planted, threshold=0.3, max_doc_freq_frac=1.0).collect()
    }
    common = set(est) & set(exact)
    assert common, "no overlapping pairs to compare"
    for p in common:
        assert est[p] == pytest.approx(exact[p], abs=0.25)


def test_simhash_identical_and_near(spark, planted):
    fp = {r["doc_id"]: r["simhash"] for r in simhash(planted).collect()}
    assert fp[0] == fp[300]  # identical text -> identical fingerprint
    # near-dup pair: small hamming distance
    df = spark.createDataFrame(
        [(fp[100], fp[200]), (fp[101], fp[201])], "x bigint, y bigint"
    )
    dists = [r["d"] for r in df.select(hamming64("x", "y").alias("d")).collect()]
    assert all(d <= 10 for d in dists)


def test_simhash_near_pairs_finds_exact_copies(planted):
    pairs = {(r["a"], r["b"]) for r in simhash_near_pairs(planted, max_hamming=3).collect()}
    assert (0, 300) in pairs


def test_ngram_jaccard_planted_high(planted):
    out = {
        (r["a"], r["b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(planted, threshold=0.5, max_doc_freq_frac=1.0).collect()
    }
    for i in range(5):
        assert out.get((100 + i, 200 + i), 0) > 0.5


def test_no_allpairs_in_lsh_plan(planted):
    plan = minhash_lsh_pairs(planted)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_near_dup_exact_vs_lsh(spark, sf_dir):
    """LSH candidate generation must recover nearly all exact pairs at
    the fixture's similarity regime, while scoring far fewer than
    n^2/2 candidates."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.dedup import (
        embedding_lsh_pairs,
        embedding_near_dup_pairs,
    )
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["a"], r["b"]) for r in embedding_near_dup_pairs(emb, threshold=0.4).collect()
    }
    approx = {
        (r["a"], r["b"]) for r in embedding_lsh_pairs(emb, threshold=0.4).collect()
    }
    assert approx <= exact  # verify stage is exact, so no false positives
    assert exact, "fixture should contain pairs at 0.4"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.85, f"LSH recall {recall:.2f} below floor"


def test_connected_components_planted(spark):
    """Min-label propagation: a 5-chain (diameter 4 — needs multiple
    rounds), a separate pair, and a triangle all collapse to their
    component minimum; vertices outside any pair never appear."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)],
        "a long, b long",
    )
    out = {r["id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert out == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_connected_components_edge_bound_skips_probe(spark, monkeypatch):
    """r15: a caller-supplied n_edges_bound above the local-tier cap
    must skip the probe (whose limit+toPandas would execute the full
    edge pipeline a first, wasted time) and take the distributed loop
    directly; a bound at/under the cap keeps the local tier. Labels
    identical either way (the tier-equality contract)."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_LOCAL_MAX_EDGES", 100)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    # bound > cap: distributed loop runs (rounds > 0)
    labels_d, rounds_d = dedup._connected_components_star(
        pairs, n_edges_bound=101
    )
    assert rounds_d > 0
    # bound <= cap: probe runs and the local tier answers (rounds == 0)
    labels_l, rounds_l = dedup._connected_components_star(
        pairs, n_edges_bound=3
    )
    assert rounds_l == 0
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert rows(labels_d) == rows(labels_l)


def test_connected_components_logn_on_deep_chain(spark, forced):
    """Adversarial deep chain: a 10k-edge path graph (the worst case
    for diameter-bound label propagation — it would need 10k rounds)
    must converge in O(log n) star-contraction rounds and still label
    every vertex with the component minimum."""
    import math

    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.dedup import (
        _connected_components_star,
    )

    n_edges = 10_000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n_edges)], "a long, b long"
    )
    # ``forced`` runs the DISTRIBUTED loop — the point of the test; the
    # bounded local fast path is covered by
    # test_cc_local_fast_path_matches_distributed
    labels, rounds = _connected_components_star(pairs)
    bound = math.ceil(math.log2(n_edges + 1)) + 3
    assert rounds > 0, "distributed loop should have run"
    assert rounds <= bound, f"{rounds} rounds > log-bound {bound}"
    assert labels.where("cluster_id != 0").isEmpty()
    assert labels.count() == n_edges + 1


def test_connected_components_nonconvergence_raises(spark, forced):
    """Exhausting max_iters must raise, never silently return partial
    labels (callers would diverge from the oracle with no signal)."""
    import pytest

    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.dedup import (
        connected_components,
    )

    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.dedup import (
        _connected_components_star,
    )

    pairs = spark.createDataFrame([(i, i + 1) for i in range(64)], "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        # ``forced``: the local fast path would answer this tiny chain
        # without iterating
        _connected_components_star(pairs, max_iters=1)
    # keep the public-API surface exercised
    assert connected_components(pairs).count() == 65


def test_cc_local_fast_path_matches_distributed(spark, monkeypatch):
    """The bounded union-find fast path must label identically to the
    distributed star contraction on the same graph."""
    import random

    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.dedup import (
        _connected_components_star,
    )

    rng = random.Random(13)
    edges = [(rng.randrange(400), rng.randrange(400)) for _ in range(300)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    local, r_local = _connected_components_star(pairs)
    from sycl_mapreduce_cpu_gpu_hybrid_spark.plans import budget

    monkeypatch.setenv(budget.FORCE_DISTRIBUTED_ENV, "1")
    dist, r_dist = _connected_components_star(pairs)
    assert r_local == 0 and r_dist > 0
    assert sorted(map(tuple, local.collect())) == sorted(
        map(tuple, dist.collect())
    )


def test_connected_components_empty(spark):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame([], "a long, b long")
    assert connected_components(pairs).count() == 0


def test_connected_components_random_vs_union_find(spark):
    """Randomized graphs vs a reference union-find: component labels
    must equal the component minimum for every vertex."""
    import random

    rng = random.Random(7)
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.dedup import (
        connected_components,
    )

    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(5, 35))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        vertices = {v for e in edges for v in e}
        expected = {v: find(v) for v in vertices}
        pairs = spark.createDataFrame(edges, "a long, b long")
        got = {
            r["id"]: r["cluster_id"] for r in connected_components(pairs).collect()
        }
        assert got == expected, f"trial {trial}: {got} != {expected}"


# ---------------------------------------------------------------- r10:
# content contraction: the whole ngram family runs at distinct-content
# grain (md5 groups, weighted df) and must stay BIT-IDENTICAL to the
# uncontracted semantics the DuckDB oracle replays. Brute-force
# reference mirrors _NGRAM_PAIRS_SQL: substr shingles, df cap over
# DOC count (not content count), HALF_UP jaccard rounding.


def _brute_ngram_pairs(rows, k=6, threshold=0.6, frac=0.02, cap=500):
    import math

    sets = {
        i: ({t[j : j + k] for j in range(len(t) - k + 1)} if t and len(t) >= k else set())
        for i, t in rows
    }
    n = len(sets)
    df: dict[str, int] = {}
    for s in sets.values():
        for g in s:
            df[g] = df.get(g, 0) + 1
    capv = math.floor(frac * n)
    if cap is not None:
        capv = min(capv, cap)
    capv = max(1, capv)
    kept = {i: {g for g in s if df[g] <= capv} for i, s in sets.items()}
    out = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(kept[a] & kept[b])
            if not inter:
                continue
            na, nb = len(kept[a]), len(kept[b])
            j = math.floor(inter / (na + nb - inter) * 10000 + 0.5) / 10000
            if j >= threshold:
                out[(a, b)] = j
    return out


@pytest.fixture(scope="module")
def dup_heavy(spark):
    """Corpus with the duplicate structure contraction must handle:
    a 4-copy group, a 3-copy group near-dup to it, a 12-copy group
    whose every shingle is cap-dropped (df 12 > abs cap 10), singletons,
    and one doc with text shorter than k (empty shingle set)."""
    rng = random.Random(23)
    rows = []
    for i in range(8):  # singletons
        rows.append((i, _mk_doc(rng)))
    base = _mk_doc(rng)
    for i in range(4):  # exact 4-copy group, reps at min id
        rows.append((100 + i, base))
    near = _mutate(rng, base, n_edits=8)
    for i in range(3):  # 3-copy group, near-dup of the 4-copy group
        rows.append((200 + i, near))
    hot = _mk_doc(rng)
    for i in range(12):  # 12 copies: df 12 > cap 10 -> fully capped
        rows.append((300 + i, hot))
    rows.append((400, "tiny"))  # shorter than k=6
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_ngram_contraction_matches_bruteforce(dup_heavy):
    rows = [(r["doc_id"], r["text"]) for r in dup_heavy.collect()]
    want = _brute_ngram_pairs(rows, frac=0.5, cap=10)
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            dup_heavy, threshold=0.6, max_doc_freq_frac=0.5, max_doc_freq_abs=10
        ).collect()
    }
    assert got == want
    # the fully-capped 12-copy group must emit nothing (no surviving
    # shingle -> no identical pairs either), and the 4-copy group must
    # emit all C(4,2) jaccard-1.0 pairs plus 4x3 cross pairs to the
    # 3-copy group's members when the rep pair clears the threshold
    assert not [p for p in got if p[0] >= 300]
    for i in range(4):
        for j in range(i + 1, 4):
            assert got[(100 + i, 100 + j)] == 1.0


def test_ngram_pairs_reject_string_ids(dup_heavy):
    """Pairs travel packed as one long, so a non-integer id column is
    refused when the pairs are declared, before any job runs."""
    docs = dup_heavy.select(
        F.format_string("d%04d", F.col("doc_id")).alias("doc_id"), "text"
    )
    with pytest.raises(ValueError, match="integer"):
        ngram_jaccard_pairs(docs, threshold=0.6)


def test_pair_graph_components_match_full_pairs(dup_heavy):
    """CC over the contracted pair graph == CC over the full pair set
    (same components, same min labels, same vertex universe)."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pair_graph,
    )

    kw = dict(threshold=0.6, max_doc_freq_frac=0.5, max_doc_freq_abs=10)
    full = connected_components(ngram_jaccard_pairs(dup_heavy, **kw))
    graph = connected_components(ngram_jaccard_pair_graph(dup_heavy, **kw))
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, graph.collect()))


def test_recall_cert_callers_emit_distinct_pairs(spark, sf_dir):
    """_pair_recall_cert (queries/llm.py) no longer re-deduplicates its
    candidate input (r14: the defensive dropDuplicates was a redundant
    exchange — guide §2.4); its CONTRACT is that callers pass pair
    sets already distinct on (a, b). Pin that contract for both
    production callers' candidate pipelines: a duplicate pair would
    multiply truth rows through the cert's left join and corrupt the
    recall counts."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_near_pairs,
    )
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    for cand in (
        minhash_lsh_pairs(docs, k=6, num_hashes=64, bands=16, threshold=0.7)
        .select("a", "b"),
        simhash_near_pairs(docs, max_hamming=3).select("a", "b"),
    ):
        total = cand.count()
        distinct = cand.distinct().count()
        assert total == distinct, (total, distinct)
