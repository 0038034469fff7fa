"""The forced-distributed switch (plans/budget.py): with
SMRGH_FORCE_DISTRIBUTED set, every driver-local fast path must refuse
to run and its distributed twin must produce the identical result —
the r8 verdict's consolidation ask, so the at-scale plan of each
tiered operator runs end-to-end in CI every round rather than only
when a fixture happens to exceed a ceiling."""

from __future__ import annotations

from sycl_mapreduce_cpu_gpu_hybrid_spark.plans import budget

SF = "/root/testdata/sf0.001"


def test_switch_semantics(monkeypatch):
    monkeypatch.delenv(budget.FORCE_DISTRIBUTED_ENV, raising=False)
    assert not budget.force_distributed()
    assert budget.local_tier_enabled(10)
    assert budget.within_budget(5, 10)
    monkeypatch.setenv(budget.FORCE_DISTRIBUTED_ENV, "0")
    assert not budget.force_distributed()
    monkeypatch.setenv(budget.FORCE_DISTRIBUTED_ENV, "1")
    assert budget.force_distributed()
    assert not budget.local_tier_enabled(10)
    assert not budget.within_budget(5, 10)


def test_table_rows_footer_matches_spark(spark):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import parquet_rows

    n = parquet_rows(f"{SF}/supplier.parquet")
    assert n == spark.read.parquet(f"{SF}/supplier.parquet").count()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_pagerank_forced_distributed_matches(spark, forced, monkeypatch):
    """graph_pagerank under the switch: the numpy replay and the
    driver-local trade-graph edge build are both disabled, so the
    whole query runs the distributed join + shuffle-per-round loop —
    and must be bit-identical to the local tier's output."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries.relational import (
        graph_pagerank,
    )

    dist = _rows(graph_pagerank(spark, SF))
    monkeypatch.delenv(budget.FORCE_DISTRIBUTED_ENV)
    local = _rows(graph_pagerank(spark, SF))
    assert dist == local and len(dist) > 0


def test_cc_forced_distributed_matches(spark, forced, monkeypatch):
    """connected_components under the switch: the union-find tier is
    disabled, the star-contraction fixpoint runs, same labels."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20), (11, 12), (3, 1)],
        "a long, b long",
    )
    dist = _rows(connected_components(edges, "a", "b"))
    monkeypatch.delenv(budget.FORCE_DISTRIBUTED_ENV)
    local = _rows(connected_components(edges, "a", "b"))
    assert dist == local and len(dist) > 0


def test_triangles_forced_distributed_matches(spark, forced, monkeypatch):
    """graph_triangles under the switch: the dense-gemm tier is
    disabled (no footer probe, no edge collect), the degree-oriented
    wedge join runs, same (n_nodes, n_edges, n_triangles)."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries.behavioral import (
        graph_triangles,
    )

    dist = _rows(graph_triangles(spark, SF))
    monkeypatch.delenv(budget.FORCE_DISTRIBUTED_ENV)
    local = _rows(graph_triangles(spark, SF))
    assert dist == local and len(dist) > 0


def test_median_forced_distributed_matches(spark):
    """agg_median and agg_median_approx have one form, the distributed
    value-counts quantiles: no collect_list buffers a group's rows. Their
    rows are checked against the DuckDB oracle by tests/parity.py."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries.relational import (
        agg_median,
        agg_median_approx,
    )

    for query in (agg_median, agg_median_approx):
        plan = query(spark, SF)._jdf.queryExecution().optimizedPlan().toString()
        assert "collect_list" not in plan, query.__name__


def test_rfm_ntile_tiers_bit_identical(spark, forced, monkeypatch):
    """orders_rfm under the switch: the three global ntile windows are
    disabled and each dimension buckets through _ntile_boundary_buckets
    (histogram-located exact boundary keys, assigned by comparison) —
    the segment rollup must be bit-identical to the window tier."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries.behavioral import (
        orders_rfm,
    )

    dist = _rows(orders_rfm(spark, SF))
    monkeypatch.delenv(budget.FORCE_DISTRIBUTED_ENV)
    local = _rows(orders_rfm(spark, SF))
    assert dist == local and len(dist) > 0


def test_pagerank_directed_forced_distributed_matches(spark, forced, monkeypatch):
    """graph_pagerank_directed (dangling redistribution) under the
    switch: the per-round dangling-mass scalar + checkpointed carry
    must equal the numpy replay bit-for-bit."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries.relational import (
        graph_pagerank_directed,
    )

    dist = _rows(graph_pagerank_directed(spark, SF))
    monkeypatch.delenv(budget.FORCE_DISTRIBUTED_ENV)
    local = _rows(graph_pagerank_directed(spark, SF))
    assert dist == local and len(dist) > 0


def test_pagerank_dangling_mass_conserved(spark):
    """On a star sink graph (1..n -> 0) the redistribute variant must
    match an independent pure-python replication, conserve mass up to
    truncation, and differ from dangling='none' (which leaks the
    sink's mass)."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.graph import (
        RANK_SCALE,
        _pagerank_replay,
        pagerank_fixedpoint,
    )

    n = 5  # nodes 1..4 point at sink 0
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, n)], "src long, dst long"
    )
    # pure-python replication of the documented arithmetic
    rank = {v: RANK_SCALE for v in range(n)}
    base = 15 * RANK_SCALE // 100
    for _ in range(3):
        flow = {v: 0 for v in range(n)}
        flow[0] = sum(rank[u] // 1 for u in range(1, n))
        share = rank[0] // n  # node 0 is the only dangling node
        rank = {v: base + (85 * (flow[v] + share)) // 100 for v in range(n)}
    want = sorted((v, r) for v, r in rank.items())
    dist = pagerank_fixedpoint(edges, iters=3, dangling="redistribute")
    local = _pagerank_replay(edges.toPandas(), spark, 3, 85, "redistribute")
    for tier, df in (("distributed", dist), ("replay", local)):
        assert sorted(map(tuple, df.collect())) == want, tier
    leaky = dict(
        pagerank_fixedpoint(edges, iters=3, dangling="none").collect()
    )
    assert sum(leaky.values()) < sum(r for _, r in want)


def test_ntile_boundary_matches_window_on_skew(spark, forced):
    """_ntile_boundary_buckets vs F.ntile on adversarial frames: heavy
    ties (one hot value dominating a dimension — the documented pick
    degradation corner), n not divisible by k, n < k, and mixed
    asc/desc dimensions ranked in ONE call."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries.behavioral import (
        _ntile_boundary_buckets,
    )

    for n in (3, 23, 997):
        df = spark.range(n).select(
            F.col("id").alias("o_custkey"),
            (F.col("id") % 7).alias("v"),
            F.when(F.col("id") % 5 == 0, F.lit(42))
            .otherwise(F.col("id"))
            .alias("u"),
        )
        want = _rows(
            df.select(
                "o_custkey",
                F.ntile(5)
                .over(Window.orderBy(F.col("v").desc(), "o_custkey"))
                .alias("vb"),
                F.ntile(5)
                .over(Window.orderBy(F.col("u").asc(), "o_custkey"))
                .alias("ub"),
            )
        )
        got = _rows(
            _ntile_boundary_buckets(
                df.localCheckpoint(),
                5,
                [("v", True, "vb"), ("u", False, "ub")],
            ).select("o_custkey", "vb", "ub")
        )
        assert got == want, f"n={n}"


def test_ngram_dense_tier_matches_distributed(spark, forced, monkeypatch):
    """Uncapped ngram pairs (the truth-replay configuration) under the
    switch run the distributed explode; without it the dense-gemm tier
    answers — full rows including the rounded jaccard must match."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    kw = dict(k=6, threshold=0.6, max_doc_freq_frac=1.0, max_doc_freq_abs=None)
    dist = _rows(ngram_jaccard_pairs(docs, **kw))
    monkeypatch.delenv(budget.FORCE_DISTRIBUTED_ENV)
    local = _rows(ngram_jaccard_pairs(docs, **kw))
    assert dist == local and len(dist) > 0


def test_gate_calls_read_module_constants_imported_locally():
    """Every within_budget / local_tier_enabled call in the package
    passes its ceiling as an UPPER_CASE module-level name (one constant
    per tier, read at call time, never a per-call keyword) and imports
    the gate inside the calling function — perfbench wraps the gates
    by attribute on plans.budget, and a module-level import would bind
    the unwrapped function and drop the call from its count."""
    import ast
    import pathlib

    gates = {"within_budget": 1, "local_tier_enabled": 0}  # ceiling arg
    pkg = pathlib.Path(budget.__file__).resolve().parents[1]
    sites = []
    for path in sorted(pkg.rglob("*.py")):
        if path.resolve() == pathlib.Path(budget.__file__).resolve():
            continue
        tree = ast.parse(path.read_text(), str(path))
        consts = {
            t.id
            for node in tree.body
            if isinstance(node, (ast.Assign, ast.AnnAssign))
            for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
            if isinstance(t, ast.Name)
        }
        for node in tree.body:
            if isinstance(node, ast.ImportFrom):
                assert not {a.name for a in node.names} & set(gates), (
                    f"{path.name}: module-level gate import"
                )
        funcs = [
            n
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for fn in funcs:
            # the calls whose innermost enclosing function is ``fn``
            inner = {id(n) for f in ast.walk(fn) if f is not fn and f in funcs
                     for n in ast.walk(f)}
            imported = {
                a.asname or a.name
                for n in ast.walk(fn)
                if isinstance(n, ast.ImportFrom)
                and (n.module or "").endswith("budget")
                for a in n.names
            }
            for call in ast.walk(fn):
                if id(call) in inner or not isinstance(call, ast.Call):
                    continue
                name = getattr(call.func, "id", getattr(call.func, "attr", None))
                if name not in gates:
                    continue
                where = f"{path.name}:{call.lineno} {fn.name}"
                assert isinstance(call.func, ast.Name) and name in imported, (
                    f"{where}: {name} not imported inside the function"
                )
                kw = {k.arg: k.value for k in call.keywords}
                ceiling = kw.get("ceiling") or call.args[gates[name]]
                assert (
                    isinstance(ceiling, ast.Name)
                    and ceiling.id.isupper()
                    and ceiling.id in consts
                ), f"{where}: ceiling is not an UPPER_CASE module constant"
                sites.append(where)
    # trade-graph PageRank (2), CC, ngram, triangles, RFM
    assert len(sites) >= 6, sites
