"""Round-6 operators: PII redaction, fixed-point k-means, MERGE
upsert, unigram surprise, stratified sampling, inverted index.

Cross-engine value parity for all six is covered by tests/parity.py
(strict hash gate); these tests pin the SEMANTICS on hand-built
inputs where the expected answer is known independently.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sycl_mapreduce_cpu_gpu_hybrid_spark.functions.privacy import (
    PII_PATTERNS,
    pii_counts,
    redact_pii,
)
from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.kmeans import (
    kmeans_fixedpoint,
    quantized_long_form,
)


def test_redact_each_class(spark):
    df = spark.createDataFrame(
        [
            ("mail me at jo.ann+x@sub.example.org today", "email"),
            ("server at 192.168.1.254 is up", "ipv4"),
            ("ssn 123-45-6789 on file", "ssn"),
            ("call 415-555-0199 now", "phone"),
        ],
        "t string, cls string",
    )
    rows = df.select(
        "cls", redact_pii("t").alias("red"), *pii_counts("t").values()
    ).collect()
    by_cls = {r["cls"]: r for r in rows}
    assert "<EMAIL>" in by_cls["email"]["red"] and "@" not in by_cls["email"]["red"]
    assert by_cls["email"]["n_email"] == 1
    assert "<IP>" in by_cls["ipv4"]["red"] and "192" not in by_cls["ipv4"]["red"]
    assert "<SSN>" in by_cls["ssn"]["red"]
    assert "<PHONE>" in by_cls["phone"]["red"]
    # classes don't cross-fire
    assert by_cls["email"]["n_ipv4"] == 0
    assert by_cls["ssn"]["n_phone"] == 0
    assert by_cls["phone"]["n_ssn"] == 0


def test_redact_clean_text_is_identity(spark):
    t = "no personal data here, just words and 12 plain numbers"
    df = spark.createDataFrame([(t,)], "t string")
    assert df.select(redact_pii("t").alias("r")).first()["r"] == t


def test_pattern_count_matches_python():
    import re

    s = "a@b.io and c@d.net, ip 10.0.0.1, ssn 111-22-3333, tel 222-333-4444"
    want = {"email": 2, "ipv4": 1, "ssn": 1, "phone": 1}
    for name, pat, _ in PII_PATTERNS:
        assert len(re.findall(pat, s)) == want[name], name


def _numpy_kmeans(vecs, k, iters):
    """Independent fixed-point Lloyd replication (pure python ints)."""
    import math

    q = [[math.floor(x * 1_000_000) for x in v] for v in vecs]
    cent = {c: list(q[c]) for c in range(k)}

    def assign():
        out = {}
        for vid, v in enumerate(q):
            best = min(
                (sum((a - b) ** 2 for a, b in zip(v, cent[c])), c) for c in cent
            )
            out[vid] = best
        return out

    for _ in range(iters):
        a = assign()
        newc = {}
        for c in cent:
            members = [q[v] for v, (_, cc) in a.items() if cc == c]
            if members:
                n = len(members)
                # truncation toward zero, matching Spark DIV / DuckDB //
                newc[c] = [
                    (sum(col) // n) if sum(col) >= 0 else -((-sum(col)) // n)
                    for col in zip(*members)
                ]
            else:
                newc[c] = cent[c]
        cent = newc
    a = assign()
    summary = {}
    for vid, (dist, c) in a.items():
        s = summary.setdefault(c, [0, 0, vid])
        s[0] += 1
        s[1] += dist
        s[2] = min(s[2], vid)
    return summary


def test_kmeans_matches_independent_replication(spark):
    import random

    rng = random.Random(7)
    # two well-separated blobs + noise, dim 5
    vecs = [
        [rng.uniform(-0.1, 0.1) + (0.8 if i % 2 else -0.8) for _ in range(5)]
        for i in range(40)
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    # quantize through Spark so float->double semantics match the engine
    qrows = quantized_long_form(df).collect()
    qvecs = {}
    for r in qrows:
        qvecs.setdefault(r["vec_id"], {})[r["dim"]] = r["q"]
    pyvecs = [
        [qvecs[i][d] / 1_000_000 for d in sorted(qvecs[i])] for i in range(40)
    ]
    got = {
        r["cid"]: (r["n_members"], r["inertia"], r["min_vec"])
        for r in kmeans_fixedpoint(df, k=3, iters=2).collect()
    }
    want = _numpy_kmeans(pyvecs, k=3, iters=2)
    assert set(got) == set(want)
    for c in want:
        assert got[c] == tuple(want[c]), f"cluster {c}: {got[c]} != {want[c]}"


def test_kmeans_arrow_bit_identical_to_long_form(spark):
    # the Arrow matmul Lloyd (declared path) must reproduce the
    # relational long form to the last bit — same quantization,
    # tie-break, truncating mean, empty-cluster drop
    import random

    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.kmeans import (
        kmeans_fixedpoint_arrow,
    )

    rng = random.Random(11)
    vecs = [
        [rng.uniform(-1.0, 1.0) for _ in range(7)] for _ in range(60)
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    for k, iters in [(3, 2), (5, 1), (2, 3)]:
        a = sorted(map(tuple, kmeans_fixedpoint(df, k=k, iters=iters).collect()))
        b = sorted(
            map(tuple, kmeans_fixedpoint_arrow(df, k=k, iters=iters).collect())
        )
        assert a == b, (k, iters, a, b)
    spark.catalog.clearCache()


def test_kmeans_clusters_separate_blobs(spark):
    # 2 blobs, interleaved so the two seeds (vec_id 0, 1) land in
    # different blobs -> k=2 must split them exactly
    vecs = [(i, [0.9, 0.9] if i % 2 == 0 else [-0.9, -0.9]) for i in range(20)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id bigint, embedding array<float>",
    )
    rows = kmeans_fixedpoint(df, k=2, iters=2).collect()
    sizes = sorted(r["n_members"] for r in rows)
    assert sizes == [10, 10]
    assert all(r["inertia"] == 0 for r in rows)


def test_merge_upsert_semantics(spark, sf_dir):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries.relational import merge_upsert

    out = merge_upsert(spark, sf_dir)
    rows = out.collect()
    keys = [r["o_orderkey"] for r in rows]
    assert len(keys) == len(set(keys)), "merge must emit each key once"
    for r in rows:
        if r["o_orderkey"] % 5 == 0:
            assert r["src"] == "upsert" and r["o_orderstatus"] == "U"
        else:
            assert r["src"] == "kept"
            assert r["o_orderkey"] % 10 != 0
    # inserts: change-set keys absent from base must appear
    assert any(k % 10 == 0 for k in keys), "inserted keys must appear"


def test_unigram_surprise_rare_scores_higher(spark):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries import llm

    docs = spark.createDataFrame(
        [
            (0, "common common common common", "en", "s", 27),
            (1, "common common common rareword", "en", "s", 29),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(os.path.join(td, "documents.parquet"))
        out = {
            r["doc_id"]: r
            for r in llm.text_unigram_surprise(spark, td).collect()
        }
    # 'rareword' (count 1) carries more bits than 'common' (count 7)
    assert out[1]["surprise_bits"] > out[0]["surprise_bits"]
    assert out[0]["n_tokens"] == 4 and out[1]["n_tokens"] == 4


def test_stratified_sample_fractions(spark):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries import llm

    sf = "/root/testdata/sf0.01"
    kept = llm.corpus_sample_stratified(spark, sf).groupBy("lang").count()
    totals = (
        spark.read.parquet(f"{sf}/documents.parquet").groupBy("lang").count()
    )
    k = {r["lang"]: r["count"] for r in kept.collect()}
    t = {r["lang"]: r["count"] for r in totals.collect()}
    # hash buckets approximate the target fraction; wide tolerance
    assert 0.02 < k["en"] / t["en"] < 0.25
    for lang in t:
        if lang != "en":
            assert 0.10 < k.get(lang, 0) / t[lang] < 0.45


def test_inverted_index_postings_sorted_and_capped(spark):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries import llm

    rows = llm.text_inverted_index(spark, "/root/testdata/sf0.01").collect()
    assert rows, "fixture must yield indexable bigrams"
    for r in rows[:50]:
        ids = [int(x) for x in r["postings"].split(",")]
        assert ids == sorted(ids)
        assert len(ids) == r["df"]
        assert 2 <= r["df"] <= 100


def test_pagerank_star_graph(spark):
    """Hub of a star receives maximal rank; leaves are symmetric."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.graph import (
        RANK_SCALE,
        pagerank_fixedpoint,
    )

    hub, leaves = 0, list(range(1, 9))
    e = [(hub, l) for l in leaves] + [(l, hub) for l in leaves]
    edges = spark.createDataFrame(e, "src bigint, dst bigint")
    ranks = {
        r["node_id"]: r["rank_e12"]
        for r in pagerank_fixedpoint(edges, iters=3).collect()
    }
    assert len(ranks) == 9
    assert ranks[hub] > max(ranks[l] for l in leaves)
    assert len({ranks[l] for l in leaves}) == 1, "leaves must be symmetric"
    # total mass stays near n * RANK_SCALE (truncation leaks are tiny)
    assert abs(sum(ranks.values()) - 9 * RANK_SCALE) < 9 * RANK_SCALE * 0.01


def test_pagerank_local_fast_path_matches_distributed(spark):
    """The driver-local replay (the trade-graph tier's engine) must be
    bit-identical to the distributed fixed-point loop (exact integer
    arithmetic both ways): on a symmetric graph, and on a directed one
    under dangling redistribution."""
    import random

    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.graph import (
        _pagerank_replay,
        pagerank_fixedpoint,
    )

    rng = random.Random(29)
    und = {(rng.randrange(60), rng.randrange(60)) for _ in range(150)}
    und = {(a, b) for a, b in und if a != b}
    cases = [
        (list(und) + [(b, a) for a, b in und], "none"),
        (sorted(und), "redistribute"),
    ]
    for e, dangling in cases:
        edges = spark.createDataFrame(e, "src bigint, dst bigint")
        local = _pagerank_replay(edges.toPandas(), spark, 3, 85, dangling)
        dist = pagerank_fixedpoint(edges, iters=3, dangling=dangling)
        assert sorted(map(tuple, local.collect())) == sorted(
            map(tuple, dist.collect())
        ), dangling


def test_pagerank_trade_graph_local_matches_distributed(spark, sf_dir):
    """The driver-local trade-graph build (searchsorted FK join +
    packed dedup + replay) must produce exactly what the distributed
    join/distinct/union + fixpoint loop produces on the same fixture."""
    from pyspark.sql import functions as F

    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.graph import (
        pagerank_fixedpoint,
    )
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries.relational import (
        _pagerank_trade_graph_local,
    )
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    local = sorted(
        map(tuple, _pagerank_trade_graph_local(spark, o, li).collect())
    )
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries.relational import (
        SUPP_NODE_OFFSET,
    )

    cs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + SUPP_NODE_OFFSET).alias("s"),
        )
        .distinct()
    )
    edges = cs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        cs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    dist = sorted(
        map(
            tuple,
            pagerank_fixedpoint(edges, iters=3).collect(),
        )
    )
    assert local == dist


def test_pagerank_matches_python_replication(spark):
    """Bit-exact against an independent pure-python fixed-point
    replication on a small random graph."""
    import random

    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.graph import (
        RANK_SCALE,
        pagerank_fixedpoint,
    )

    rng = random.Random(11)
    und = {(rng.randrange(12), rng.randrange(12)) for _ in range(30)}
    und = {(a, b) for a, b in und if a != b}
    e = list(und) + [(b, a) for a, b in und]
    edges = spark.createDataFrame(e, "src bigint, dst bigint")
    got = {
        r["node_id"]: r["rank_e12"]
        for r in pagerank_fixedpoint(edges, iters=3).collect()
    }
    nodes = {a for a, _ in e} | {b for _, b in e}
    deg = {}
    for a, _ in e:
        deg[a] = deg.get(a, 0) + 1
    rank = {n: RANK_SCALE for n in nodes}
    for _ in range(3):
        flow = {}
        for a, b in e:
            flow[b] = flow.get(b, 0) + rank[a] // deg[a]
        rank = {
            n: (15 * RANK_SCALE) // 100 + (85 * flow.get(n, 0)) // 100
            for n in nodes
        }
    assert got == rank


def test_dq_audit_all_green_on_fixture(spark, sf_dir):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries.relational import dq_audit

    rows = {r["check"]: r for r in dq_audit(spark, sf_dir).collect()}
    assert len(rows) == 6
    for name, r in rows.items():
        assert r["ok"] == 1 and r["n_violations"] == 0, name


def test_dq_audit_detects_violations(spark):
    """Planted violations must be counted, not just flagged."""
    import os, tempfile

    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries.relational import dq_audit

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [
                (1, 10, "O", 5.0, None, "1-URGENT"),
                (1, 11, "X", 5.0, None, "1-URGENT"),  # dup key + bad status
                (3, 99, "F", 5.0, None, "1-URGENT"),  # custkey 99 missing
            ],
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        ).write.parquet(os.path.join(td, "orders.parquet"))
        spark.createDataFrame(
            [(10, "a"), (11, "b")], "c_custkey bigint, c_name string"
        ).write.parquet(os.path.join(td, "customer.parquet"))
        spark.createDataFrame(
            [(1, 1, 99.0), (3, 1, 5.0)],  # qty 99 out of range
            "l_orderkey bigint, l_linenumber bigint, l_quantity double",
        ).write.parquet(os.path.join(td, "lineitem.parquet"))
        rows = {r["check"]: r for r in dq_audit(spark, td).collect()}
    assert rows["orders_key_unique"]["n_violations"] == 1
    assert rows["orders_status_domain"]["n_violations"] == 1
    assert rows["orders_custkey_refs_customer"]["n_violations"] == 1
    assert rows["lineitem_qty_range"]["n_violations"] == 1
    assert rows["orders_key_not_null"]["ok"] == 1
