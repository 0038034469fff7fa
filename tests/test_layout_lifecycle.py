"""Write-once layout lifecycle (r12 verdict task 7): a derivation-
version bump must (a) re-derive the layout under a NEW key and (b) GC
the superseded directory via sources.tables.keyed_dir — the r11
SUPP_NODE_OFFSET near-miss class, where a semantics change without a
key change would have served stale bytes under a correct-looking
fixture fingerprint. Parameterized over every version-stamped layout
builder (trade edges + nodes, ngram pair graph, orderline flat, truth
pairs); the shared mechanism, sources.tables.derived_layout, is
checked directly on a scratch fixture."""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import tempfile
import time

import pytest

SF = "/root/testdata/sf0.001"
ROOT = os.path.join(tempfile.gettempdir(), "smrgh_roundtrip")


def _dirs(family: str, sf_dir: str = SF) -> set[str]:
    # exactly keyed_dir's "{family}_{fixture8}_{hash16}" names for one fixture
    fixture8 = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    name = f"{family}_{fixture8}_" + "[0-9a-f]" * 16
    return set(glob.glob(os.path.join(ROOT, name)))


def _build_orderline(spark):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries import tpch

    tpch._orderline_flat_layout(spark, SF)


def _build_ngram(spark):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries import llm

    llm._ngram_pair_graph(spark, SF)[0].count()


def _build_truthpairs(spark):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries import llm

    llm._truth_pairs_layout(spark, SF).count()


def _build_tradegraph(spark):
    # build via the REAL consumer so the layout content matches what
    # production writes under this key: the layout is keyed by
    # (fixture fingerprints, derivation version) and trusts the
    # caller's edge frame — an earlier version of this helper wrote a
    # DIRECTED edge set under the real key and silently poisoned the
    # node layout derived from it (src counts are degrees only when
    # both directions are present), so graph_pagerank in a different
    # test file read wrong ranks (exactly the stale-layout class this
    # test exists to catch)
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries import relational

    # the tiny fixture takes the driver-local budget tier, which
    # never touches the layout — force the distributed path (the
    # layout's only producer) for the build
    prior = os.environ.get("SMRGH_FORCE_DISTRIBUTED")
    os.environ["SMRGH_FORCE_DISTRIBUTED"] = "1"
    try:
        relational.QUERIES["graph_pagerank"](spark, SF).count()
    finally:
        if prior is None:
            os.environ.pop("SMRGH_FORCE_DISTRIBUTED", None)
        else:
            os.environ["SMRGH_FORCE_DISTRIBUTED"] = prior


CASES = [
    (
        "orderline",
        "sycl_mapreduce_cpu_gpu_hybrid_spark.queries.tpch",
        "_ORDERLINE_LAYOUT_V",
        "orderline_flat",
        _build_orderline,
    ),
    (
        "ngramgraph",
        "sycl_mapreduce_cpu_gpu_hybrid_spark.queries.llm",
        "_NGRAM_GRAPH_LAYOUT_V",
        "ngramgraph",
        _build_ngram,
    ),
    (
        "tradegraph",
        "sycl_mapreduce_cpu_gpu_hybrid_spark.queries.relational",
        "_EDGE_LAYOUT_DERIVATION_V",
        "tradegraph_edges",
        _build_tradegraph,
    ),
    (
        # node layout derives FROM the edge layout through the same
        # pagerank run; its own version constant must key it
        "tradegraph-nodes",
        "sycl_mapreduce_cpu_gpu_hybrid_spark.queries.relational",
        "_NODE_LAYOUT_DERIVATION_V",
        "tradegraph_nodes",
        _build_tradegraph,
    ),
    (
        "truthpairs",
        "sycl_mapreduce_cpu_gpu_hybrid_spark.queries.llm",
        "_TRUTH_PAIRS_LAYOUT_V",
        "truthpairs",
        _build_truthpairs,
    ),
]


@pytest.mark.parametrize(
    "name,mod_name,ver_attr,family,build", CASES, ids=[c[0] for c in CASES]
)
def test_version_bump_rederives_and_prunes(
    spark, monkeypatch, name, mod_name, ver_attr, family, build
):
    import importlib

    mod = importlib.import_module(mod_name)

    build(spark)
    before = _dirs(family)
    assert before, f"{name}: no layout dir materialized under {ROOT}"

    monkeypatch.setattr(mod, ver_attr, getattr(mod, ver_attr) + 1)
    build(spark)
    bumped = _dirs(family)
    assert bumped, f"{name}: bumped layout not materialized"
    assert bumped.isdisjoint(before), (
        f"{name}: version bump did not change the layout key: "
        f"{before} -> {bumped}"
    )
    # keyed_dir must have GC'd every superseded sibling
    assert not (before & _dirs(family)), (
        f"{name}: stale pre-bump layout dir survived the re-derivation"
    )

    # restoring the version (monkeypatch teardown order: do it
    # explicitly here so we can assert) re-derives the original key
    # and GCs the bumped dir
    monkeypatch.undo()
    build(spark)
    final = _dirs(family)
    assert final.isdisjoint(bumped), (
        f"{name}: stale bumped layout dir survived the restore"
    )


def test_read_layout_memoized_and_stamp_invalidated(spark, tmp_path):
    """read_layout (r14) returns the SAME lazy frame for an unchanged
    published layout (so re-declarations stay job-free and the
    declared-plan cache's purity guard can cache their consumers), and
    a REPUBLISHED layout (changed bytes/mtime) gets a fresh read —
    stale frames can never be served across a rebuild."""
    import time

    from pyspark.sql import functions as F

    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import read_layout

    path = str(tmp_path / "layout")
    spark.range(5).withColumn("v", F.col("id") * 2).write.parquet(path)
    a = read_layout(spark, path)
    b = read_layout(spark, path)
    assert a is b  # memo hit: no second read.parquet declaration
    assert a.count() == 5
    time.sleep(0.05)  # ensure a distinct mtime_ns on the rewrite
    spark.range(7).withColumn("v", F.col("id") * 3).write.mode(
        "overwrite"
    ).parquet(path)
    c = read_layout(spark, path)
    assert c is not a  # stamp change -> fresh frame
    assert c.count() == 7
    # r15 (r14 advisory): the superseded stamp must be EVICTED, not
    # accumulate for the session's lifetime, and layout keys must be
    # namespaced apart from load_table's (different frame semantics:
    # raw read vs nanosAsLong rewrite)
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources import tables

    entries = [
        k for k in tables._TABLE_CACHE[spark] if k[1] == path
    ]
    assert entries == [entries[0]]  # exactly one stamp survives
    assert entries[0][0] == "layout"


def test_derived_layout_lifecycle(tmp_path, monkeypatch):
    """The helper every layout goes through: a failed build publishes
    nothing, a published key is never rebuilt, the key follows every
    named source table and the derivation string, and a re-derivation
    prunes the superseded sibling."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import derived_layout

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    root = tmp_path / "tmp" / "smrgh_roundtrip"
    fx = tmp_path / "fx"
    fx.mkdir()
    for t in ("a", "b"):
        (fx / f"{t}.parquet").write_bytes(t.encode())
    calls = []

    def write(tmp):
        calls.append(tmp)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part-0"), "w") as fh:
            fh.write("rows")

    def layout(deriv="v=1"):
        return derived_layout(str(fx), "fam", ("a", "b"), deriv, write)

    def boom(tmp):
        os.makedirs(tmp)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        derived_layout(str(fx), "fam", ("a", "b"), "v=1", boom)
    assert not root.exists() or os.listdir(root) == []

    p0 = layout()
    fixture8 = hashlib.sha256(str(fx).encode()).hexdigest()[:8]
    assert re.fullmatch(f"fam_{fixture8}_[0-9a-f]{{16}}", os.path.basename(p0))
    assert os.path.isfile(os.path.join(p0, "_SUCCESS"))
    assert layout() == p0 and len(calls) == 1  # published: no rebuild
    assert sorted(os.listdir(root)) == [os.path.basename(p0)]

    p1 = layout("v=2")
    assert p1 != p0 and not os.path.exists(p0)  # superseded sibling pruned
    time.sleep(0.01)
    os.utime(fx / "b.parquet")  # one source regenerated
    p2 = layout("v=2")
    assert p2 not in (p0, p1)
    assert sorted(os.listdir(root)) == [os.path.basename(p2)]
    assert len(calls) == 3

    # a table that cannot be fingerprinted has no layout
    with pytest.raises(OSError):
        derived_layout(str(fx), "fam", ("absent",), "v=1", write)

    # the prune is scoped to one fixture: another fixture's layout of
    # the same family survives this one's re-derivation
    fx2 = tmp_path / "fx2"
    shutil.copytree(fx, fx2)
    other = derived_layout(str(fx2), "fam", ("a", "b"), "v=2", write)
    p3 = layout("v=3")
    assert not os.path.exists(p2) and os.path.isdir(other)
    assert sorted(os.listdir(root)) == sorted(map(os.path.basename, (p3, other)))


def test_orderline_buckets_follow_core_slots(spark, monkeypatch):
    """The order-line layout writes one bucket per core slot, and the
    count is part of its key: the part files, the registered bucket
    spec and the dir agree, and a session with another count gets a
    layout of its own rather than reading these files under the wrong
    bucket ids. q3 returns the same rows at either count."""
    from pyspark import SparkContext

    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries import tpch

    # Spark's BucketingUtils.bucketIdPattern
    bucket_id = re.compile(r".*_(\d+)(?:\..*)?$")

    def layout(n):
        assert spark.sparkContext.defaultParallelism == n
        _build_orderline(spark)
        (path,) = _dirs("orderline_flat")
        ids = {
            int(bucket_id.match(f).group(1))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        }
        desc = spark.sql(
            f"DESCRIBE TABLE EXTENDED smrgh_orderline_flat_{path[-16:]}"
        ).collect()
        spec = {r.col_name: r.data_type for r in desc}
        rows = sorted(tpch.tpch_q3_priority(spark, SF).collect())
        return path, ids, int(spec["Num Buckets"]), rows

    n = spark.sparkContext.defaultParallelism
    assert n == 8  # tests/conftest.py's local[8] session
    path8, ids8, spec8, rows8 = layout(n)
    assert ids8 == set(range(n))
    assert spec8 == n
    assert rows8

    monkeypatch.setattr(
        SparkContext, "defaultParallelism", property(lambda self: 2)
    )
    path2, ids2, spec2, rows2 = layout(2)
    assert path2 != path8
    assert ids2 == {0, 1}
    assert spec2 == 2
    assert rows2 == rows8

    # restore the session's own layout for the tests that follow
    monkeypatch.undo()
    assert layout(n)[0] == path8
