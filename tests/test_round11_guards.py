"""Round-11 guard tests: the directory-walking driver-memory sizing,
its host-RAM clamp, and the trade-graph layout key."""

from __future__ import annotations

import os


def test_ensure_driver_memory_walks_directories(tmp_path, monkeypatch):
    """A fixture laid out as Spark-written parquet DIRECTORIES must
    size identically to the same bytes as flat files (ADVICE r10: the
    listdir form totaled 0 and fell back to 16g)."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.session import (
        ensure_driver_memory,
    )

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    flat = tmp_path / "flat"
    flat.mkdir()
    (flat / "t.parquet").write_bytes(b"x" * (1 << 20))
    nested = tmp_path / "nested"
    (nested / "t.parquet").mkdir(parents=True)
    (nested / "t.parquet" / "part-0.parquet").write_bytes(b"x" * (1 << 20))
    got_flat = ensure_driver_memory(str(flat))
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    got_nested = ensure_driver_memory(str(nested))
    assert got_flat == got_nested


def test_ensure_driver_memory_clamps_to_host_ram(tmp_path, monkeypatch):
    """The 26x slope must not demand a heap the host cannot give: a
    fixture sized to imply > host RAM clamps to ~80% of it (ADVICE
    r10: a 10GB fixture demanded 264g and the JVM failed to launch)."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark import session as sess

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    fx = tmp_path / "big"
    fx.mkdir()
    (fx / "t.parquet").write_bytes(b"")
    real_getsize = os.path.getsize
    monkeypatch.setattr(
        sess.os.path,
        "getsize",
        lambda p: 20 * (1 << 30) if p.endswith("t.parquet") else real_getsize(p),
    )
    heap = sess.ensure_driver_memory(str(fx))
    need = int(heap.rstrip("g"))
    host_gib = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) / (
        1 << 30
    )
    assert need <= host_gib * 0.8 + 8  # clamped, not 20*26=520g


def test_tradegraph_layout_key_tracks_both_sources(tmp_path, monkeypatch):
    """The edge-layout key must change when EITHER source table's
    fingerprint changes (a stale layout must never be served against a
    regenerated fixture), and must stay stable when nothing changed.
    Drives the real _tradegraph_edge_layout call site with the
    publish/read steps stubbed, so the key checked is the one the
    code computes."""
    import shutil
    import tempfile

    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries import relational
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources import tables

    src = "/root/testdata/sf0.001"
    fx = tmp_path / "fx"
    fx.mkdir()
    for t in ("orders", "lineitem"):
        shutil.copy(f"{src}/{t}.parquet", fx / f"{t}.parquet")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    published = []

    def publish(write_fn, path):
        published.append(path)
        os.makedirs(path)
        open(os.path.join(path, "_SUCCESS"), "w").close()

    monkeypatch.setattr(tables, "publish_layout_atomic", publish)
    monkeypatch.setattr(tables, "read_layout", lambda spark, path: path)

    def key(d):
        return relational._tradegraph_edge_layout(None, str(d), None)

    k0 = key(fx)
    assert key(fx) == k0  # stable when untouched
    assert published == [k0]  # ...and not rebuilt
    os.utime(fx / "orders.parquet")  # orders regenerated (mtime bump)
    k1 = key(fx)
    assert k1 != k0
    os.utime(fx / "lineitem.parquet")
    assert key(fx) not in (k0, k1)
