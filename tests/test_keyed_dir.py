"""Every tree under ``$TMPDIR/smrgh_roundtrip`` comes from one rule,
sources.tables.keyed_dir: a stream's durable tree is replaced, not
accumulated, when its fixture changes, and the prune never reaches
another fixture's trees. The fixture memos follow a file rewritten in
place."""

from __future__ import annotations

import glob
import hashlib
import os
import pathlib
import shutil
import tempfile
import time

from sycl_mapreduce_cpu_gpu_hybrid_spark.streaming.events import (
    stream_purchases_to_parquet,
)


def _all_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _trees(family: str, sf_dir: str) -> list[str]:
    fixture8 = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), "smrgh_roundtrip")
    return glob.glob(os.path.join(root, f"{family}_{fixture8}_" + "[0-9a-f]" * 16))


def _events_fixture(tmp_path, name: str, sf_dir: str) -> str:
    fx = tmp_path / name
    fx.mkdir()
    shutil.copy(os.path.join(sf_dir, "events.parquet"), fx / "events.parquet")
    return str(fx)


def test_stream_trees_pruned_per_fixture(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    a = _events_fixture(tmp_path, "a", sf_dir)
    b = _events_fixture(tmp_path, "b", sf_dir)
    stream_purchases_to_parquet(spark, b).collect()
    (tree_b,) = _trees("stream_pq", b)

    first = _all_rows(stream_purchases_to_parquet(spark, a))
    (tree_a,) = _trees("stream_pq", a)
    time.sleep(0.01)
    os.utime(os.path.join(a, "events.parquet"))
    assert _all_rows(stream_purchases_to_parquet(spark, a)) == first
    # the regenerated fixture drained into a new tree and pruned the old
    (tree_a2,) = _trees("stream_pq", a)
    assert tree_a2 != tree_a
    assert _trees("stream_pq", b) == [tree_b]


def test_fixture_memos_follow_source_stamp(tmp_path):
    """A fixture rewritten in place at the same path, with another row
    count and timestamp unit, is read again by the footer memos."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import (
        _ns_timestamp_cols,
        parquet_rows,
    )

    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"ts": pa.array([0, 1, 2], pa.timestamp("ns"))}), path)
    assert parquet_rows(path) == 3
    assert _ns_timestamp_cols(path) == ["ts"]
    time.sleep(0.01)
    pq.write_table(pa.table({"ts": pa.array(range(5), pa.timestamp("us"))}), path)
    assert parquet_rows(path) == 5
    assert _ns_timestamp_cols(path) == []


def test_tempdir_anchor_only_in_tables():
    """Only the keyed-directory rule names the temp root: a path built
    by hand elsewhere would escape its pruning."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "sycl_mapreduce_cpu_gpu_hybrid_spark"
    hits = {
        p.relative_to(pkg).as_posix()
        for p in pkg.rglob("*.py")
        if any(w in p.read_text() for w in ("tempfile.gettempdir", "smrgh_roundtrip"))
    }
    assert hits == {"sources/tables.py"}
