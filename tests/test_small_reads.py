"""Tiny reads plan as one partition: a parquet read whose files total no
more than the session's ``spark.sql.adaptive.coalescePartitions.
minPartitionSize`` is coalesced to one partition
(``sources.tables.read_parquet``), so the aggregates, windows and sorts
above it plan no exchange, and every batch parquet read in the package
goes through that one function."""

from __future__ import annotations

import ast
import pathlib

import pytest

import __spark_entry__ as entry
from perfbench.workloads import FLOOR_MIX
from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import (
    load_table,
    read_layout,
)
from test_table_contract import _jobs_during

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "sycl_mapreduce_cpu_gpu_hybrid_spark"
HASH_EXCHANGE = "Exchange hashpartitioning"
# floor_mix queries whose scans read sub-MiB tables at sf0.001
SHRUNK = ("events_json_extract", "window_rank_parts", "join_inner_agg")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_tiny_reads_plan_no_hash_exchange(spark, sf_dir):
    qs = entry.queries()
    for name in SHRUNK:
        assert HASH_EXCHANGE not in _plan(qs[name](spark, sf_dir)), name
    df = qs["events_json_extract"](spark, sf_dir)
    sink = df.write.format("noop").mode("overwrite")
    assert _jobs_during(spark, sink.save) == 1


def test_floor_follows_session_conf(spark, sf_dir, tmp_path, read_floor):
    """At a 1-byte floor nothing is tiny: the exchange comes back, and
    neither the table memo, the layout memo nor the declared-plan
    cache serves the frame planned under the default floor."""
    qs = entry.queries()
    layout = str(tmp_path / "layout")
    load_table(spark, sf_dir, "events").write.parquet(layout)
    assert HASH_EXCHANGE not in _plan(qs["events_json_extract"](spark, sf_dir))
    assert "Coalesce 1" in _plan(read_layout(spark, layout))
    with read_floor("1b"):
        assert HASH_EXCHANGE in _plan(qs["events_json_extract"](spark, sf_dir))
        assert "Coalesce" not in _plan(load_table(spark, sf_dir, "events"))
        assert "Coalesce" not in _plan(read_layout(spark, layout))
    assert "Coalesce 1" in _plan(load_table(spark, sf_dir, "events"))


def test_floor_mix_results_do_not_depend_on_the_floor(spark, sf_dir, read_floor):
    from parity import frame_signature

    qs = entry.queries()

    def signatures() -> dict:
        out = {}
        for name in FLOOR_MIX.queries:
            df = qs[name](spark, sf_dir)
            out[name] = frame_signature(df.columns, [tuple(r) for r in df.collect()])
        return out

    default = signatures()
    with read_floor("1b"):
        assert signatures() == default


READERS = ("read", "readStream", "write")


def _is_batch_parquet_read(node: ast.AST) -> bool:
    """``<x>.read[.<m>(...)...].parquet(...)``: a batch parquet read, as
    opposed to ``readStream`` or ``write``."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "parquet"
    ):
        return False
    recv = node.func.value
    while isinstance(recv, (ast.Call, ast.Attribute)):
        if isinstance(recv, ast.Attribute) and recv.attr in READERS:
            return recv.attr == "read"
        recv = recv.func if isinstance(recv, ast.Call) else recv.value
    return False


def _batch_parquet_reads(tree: ast.AST) -> list[str]:
    """The innermost enclosing function of every batch parquet read."""
    hits = []

    def visit(node: ast.AST, fn: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if _is_batch_parquet_read(node):
            hits.append(fn)
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return hits


# the foreachBatch merge reads the state it is about to overwrite,
# inside a streaming micro-batch; it is not a fixture or layout read
EXEMPT = {("streaming/events.py", "apply_batch")}


@pytest.mark.parametrize(
    "probe", ["spark.read.parquet(p)", "s.read.schema(x)\n.parquet(p)"]
)
def test_guard_sees_both_read_forms(probe):
    src = f"def f():\n    return ({probe})\n"
    assert _batch_parquet_reads(ast.parse(src)) == ["f"]


def test_batch_parquet_reads_only_in_read_parquet():
    """Every batch parquet read in the package sits in
    sources.tables.read_parquet, so none can skip the one-partition
    rule."""
    found = {}
    for p in PKG.rglob("*.py"):
        rel = p.relative_to(PKG).as_posix()
        for fn in _batch_parquet_reads(ast.parse(p.read_text())):
            if (rel, fn) not in EXEMPT:
                found.setdefault(rel, []).append(fn)
    # its two forms: with and without a schema
    assert found == {"sources/tables.py": ["read_parquet"] * 2}
