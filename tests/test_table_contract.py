"""The one input contract: a table is ``{sf_dir}/{name}.parquet``, one
parquet file or a Spark-written directory of part files. Row counts
come from footers for either form, through one memoized counter
(sources.tables.parquet_rows) that never starts a Spark job."""

from __future__ import annotations

import ast
import os
import pathlib
import shutil

SF = "/root/testdata/sf0.001"
PKG = pathlib.Path(__file__).resolve().parents[1] / "sycl_mapreduce_cpu_gpu_hybrid_spark"


def _jobs_during(spark, fn) -> int:
    """Spark jobs launched while ``fn`` runs, read from the status
    tracker through a job group of its own."""
    sc = spark.sparkContext
    group = f"table_contract_{id(fn)}"
    sc.setJobGroup(group, "declaration probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_parquet_rows_sums_directory_part_files(spark, tmp_path):
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import parquet_rows

    df = spark.range(0, 1234)
    path = str(tmp_path / "t.parquet")
    df.coalesce(2).write.parquet(path)
    parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(parts) == 2 and os.path.isfile(os.path.join(path, "_SUCCESS"))
    assert parquet_rows(path) == df.count() == 1234
    # one file: the same counter reads its single footer
    single = str(tmp_path / "single.parquet")
    shutil.copy(os.path.join(path, parts[0]), single)
    assert 0 < parquet_rows(single) < 1234


def test_tfidf_on_directory_fixture_declares_without_jobs(spark, tmp_path):
    """text_tfidf_topterms reads n_docs from the footers: on a fixture
    whose documents table is a Spark-written directory, declaring the
    query runs no Spark job (a count fallback would run one)."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.queries.llm import text_tfidf_topterms
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import load_table

    sf = str(tmp_path)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.coalesce(2).write.parquet(f"{sf}/documents.parquet")
    assert os.path.isdir(f"{sf}/documents.parquet")
    # the first load infers the schema (one job), memoized per path
    load_table(spark, sf, "documents")
    assert _jobs_during(spark, lambda: text_tfidf_topterms(spark, sf)) == 0


def test_ns_timestamps_load_from_a_directory(spark, tmp_path):
    """A TIMESTAMP(NANOS) column is found in a directory's part file
    too, so a one-part directory loads through load_table with the
    same microsecond timestamps as the single-file form."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import (
        _ns_timestamp_cols,
        load_table,
    )

    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999, 5]
    tbl = pa.table(
        {"id": pa.array([1, 2, 3]), "ts": pa.array(ns, type=pa.timestamp("ns"))}
    )
    single, nested = tmp_path / "single", tmp_path / "nested"
    single.mkdir()
    (nested / "events.parquet").mkdir(parents=True)
    pq.write_table(tbl, single / "events.parquet")
    pq.write_table(tbl, nested / "events.parquet" / "part-00000.parquet")
    assert _ns_timestamp_cols(str(nested / "events.parquet")) == ["ts"]
    # Spark's own INT96 timestamps read as ns in Arrow; they are not ns
    spark_dir = str(tmp_path / "spark.parquet")
    spark.sql("SELECT TIMESTAMP'2024-01-01 00:00:00' AS ts").write.parquet(spark_dir)
    assert _ns_timestamp_cols(spark_dir) == []

    def rows(sf: str) -> list:
        return sorted(load_table(spark, sf, "events").collect())

    got = rows(str(nested))
    assert got == rows(str(single))
    # floor division to microseconds, as DuckDB narrows TIMESTAMP_NS
    assert [r.ts.microsecond for r in got] == [123456, 0, 0]


def _enclosing_functions(tree: ast.AST, attr: str) -> list[str]:
    """Names of the functions whose bodies call ``<x>.attr(...)``."""
    hits = []
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == attr
                ):
                    hits.append(fn.name)
    return hits


def test_footer_reads_only_in_parquet_rows():
    """One footer counter: every parquet footer read in the package
    sits in sources.tables.parquet_rows, and the paths that served
    other kinds of input are gone."""
    calls = {}
    # the removed knobs are spelled in parts, so this file does not
    # itself name them
    gone = ("view-backed", "symmetric=") + tuple(
        "SMRGH_" + k for k in ("VERIFY_SYMMETRIC", "DEBUG_CERT")
    )
    for p in PKG.rglob("*.py"):
        src = p.read_text()
        assert not [w for w in gone if w in src], p
        if "read_metadata(" in src:
            calls[p.relative_to(PKG).as_posix()] = src.count("read_metadata(")
            fns = _enclosing_functions(ast.parse(src), "read_metadata")
            assert fns == ["parquet_rows"] * len(fns), (p, fns)
    assert calls == {"sources/tables.py": 1}


def test_single_path_options_stay_deleted():
    """One path per operator: the options that selected a second
    branch no declared query took stay off their functions, and the
    deleted distributed-ntile helper and RocksDB provider name do not
    come back anywhere in the package."""
    gone_params = {
        ("functions/text.py", "winnowing_fingerprints"): {"portable"},
        ("operators/dedup.py", "embedding_lsh_pairs"): {"seed", "portable"},
        ("streaming/events.py", "stream_tumbling_to_table"): {
            "name",
            "dedup_key",
            "state_partitions",
            "rocksdb_state",
        },
        ("streaming/events.py", "stateful_running_max"): {"timeout_minutes"},
        ("queries/relational.py", "_exact_group_quantiles"): {
            "unpersist_registry",
            "many_groups",
        },
    }
    for (rel, fn_name), params in gone_params.items():
        tree = ast.parse((PKG / rel).read_text())
        (fn,) = [
            n
            for n in tree.body
            if isinstance(n, ast.FunctionDef) and n.name == fn_name
        ]
        a = fn.args
        names = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
        assert not names & params, (rel, fn_name, names & params)
    gone_names = {"_ntile_distributed", "_ROCKSDB_PROVIDER"}
    for p in PKG.rglob("*.py"):
        found = set()
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                found.add(node.name)
            elif isinstance(node, ast.Name):
                found.add(node.id)
            elif isinstance(node, ast.Attribute):
                found.add(node.attr)
            elif isinstance(node, ast.alias):
                found.add(node.name.rsplit(".", 1)[-1])
        assert not found & gone_names, (p, found & gone_names)
