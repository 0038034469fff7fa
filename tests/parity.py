"""Local stand-in for the driver's t2 correctness gate: run each
``__spark_entry__.queries()`` entry AND its ``oracle_sql()`` through
DuckDB on the same parquet, compare row count, column names, and an
order-insensitive value hash. Used by tests and as a CLI:

    python tests/parity.py [sf_dir] [query ...]

STRICT by default (round-4 fix): rounds 2 and 3 both shipped queries
this harness passed but the driver rejected, because floats were
normalized to ``%.9g`` (hiding last-bit double differences) and
Decimals via ``str()`` (hiding the driver's inability to normalize
Decimal objects across its Spark and DuckDB fetch paths). Strict mode
(a) hashes floats with raw ``repr()`` — both engines must produce
bit-identical doubles — and (b) rejects any oracled query whose
output carries a DECIMAL column on either side. The authoring
convention this enforces: hash-bearing outputs are strings, integers,
dates, or doubles that are bit-stable under round() on both engines
(see sycl_mapreduce_cpu_gpu_hybrid_spark/queries/__init__.py).
Pass ``--loose`` only to debug how far apart two frames are.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import TABLE_NAMES

DEFAULT_SF = "/root/testdata/sf0.01"


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _norm(v, strict: bool = True) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # strict: raw repr — the two engines must agree to the last
        # bit, exactly what the driver's value hash demands
        return repr(v) if strict else f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_signature(
    cols: list[str], rows: list[tuple], strict: bool = True
) -> tuple[int, list[str], str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_norm(r[i], strict) for i in order) for r in rows)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return len(rows), sorted(cols), digest


def _decimal_cols(cols: list[str], rows: list[tuple]) -> list[str]:
    """Columns carrying Decimal values anywhere — banned in oracled
    outputs (the driver hash can't normalize them; round-3 evidence)."""
    bad: set[str] = set()
    for r in rows:
        for c, v in zip(cols, r):
            if isinstance(v, decimal.Decimal):
                bad.add(c)
    return sorted(bad)


def compare_one(spark, con, name: str, qfn, sql: str | None, sf_dir: str, strict=True):
    sdf = qfn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    s_sig = frame_signature(scols, srows, strict)
    if sql is None:
        return {"name": name, "mode": "rows_only", "rows": s_sig[0], "ok": s_sig[0] > 0}
    rel = con.sql(sql)
    ocols = list(rel.columns)
    otypes = [str(t) for t in rel.types]
    orows = rel.fetchall()
    o_sig = frame_signature(ocols, orows, strict)
    ok = s_sig == o_sig
    if strict:
        from pyspark.sql.types import DecimalType

        dec = sorted(
            set(
                [f.name for f in sdf.schema.fields if isinstance(f.dataType, DecimalType)]
                + _decimal_cols(scols, srows)
                + _decimal_cols(ocols, orows)
            )
        )
        if dec:
            return {
                "name": name,
                "mode": "oracle",
                "ok": False,
                "error": f"strict: DECIMAL output columns banned in oracled queries: {dec}",
            }
        # DuckDB-side RESULT TYPES, not just fetched values: fetchall
        # renders HUGEINT as a plain int (hiding it), but the driver's
        # pandas/arrow fetch degrades HUGEINT to float64/decimal128 —
        # the r6 multimodal hash-fail mechanism. Ban it at the type
        # level so e.g. an uncast SUM(BIGINT) fails HERE first.
        hazard = sorted(
            c
            for c, t in zip(ocols, otypes)
            if "HUGEINT" in t or "DECIMAL" in t
        )
        if hazard:
            return {
                "name": name,
                "mode": "oracle",
                "ok": False,
                "error": (
                    "strict: oracle emits HUGEINT/DECIMAL result types "
                    f"(unstable across driver fetch paths): {hazard} — "
                    "CAST sums/divisions to BIGINT/DOUBLE in the SQL"
                ),
            }
    out = {
        "name": name,
        "mode": "oracle",
        "rows": s_sig[0],
        "oracle_rows": o_sig[0],
        "cols": s_sig[1],
        "oracle_cols": o_sig[1],
        "hash_match": s_sig[2] == o_sig[2],
        "ok": ok,
    }
    if not ok and s_sig[0] == o_sig[0] and s_sig[1] == o_sig[1]:
        # locate first differing rows for debugging
        order = sorted(range(len(scols)), key=lambda i: scols[i])
        sl = sorted("\x01".join(_norm(r[i]) for i in order) for r in srows)
        oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
        ol = sorted("\x01".join(_norm(r[i]) for i in oorder) for r in orows)
        for a, b in zip(sl, ol):
            if a != b:
                out["first_diff"] = {"engine": a.split("\x01"), "oracle": b.split("\x01")}
                break
    return out


def run(
    sf_dir: str = DEFAULT_SF, only: list[str] | None = None, strict: bool = True
) -> list[dict]:
    import __spark_entry__ as entrymod
    from sycl_mapreduce_cpu_gpu_hybrid_spark.session import get_spark, release_cached

    spark = get_spark(app_name="parity", cpus=8, shuffle_partitions=8)
    con = duckdb_con(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = []
    for name, qfn in qs.items():
        if only and name not in only:
            continue
        try:
            results.append(
                compare_one(spark, con, name, qfn, oracles.get(name), sf_dir, strict)
            )
        except Exception as exc:  # surface, keep going
            results.append({"name": name, "ok": False, "error": str(exc)[:500]})
        finally:
            release_cached(spark)
    return results


if __name__ == "__main__":
    args = sys.argv[1:]
    strict = "--loose" not in args
    args = [a for a in args if a != "--loose"]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else DEFAULT_SF
    only = args[1:] if args and os.path.isdir(args[0]) else args
    res = run(sf_dir, only or None, strict)
    bad = [r for r in res if not r.get("ok")]
    for r in res:
        print(("PASS " if r.get("ok") else "FAIL ") + str(r))
    print(f"\n{len(res) - len(bad)}/{len(res)} queries match")
    sys.exit(1 if bad else 0)
