"""Physical-plan and semantics tests for the relational inventory.

The parity harness (tests/parity.py) checks *values* against DuckDB;
these tests check the *plans* are the ones we'd want at 100 TB:
filters pushed to the scan, pruned read schemas, broadcast joins for
small dims, TakeOrderedAndProject for top-k — plus semantics that the
oracle can't see (approx-distinct error bound, partition invariance).
"""

from __future__ import annotations

from decimal import Decimal

import pytest

from sycl_mapreduce_cpu_gpu_hybrid_spark.queries import relational
from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import parquet_rows


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_reach_scan(spark, sf_dir):
    df = relational.filter_project_cast(spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters" in plan and "l_quantity" in plan.split("PushedFilters")[1][:200]
    # pruned read schema: only the 5 referenced columns, not all 11
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema


def test_star_join_is_all_broadcast(spark, sf_dir):
    plan = _plan(relational.join_multi_broadcast(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_topk_plans_take_ordered(spark, sf_dir):
    plan = _plan(relational.topk_orders(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_range_band_is_broadcast_nested_loop(spark, sf_dir):
    plan = _plan(relational.join_range_band(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_semi_anti_plan_no_row_duplication(spark, sf_dir):
    semi = _plan(relational.join_semi(spark, sf_dir))
    anti = _plan(relational.join_anti(spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_approx_distinct_within_bound(spark, sf_dir):
    import pyspark.sql.functions as F

    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r["l_returnflag"]: r["d"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("d"))
        .collect()
    }
    approx = {
        r["l_returnflag"]: r["d"]
        for r in li.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", rsd=0.02).alias("d"))
        .collect()
    }
    for flag, ex in exact.items():
        # tighter than the declared 6% certificate: measured error at
        # the contract rsd=0.02 stays within 2x rsd on every fixture
        assert approx[flag] == pytest.approx(ex, rel=0.04)
    # the declared certificate must agree: exact counts + all flags 1
    cert = {
        r["l_returnflag"]: (r["exact_part"], r["approx_ok"])
        for r in relational.agg_approx_distinct(spark, sf_dir).collect()
    }
    assert {k: v[0] for k, v in cert.items()} == exact
    assert all(v[1] == 1 for v in cert.values())


def test_agg_median_sketch_tier_boundary(spark, tmp_path, monkeypatch):
    """The >MEDIAN_EXACT_MAX_ROWS sketch tier, exercised AT ITS
    BOUNDARY on a synthetic fixture (r8 verdict: the declared at-scale
    path must not stay theoretical). The tier decision is driven by
    the parquet FOOTER probe (parquet_rows), so this test builds a
    real lineitem.parquet whose footer count straddles the threshold:

    - MEDIAN_EXACT_MAX_ROWS == footer count  -> exact tier (plan has NO
      percentile_approx);
    - MEDIAN_EXACT_MAX_ROWS == footer count - 1 -> the probe flips the plan
      to percentile_approx (asserted on the optimized plan), executed
      end-to-end, values within the documented sketch tolerance
      (accuracy 10000 ~ 0.01% rank error; the integer-quantity median
      may legally sit one adjacent value off the interpolated exact).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 5_000
    rng = np.random.RandomState(7)
    tbl = pa.table(
        {
            "l_linestatus": pa.array(
                np.where(rng.rand(n) < 0.5, "O", "F")
            ),
            "l_quantity": pa.array(
                rng.randint(1, 51, n).astype("float64")
            ),
            "l_extendedprice": pa.array(
                np.round(rng.rand(n) * 90000 + 900, 2)
            ),
        }
    )
    sf = str(tmp_path)
    pq.write_table(tbl, f"{sf}/lineitem.parquet")
    footer = parquet_rows(f"{sf}/lineitem.parquet")
    assert footer == n  # the probe read the footer, no Spark job

    monkeypatch.setattr(relational, "MEDIAN_EXACT_MAX_ROWS", n)
    exact_df = relational.agg_median(spark, sf)
    monkeypatch.setattr(relational, "MEDIAN_EXACT_MAX_ROWS", n - 1)
    sketch_df = relational.agg_median(spark, sf)
    exact_plan = exact_df._jdf.queryExecution().optimizedPlan().toString()
    sketch_plan = sketch_df._jdf.queryExecution().optimizedPlan().toString()
    assert "percentile_approx" not in exact_plan
    assert "percentile_approx" in sketch_plan

    exact = {
        r["l_linestatus"]: (r["med_qty"], r["p25_price"], r["p75_price"])
        for r in exact_df.collect()
    }
    approx = {
        r["l_linestatus"]: (r["med_qty"], r["p25_price"], r["p75_price"])
        for r in sketch_df.collect()
    }
    assert set(exact) == set(approx) == {"O", "F"}
    for status, (m, p25, p75) in exact.items():
        am, a25, a75 = approx[status]
        assert abs(am - m) <= 1.0  # adjacent integer quantity is legal
        assert a25 == pytest.approx(p25, rel=0.02)
        assert a75 == pytest.approx(p75, rel=0.02)


def test_agg_median_approx_fallback(spark, sf_dir, monkeypatch):
    """The at-scale escape hatch: forcing the row threshold to 0 must
    swap the exact percentile for percentile_approx (bounded-memory
    sketch) and still land within sketch tolerance of the exact
    quantiles — the declared behavior above MEDIAN_EXACT_MAX_ROWS."""
    exact = {
        r["l_linestatus"]: (r["med_qty"], r["p25_price"], r["p75_price"])
        for r in relational.agg_median(spark, sf_dir).collect()
    }
    monkeypatch.setattr(relational, "MEDIAN_EXACT_MAX_ROWS", 0)
    approx = {
        r["l_linestatus"]: (r["med_qty"], r["p25_price"], r["p75_price"])
        for r in relational.agg_median(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for status, (m, p25, p75) in exact.items():
        am, a25, a75 = approx[status]
        assert am == pytest.approx(m, rel=0.02)
        assert a25 == pytest.approx(p25, rel=0.02)
        assert a75 == pytest.approx(p75, rel=0.02)


def test_agg_partition_invariance(spark, sf_dir):
    """Reference invariant (SURVEY §5: device 1/2/3 agree) — results
    must not depend on physical partitioning."""
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")

    def summarize(df):
        import pyspark.sql.functions as F

        return sorted(
            (r["l_returnflag"], r["n"], r["s"])
            for r in df.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("s"))
            .collect()
        )

    assert summarize(li.repartition(1)) == summarize(li.repartition(64))


def _sorted_array_quantile(values: list[float], p: float) -> float:
    """The exact interpolated quantile of a sorted array, in the
    arithmetic _exact_group_quantiles evaluates: v[lo] + (v[lo + 1] -
    v[lo]) * frac at pos = p * (n - 1), where pos is DECIMAL (Spark
    types the literal p as one) and frac is cast to double."""
    v = sorted(values)
    pos = Decimal(repr(p)) * (len(v) - 1)
    lo = int(pos)
    frac = pos - lo
    return v[lo] + ((v[lo + 1] - v[lo]) * float(frac) if frac else 0.0)


def test_exact_quantile_tiers_bit_identical(spark, sf_dir):
    """The distributed value-counts quantiles must produce BIT-identical
    doubles to the sorted-array form over each group's values: the
    same interpolation arithmetic, only the plan differs. Spark's exact
    ``F.percentile`` is the semantic reference; it interpolates as
    (hi_pos - pos) * v[lo] + (pos - lo_pos) * v[hi], which can differ
    from both in the last bit, so it is compared to 1e-12."""
    from pyspark.sql import functions as F

    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    specs = [
        ("l_quantity", 0.5, "m"),
        ("l_extendedprice", 0.25, "p25"),
        ("l_extendedprice", 0.75, "p75"),
        ("l_discount", 0.9, "p90"),
    ]
    dist = relational._exact_group_quantiles(li, "l_returnflag", specs)
    d = {r["l_returnflag"]: tuple(r[out] for _, _, out in specs) for r in dist.collect()}
    values: dict[str, dict[str, list[float]]] = {}
    cols = sorted({c for c, _, _ in specs})
    for r in li.select("l_returnflag", *[F.col(c).cast("double") for c in cols]).collect():
        for c in cols:
            if r[c] is not None:
                values.setdefault(r["l_returnflag"], {}).setdefault(c, []).append(r[c])
    arrays = {
        g: tuple(_sorted_array_quantile(vs[c], p) for c, p, _ in specs)
        for g, vs in values.items()
    }
    assert d and arrays == d  # exact ==, not approx: bit-identical doubles
    ref = li.groupBy("l_returnflag").agg(
        *[F.percentile(F.col(c).cast("double"), p).alias(out) for c, p, out in specs]
    )
    for r in ref.collect():
        assert d[r["l_returnflag"]] == pytest.approx(
            tuple(r[out] for _, _, out in specs), rel=1e-12
        )
