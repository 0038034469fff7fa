"""Unit tests for the behavioral / time-series / graph query family
on hand-computable fixtures, plus invariants at the smoke SF."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from sycl_mapreduce_cpu_gpu_hybrid_spark.queries import behavioral


def _ts(day: int, hour: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, day, hour)


def _supply_fixture(tmp_path, rows) -> str:
    """A fixture dir holding lineitem.parquet (l_partkey, l_suppkey)
    and supplier.parquet (one row per supplier in ``rows``), the two
    tables graph_triangles reads: lineitem is scanned, supplier's
    footer bounds the node count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pks, sks = zip(*rows)
    sf = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "l_partkey": pa.array(pks, pa.int64()),
                "l_suppkey": pa.array(sks, pa.int64()),
            }
        ),
        f"{sf}/lineitem.parquet",
    )
    pq.write_table(
        pa.table({"s_suppkey": pa.array(sorted(set(sks)), pa.int64())}),
        f"{sf}/supplier.parquet",
    )
    return sf


def test_funnel_strict_order(spark, monkeypatch):
    # u1 completes the funnel in order; u2 clicks BEFORE its view
    # (must not count as a click conversion); u3 views only.
    rows = [
        (1, _ts(1, 1), "view"),
        (1, _ts(1, 2), "click"),
        (1, _ts(1, 3), "purchase"),
        (2, _ts(2, 1), "click"),
        (2, _ts(2, 2), "view"),
        (3, _ts(3, 1), "view"),
        # u2's purchase without a post-view click: not counted
        (2, _ts(2, 3), "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    monkeypatch.setattr(behavioral, "load_table", lambda s, d, n: df)
    out = behavioral.events_funnel(spark, "unused").collect()[0]
    assert (out["n_view"], out["n_click"], out["n_purchase"]) == (3, 1, 1)
    assert out["click_rate_e4"] == 10000 // 3
    assert out["purchase_rate_e4"] == 10000


def test_funnel_monotone_at_smoke(spark, sf_dir):
    out = behavioral.events_funnel(spark, sf_dir).collect()[0]
    assert out["n_view"] >= out["n_click"] >= out["n_purchase"] >= 0


def test_cohort_offsets_non_negative(spark, sf_dir):
    rows = behavioral.events_cohort_retention(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["week_offset"] >= 0
        assert r["n_users"] > 0
    # offset-0 cell exists for every cohort (the first event itself)
    cohorts = {r["cohort_week"] for r in rows}
    zero = {r["cohort_week"] for r in rows if r["week_offset"] == 0}
    assert cohorts == zero


def test_gapfill_dense_grid(spark, monkeypatch):
    rows = [
        ("a", _ts(1)),
        ("a", _ts(4)),  # days 2 and 3 missing for a
        ("b", _ts(2)),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    monkeypatch.setattr(behavioral, "load_table", lambda s, d, n: df)
    out = behavioral.events_gapfill(spark, "unused").collect()
    got = {(r["event_type"], r["day"].day): r["n"] for r in out}
    # complete 2-type x 4-day grid, zeros where absent
    assert len(got) == 8
    assert got[("a", 1)] == 1 and got[("a", 2)] == 0 and got[("a", 3)] == 0
    assert got[("a", 4)] == 1
    assert got[("b", 2)] == 1 and got[("b", 1)] == 0 and got[("b", 4)] == 0


def test_scd2_intervals(spark, monkeypatch):
    rows = [
        (1, _ts(1), 101, "LOW"),
        (1, _ts(5), 102, "HIGH"),   # change
        (1, _ts(9), 103, "HIGH"),   # no change — collapsed
        (1, _ts(12), 104, "LOW"),   # change back
        (2, _ts(2), 201, "MED"),
    ]
    df = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate timestamp, o_orderkey long, o_orderpriority string"
    )
    monkeypatch.setattr(behavioral, "load_table", lambda s, d, n: df)
    out = sorted(
        behavioral.scd2_order_priority(spark, "unused").collect(),
        key=lambda r: (r["o_custkey"], r["valid_from"]),
    )
    assert [(r["o_custkey"], r["prio"], r["is_current"]) for r in out] == [
        (1, "LOW", 0),
        (1, "HIGH", 0),
        (1, "LOW", 1),
        (2, "MED", 1),
    ]
    # intervals chain: each valid_to equals the next valid_from
    c1 = [r for r in out if r["o_custkey"] == 1]
    for a, b in zip(c1, c1[1:]):
        assert a["valid_to"] == b["valid_from"]
    assert c1[-1]["valid_to"] is None


def test_triangles_hand_graph(spark, tmp_path):
    # parts -> suppliers: p1 {1,2,3} forms a triangle; p2 {3,4} adds an
    # edge; p3 {1,4} closes a second triangle {1,3,4}.
    rows = []
    for pk, sks in [(1, [1, 2, 3]), (2, [3, 4]), (3, [1, 4])]:
        rows += [(pk, sk) for sk in sks]
    sf = _supply_fixture(tmp_path, rows)
    out = behavioral.graph_triangles(spark, sf).collect()[0]
    assert out["n_nodes"] == 4
    # edges: 12 13 23 34 14 -> 5
    assert out["n_edges"] == 5
    # triangles: {1,2,3} and {1,3,4}
    assert out["n_triangles"] == 2


def test_transition_matrix_hand(spark, monkeypatch):
    rows = [
        (1, _ts(1, 1), 10, "view"),
        (1, _ts(1, 2), 11, "click"),
        (1, _ts(1, 3), 12, "view"),
        (2, _ts(1, 1), 20, "view"),
        (2, _ts(1, 2), 21, "click"),
        (3, _ts(1, 1), 30, "error"),  # single event: no transition
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    monkeypatch.setattr(behavioral, "load_table", lambda s, d, n: df)
    out = {
        (r["from_type"], r["to_type"]): (r["n"], r["p_e4"])
        for r in behavioral.events_transition_matrix(spark, "unused").collect()
    }
    assert out == {
        ("view", "click"): (2, 10000),
        ("click", "view"): (1, 10000),
    }


def test_rfm_buckets_partition_customers(spark, sf_dir):
    rows = behavioral.orders_rfm(spark, sf_dir).collect()
    for r in rows:
        assert 1 <= r["r_bucket"] <= 5
        assert 1 <= r["f_bucket"] <= 5
        assert 1 <= r["m_bucket"] <= 5
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import load_table

    n_cust = (
        load_table(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r["n_customers"] for r in rows) == n_cust


def test_basket_pairs_hand(spark, monkeypatch):
    # two orders share the pair (1,2); pair (1,3) occurs once -> dropped
    rows = [(1, 1), (1, 2), (1, 3), (2, 1), (2, 2), (3, 7)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    monkeypatch.setattr(behavioral, "load_table", lambda s, d, n: df)
    out = behavioral.basket_pairs(spark, "unused").collect()
    assert [(r["p1"], r["p2"], r["support"]) for r in out] == [(1, 2, 2)]


def test_triangles_edge_budget_falls_through(spark, monkeypatch, tmp_path):
    # the dense local tier is gated by BOTH budgets: a graph whose
    # vertex universe fits the node ceiling but whose edge count
    # exceeds TRI_LOCAL_MAX_EDGES must take the distributed wedge path
    # (never collect) and still produce the same exact counts
    rows = []
    for pk, sks in [(1, [1, 2, 3]), (2, [3, 4]), (3, [1, 4])]:
        rows += [(pk, sk) for sk in sks]
    sf = _supply_fixture(tmp_path, rows)
    local = behavioral.graph_triangles(spark, sf).collect()
    monkeypatch.setattr(behavioral, "TRI_LOCAL_MAX_EDGES", 1)
    over_budget = behavioral.graph_triangles(spark, sf).collect()
    assert local == over_budget
    assert over_budget[0]["n_triangles"] == 2


def test_triangles_df_cap(spark, tmp_path):
    # a hub part above the cap contributes nothing
    hub = [(99, sk) for sk in range(behavioral._TRI_PART_CAP + 1)]
    small = [(1, 1), (1, 2)]
    sf = _supply_fixture(tmp_path, hub + small)
    out = behavioral.graph_triangles(spark, sf).collect()[0]
    assert out["n_edges"] == 1 and out["n_triangles"] == 0


def test_weighted_median_matches_percentile(spark):
    """_weighted_median_over on a (key, value, count) frame must be
    bit-identical to F.percentile(value, 0.5) over the EXPANDED
    multiset — the exactness contract events_anomaly_mad's r9
    value-counts pipeline rests on (odd/even n, heavy duplicates,
    negative values, singleton groups)."""
    import random

    import pyspark.sql.functions as F

    rng = random.Random(42)
    rows = []
    for g in range(6):
        n_vals = rng.randint(1, 30)
        for _ in range(n_vals):
            rows.append((f"g{g}", rng.randint(-50, 50), rng.randint(1, 7)))
    cnts = spark.createDataFrame(rows, "k string, v long, c long")
    # collapse duplicate (k, v) rows the way a groupBy-count would
    cnts = cnts.groupBy("k", "v").agg(F.sum("c").alias("c"))
    got = {
        r["k"]: r["m"]
        for r in behavioral._weighted_median_over(cnts, "k", "v", "c", "m")
        .select("k", "m")
        .distinct()
        .collect()
    }
    expanded = cnts.select(
        "k", F.explode(F.expr("array_repeat(v, CAST(c AS INT))")).alias("v")
    )
    want = {
        r["k"]: r["m"]
        for r in expanded.groupBy("k")
        .agg(F.expr("percentile(v, 0.5)").alias("m"))
        .collect()
    }
    assert got == want  # exact ==, not approx
