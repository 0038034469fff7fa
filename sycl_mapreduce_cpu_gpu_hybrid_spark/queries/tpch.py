"""Classic warehouse analytics suite: TPC-H-shaped multi-join
aggregates plus the analytic idioms a BI workload layers on top
(year-over-year growth, correlated EXISTS, rolling distinct users).

These extend the reference's single-table k-mer reductions
(src/main.cpp:55-73) to the multi-table decision-support shapes its
data model implies — the join-reordering / broadcast-selection /
partial-aggregation surface Catalyst owns.

Money arithmetic convention: the fixture's 2-decimal prices and
discounts convert EXACTLY to integer cents / e4 fractions
(``CAST(round(x * 100) AS BIGINT)`` — the *100 product of a 2-decimal
double is within 1e-9 of an integer, so round() is tie-free on both
engines). All revenue sums are then pure BIGINT arithmetic: identical
to the last bit regardless of accumulation order, which keeps top-k
cutoffs and growth ratios driver-hash-safe where double sums would
risk last-bit reorderings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table, parquet_schema

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


_REV_E6 = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (10000 - CAST(round(l_discount * 10000) AS BIGINT))"
)
_REV_E6_SQL = _REV_E6  # identical text is valid in both dialects


# Version stamp for the write-once denormalized order-line layout —
# folded into the layout key so derivation changes invalidate
# materialized /tmp copies automatically (the r11 edge-layout lesson).
# v2 (r13): + c_mktsegment denormalized in, + bucketed by l_orderkey.
# v3 (r13): + l_quantity, so q18's full-fact HAVING aggregate runs
# exchange-free on the same bucket clustering.
# v4 (r13): + l_partkey and p_type (the part dimension denormalized),
# so q14 drops its 2M-row broadcast build at the 10x fixture (the
# driver-side HashedRelation build was ~5s of its 8s).
_ORDERLINE_LAYOUT_V = 4


def _orderline_flat_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-once denormalized orders|><|lineitem|><|customer|><|part
    sales view (l_orderkey, l_partkey, o_custkey, o_orderdate,
    l_shipdate, l_quantity, rev_e6, c_mktsegment, p_type) — the
    canonical wide warehouse materialization, maintained at ingest in
    a real deployment (sources/warehouse.py's thesis applied to the
    star join itself). Keyed on the fingerprints of all four source
    tables + the derivation version.

    v2 is BUCKETED by l_orderkey (external bucketed table over the
    fingerprint-keyed dir): every l_orderkey's lines land in one
    bucket, and o_orderdate is functionally dependent on l_orderkey,
    so a groupBy(l_orderkey, o_orderdate) runs as an in-partition
    complete aggregate with NO exchange — q3 becomes one stage
    (bucketed scan -> pushed filters -> hash agg -> TakeOrdered).
    Measured at the 10x fixture (r13): 0.47-0.61 s min-of-4 vs
    1.11-2.59 s for the v1 flat + broadcast-customer plan on the same
    session, identical top-10 verified in-script. Denormalizing the
    tiny c_mktsegment dimension column in (dictionary-encoded ~1
    byte/row on disk) is what removes the last join. The bucket count
    is the session's core slots (defaultParallelism), one bucket per
    scan task, and it is part of the key: a layout written at one count
    is never registered under another count's spec. On a 4-core host,
    going from a fixed 32 buckets to 4 took q3 0.32 -> 0.15 s and q18
    0.30 -> 0.18 s at sf0.001, and q3 0.45 -> 0.19 s and q18
    0.47 -> 0.29 s at sf0.1 (interleaved warm medians). Fewer buckets
    than core slots would idle cores."""
    import os

    from ..sources.tables import derived_layout

    n_buckets = spark.sparkContext.defaultParallelism
    built = []

    def _write(tmp_path: str) -> None:
        built.append(tmp_path)
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate"
        )
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_partkey",
            "l_shipdate",
            "l_quantity",
            F.expr(_REV_E6).alias("rev_e6"),
        )
        c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
        flat = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
            # part unhinted: dimension-sized here, shuffle-joined by
            # the planner once it stops fitting a broadcast at scale —
            # either way the cost lands in the one-time build, not in
            # every consumer's run
            .join(p, li.l_partkey == p.p_partkey)
            .select(
                "l_orderkey",
                "l_partkey",
                "o_custkey",
                "o_orderdate",
                "l_shipdate",
                "l_quantity",
                "rev_e6",
                "c_mktsegment",
                "p_type",
            )
        )
        # write the bucketed table under a temp name, then detach the
        # catalog entry (external table — DROP keeps the files) so only
        # the files are published
        tmp_tbl = f"smrgh_orderline_build{os.getpid()}"
        spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
        (
            flat.write.mode("overwrite")
            .bucketBy(n_buckets, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", tmp_path)
            .format("parquet")
            .saveAsTable(tmp_tbl)
        )
        # FK-integrity guard (r13 advisory): consumers aggregate
        # over this INNER-joined view assuming it is row-for-row
        # lineitem (TPC-H referential integrity: every l_orderkey
        # has its order, every l_partkey its part). A fixture
        # violating that would silently diverge from oracles that
        # join lineitem->part only (q14) — fail the BUILD loudly
        # instead. The lineitem count is a parquet footer read.
        from ..sources.tables import parquet_rows

        built_rows = spark.table(tmp_tbl).count()
        expect = parquet_rows(f"{sf_dir}/lineitem.parquet")
        spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
        if built_rows != expect:
            raise AssertionError(
                f"orderline flat layout dropped rows: built {built_rows}"
                f" != lineitem {expect} — the fixture violates the"
                f" orders/part FK integrity this denormalized view"
                f" assumes (see _orderline_flat_layout docstring)"
            )

    path = derived_layout(
        sf_dir,
        "orderline_flat",
        ("orders", "lineitem", "customer", "part"),
        f"v={_ORDERLINE_LAYOUT_V},buckets={n_buckets}",
        _write,
    )
    tbl = f"smrgh_orderline_flat_{path[-16:]}"
    if built or not spark.catalog.tableExists(tbl):
        # single registration path: the build publishes FILES only;
        # register the external bucketed table over them — the bucket
        # ids ride in the part-file names, so the spec stays valid
        # across sessions and processes. A rebuild in THIS process
        # replaces any entry whose files were since invalidated.
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in parquet_schema(spark, path).fields
        )
        spark.sql(
            f"CREATE TABLE {tbl} ({cols}) USING parquet"
            f" CLUSTERED BY (l_orderkey) SORTED BY (l_orderkey)"
            f" INTO {n_buckets} BUCKETS LOCATION '{path}'"
        )
    return spark.table(tbl)


def tpch_q3_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): top-10 unshipped-revenue
    orders for one market segment. Reads the write-once denormalized
    bucketed order-line layout (_orderline_flat_layout): all three
    predicates (segment + both dates) push into the bucketed scan,
    the bucket clustering on l_orderkey satisfies the groupBy's
    distribution (o_orderdate is functionally dependent on the order
    key), and the whole query runs as ONE exchange-free stage — scan,
    filter, complete hash agg, TakeOrderedAndProject (per-partition
    heaps, never a global sort). Revenue is exact integer e6
    fixed-point, so the top-10 cutoff is deterministic across engines
    — a double sum could flip near-equal ranks 10 and 11 by
    accumulation order."""
    scored = _orderline_flat_layout(spark, sf_dir).where(
        (F.col("c_mktsegment") == "BUILDING")
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
        & (F.col("l_shipdate") > F.lit("1998-01-01"))
    ).select("l_orderkey", "o_orderdate", "rev_e6")
    return (
        scored.groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum("rev_e6").alias("revenue_e6"))
        .orderBy(F.desc("revenue_e6"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "o_orderdate", "revenue_e6")
    )


QUERIES["tpch_q3_priority"] = tpch_q3_priority
ORACLES["tpch_q3_priority"] = f"""
    SELECT l_orderkey, o_orderdate, CAST(sum({_REV_E6_SQL}) AS BIGINT) AS revenue_e6
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue_e6 DESC, l_orderkey ASC
    LIMIT 10
"""


def tpch_q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): six-table join —
    region-filtered nations broadcast (5 rows), customer and supplier
    both pinned to the same nation (the theta condition that makes Q5
    interesting), fact-side joins shuffled on their keys. Per-nation
    exact integer revenue."""
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = (
        _t(spark, sf_dir, "nation")
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = (
        _t(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.expr(_REV_E6).alias("rev")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("rev").alias("revenue_e6"))
    )


QUERIES["tpch_q5_region_volume"] = tpch_q5_region_volume
ORACLES["tpch_q5_region_volume"] = f"""
    SELECT n_name, CAST(sum({_REV_E6_SQL}) AS BIGINT) AS revenue_e6
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
"""


def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation: grouped integer-cents
    revenue, then lag() over (nation ORDER BY year) and an exact e4
    fixed-point growth ratio (both engines truncate integer division
    toward zero — verified for negatives by embedding_kmeans). The
    window runs on the |nations|x|years| aggregate, never the fact
    table: the 100 TB shape is agg-then-window, not window-then-agg."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    g = (
        o.select(
            "o_custkey",
            F.year("o_orderdate").alias("yr"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "yr")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    return (
        g.withColumn("prev", F.lag("rev_cents").over(w))
        .select(
            "n_name",
            F.col("yr").cast("int").alias("yr"),
            "rev_cents",
            F.expr(
                "CASE WHEN prev IS NULL OR prev = 0 THEN NULL"
                " ELSE ((rev_cents - prev) * 10000) DIV prev END"
            ).cast("bigint").alias("growth_e4"),
        )
    )


QUERIES["orders_yoy_growth"] = orders_yoy_growth
ORACLES["orders_yoy_growth"] = """
    WITH g AS (
        SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    ), lg AS (
        SELECT n_name, yr, rev_cents,
               lag(rev_cents) OVER (PARTITION BY n_name ORDER BY yr) AS prev
        FROM g
    )
    SELECT n_name, yr, rev_cents,
           CAST(CASE WHEN prev IS NULL OR prev = 0 THEN NULL
                ELSE ((rev_cents - prev) * 10000) // prev END AS BIGINT)
               AS growth_e4
    FROM lg
"""


def join_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + NOT EXISTS subqueries (the decorrelation
    surface): customers holding at least one >400k order and zero
    pending-status orders. Catalyst decorrelates to a left-semi plus a
    left-anti hash join — no per-row subquery execution at any scale;
    the plan is pinned in tests/test_tpch.py."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_ec")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_ec")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer_ec c
        WHERE EXISTS (
                SELECT 1 FROM orders_ec o
                WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
              )
          AND NOT EXISTS (
                SELECT 1 FROM orders_ec o
                WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
              )
        """
    )


QUERIES["join_exists_correlated"] = join_exists_correlated
ORACLES["join_exists_correlated"] = """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
          )
      AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
          )
"""


_ROLL_BASE = "2024-01-01"  # events fixture spans Jan 2024


def events_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day DISTINCT user count per active day — the window
    aggregate SQL expresses as ``count(DISTINCT ...) OVER (RANGE 6
    PRECEDING)`` but Spark's window operator cannot evaluate (no
    DISTINCT in window aggregates), and the naive collect_set rewrite
    is a single-task global window. Distributed rewrite: a user's
    presence in window g is attributed to their EARLIEST active day in
    [g-6, g] — pair (u, d) counts toward g iff g ∈ [d, d+6] and the
    user's previous active day < g-6. So: dedup to (user, day) pairs
    (the only full-data shuffle), per-USER lag (partitioned window,
    no global sort), a bounded 7x explode, and a group-count by day,
    then a semi join back to active days. Every stage is key-partitioned
    — this survives 100 TB where the single-partition window cannot."""
    e = _t(spark, sf_dir, "events")
    du = (
        e.select(
            F.datediff(F.to_date("ts"), F.lit(_ROLL_BASE)).alias("d"),
            "user_id",
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    contrib = (
        du.withColumn("prev", F.lag("d").over(w))
        .select(
            "prev",
            F.explode(F.expr("sequence(d, d + 6)")).alias("g"),
        )
        .where(F.col("prev").isNull() | (F.col("prev") < F.col("g") - 6))
    )
    active = du.select(F.col("d").alias("g")).distinct()
    return (
        contrib.join(active, "g", "left_semi")
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("u7"))
        .select(F.col("g").cast("int").alias("day_ord"), "u7")
    )


QUERIES["events_rolling_distinct"] = events_rolling_distinct
ORACLES["events_rolling_distinct"] = f"""
    WITH du AS (
        SELECT DISTINCT datediff('day', DATE '{_ROLL_BASE}', CAST(ts AS DATE)) AS d,
               user_id
        FROM events
    )
    SELECT DISTINCT CAST(d AS INT) AS day_ord,
           CAST(count(DISTINCT user_id) OVER (
               ORDER BY d RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS u7
    FROM du
"""


def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): pure filter-scan +
    global sum — the query where predicate pushdown and column pruning
    ARE the plan. All three predicates reach the parquet scan
    (PushedFilters pinned in tests/test_tpch.py); revenue is the exact
    integer e6 product, accumulation-order-proof."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(l_extendedprice * 100) AS BIGINT)"
                    " * CAST(round(l_discount * 10000) AS BIGINT)"
                )
            ).alias("revenue_e6"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


QUERIES["tpch_q6_forecast_revenue"] = tpch_q6_forecast_revenue
ORACLES["tpch_q6_forecast_revenue"] = """
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 10000) AS BIGINT)) AS BIGINT)
               AS revenue_e6,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""


def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): monthly share of revenue
    from PROMO-type parts — the lineitem x part fact-dim join (the one
    dimension key the join family didn't yet cover) with a conditional
    aggregate on top. Share is exact e4 fixed-point integer division.

    Layout path (r13): the v4 wide view carries p_type, so the join
    vanishes — the run is one join-free scan-project-agg stage. At
    the 10x fixture the two-table join's broadcast build alone (2M
    part rows collected and hash-built on the driver, per run) cost
    ~5s of an 8s query; DuckDB's parallel shared-hash build did the same in
    ~1s, and no plan tweak beats simply not paying it per-run."""
    # the group key is NUMERIC (year*100 + month — two cheap field
    # extractions); the month STRING renders after the aggregate, on
    # ~84 output rows instead of 60M input rows. date_format's
    # per-row formatter was the largest single cost left in the
    # layout path (measured 1.20 -> 0.69 s at the 10x fixture,
    # value-identical output).
    mk = (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("mk")
    j = _orderline_flat_layout(spark, sf_dir).select(
        mk,
        F.col("rev_e6").alias("rev"),
        (F.col("p_type") == "PROMO").alias("is_promo"),
    )
    return (
        j.groupBy("mk")
        .agg(
            F.sum(F.when(F.col("is_promo"), F.col("rev")).otherwise(0)).alias(
                "promo_rev_e6"
            ),
            F.sum("rev").alias("total_rev_e6"),
        )
        .select(
            F.expr(
                "concat(CAST(mk DIV 100 AS STRING), '-',"
                " lpad(CAST(mk % 100 AS STRING), 2, '0'))"
            ).alias("month"),
            "promo_rev_e6",
            "total_rev_e6",
            # the share multiply is promoted to decimal(38): monthly
            # e6-revenue at the 10x fixture is ~1.5e17, so the old
            # bigint promo_rev_e6 * 10000 overflowed int64 (found as a
            # live ARITHMETIC_OVERFLOW at sf10, r13). DIV on a decimal
            # operand still returns BIGINT and floor-matches DuckDB's
            # HUGEINT // (verified both = 2506 on 1.5e17/6.1e17).
            F.expr(
                "CAST((CAST(promo_rev_e6 AS DECIMAL(38,0)) * 10000)"
                " DIV total_rev_e6 AS BIGINT)"
            ).alias("promo_share_e4"),
        )
    )


QUERIES["tpch_q14_promo_share"] = tpch_q14_promo_share
ORACLES["tpch_q14_promo_share"] = f"""
    WITH j AS (
        SELECT strftime(l_shipdate, '%Y-%m') AS month,
               CAST({_REV_E6_SQL} AS BIGINT) AS rev,
               p_type = 'PROMO' AS is_promo
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ), g AS (
        SELECT month,
               CAST(sum(CASE WHEN is_promo THEN rev ELSE 0 END) AS BIGINT)
                   AS promo_rev_e6,
               CAST(sum(rev) AS BIGINT) AS total_rev_e6
        FROM j GROUP BY month
    )
    SELECT month, promo_rev_e6, total_rev_e6,
           CAST((CAST(promo_rev_e6 AS HUGEINT) * 10000) // total_rev_e6 AS BIGINT)
               AS promo_share_e4
    FROM g
"""


def tpch_q18_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    line quantity clears a threshold (the grouped-HAVING semi-join
    back to the fact), then customer enrichment. The HAVING aggregate
    runs BEFORE any join — the pre-aggregation that keeps the join
    input order-grain, not line-grain.

    Layout path (r13): the v3 bucketed order-line layout carries
    l_quantity, so the full-fact HAVING aggregate runs as an
    in-partition complete aggregate with NO exchange (the same
    l_orderkey bucket-clustering argument as q3), and the orders join
    disappears entirely — o_custkey and o_orderdate are functionally
    dependent on the order key, so they ride the aggregate as min().
    Only the customer-name dimension probe remains."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        _orderline_flat_layout(spark, sf_dir)
        .groupBy("l_orderkey")
        .agg(
            F.expr("CAST(round(sum(l_quantity)) AS BIGINT)").alias("total_qty"),
            F.min("o_custkey").alias("o_custkey"),
            F.min("o_orderdate").alias("o_orderdate"),
        )
        .where(F.col("total_qty") > 210)
    )
    # no broadcast hint: the threshold passes ~5% of orders, so
    # AQE broadcasts the post-HAVING side at runtime — the side
    # that stays bounded at 100 TB (customer grows with the fact)
    return big.join(c, big.o_custkey == c.c_custkey).select(
        "c_custkey", "c_name", "l_orderkey", "o_orderdate", "total_qty"
    )


QUERIES["tpch_q18_volume_customers"] = tpch_q18_volume_customers
ORACLES["tpch_q18_volume_customers"] = """
    WITH big AS (
        SELECT l_orderkey, CAST(round(sum(l_quantity)) AS BIGINT) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING CAST(round(sum(l_quantity)) AS BIGINT) > 210
    )
    SELECT c_custkey, c_name, l_orderkey, o_orderdate, total_qty
    FROM big
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
"""


def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join against the SCD2 dimension: for every
    order, the customer's priority STATE 45 days later — probe date
    between [valid_from, valid_to) with NULL valid_to as the open
    current interval. The SCD2 intervals tile [first_change, ∞) per
    key, so each probe matches EXACTLY one row (asserted by test):
    the temporal-correctness join every warehouse with versioned
    dimensions runs. Plan: equi-join on the dimension key with the
    range condition as a post-join filter — hash/sort-merge
    partitioned by key, never a broadcast-nested-loop over
    inequality-only conditions."""
    from .behavioral import scd2_order_priority

    dim = scd2_order_priority(spark, sf_dir).select(
        F.col("o_custkey").alias("d_custkey"),
        "prio",
        F.to_date("valid_from").alias("vf"),
        F.to_date("valid_to").alias("vt"),
    )
    probe = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.date_add(F.to_date("o_orderdate"), 45).alias("asof_date"),
    )
    return (
        probe.join(
            dim,
            (F.col("o_custkey") == F.col("d_custkey"))
            & (F.col("vf") <= F.col("asof_date"))
            & (F.col("vt").isNull() | (F.col("asof_date") < F.col("vt"))),
        )
        .select(
            "o_orderkey",
            "o_custkey",
            "asof_date",
            F.col("prio").alias("prio_at"),
            F.col("vf").alias("valid_from"),
        )
    )


QUERIES["join_point_in_time"] = join_point_in_time
ORACLES["join_point_in_time"] = """
    WITH seq AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
               lag(o_orderpriority) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS prev
        FROM orders
    ),
    chg AS (
        SELECT * FROM seq WHERE prev IS NULL OR prev <> o_orderpriority
    ),
    dim AS (
        SELECT o_custkey AS d_custkey,
               o_orderpriority AS prio,
               CAST(o_orderdate AS DATE) AS vf,
               CAST(lead(o_orderdate) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS DATE) AS vt
        FROM chg
    ),
    probe AS (
        SELECT o_orderkey, o_custkey,
               CAST(o_orderdate + INTERVAL 45 DAY AS DATE) AS asof_date
        FROM orders
    )
    SELECT o_orderkey, o_custkey, asof_date,
           prio AS prio_at, vf AS valid_from
    FROM probe
    JOIN dim ON o_custkey = d_custkey
            AND vf <= asof_date
            AND (vt IS NULL OR asof_date < vt)
"""
