"""M2 relational inventory (SURVEY.md §2.2-§2.7): projections/filters,
sorts/top-k, aggregations (incl. distinct, rollup/cube/pivot), the join
family, window functions, and set operations — all built-in DataFrame
ops so Catalyst supplies pushdown, pruning, join selection, and AQE.

Scale notes, encoded in the plans rather than comments where possible:
- small dimensions (nation, region, band tables) are broadcast — no
  shuffle of the fact side for those joins;
- fact-fact joins (customer x orders) shuffle on their keys, which is
  the correct 100 TB plan (hash-partitioned equi-join + AQE skew split);
- top-k uses orderBy().limit(), which Spark plans as
  TakeOrderedAndProject — per-partition heaps + a driver merge of k
  rows, never a global sort;
- double-typed aggregates are rounded in both engine and oracle so the
  driver's value hash compares fixed reprs, not accumulation order.
  Hash-bearing outputs stay plain rounded doubles, integers, or
  strings — never DECIMAL(18,n): the driver's hash normalizes doubles
  identically across its Spark and DuckDB fetch paths but not Decimal
  objects (round-3 evidence: every decimal-cast query hash-failed,
  every decimal-free one passed). See queries/__init__.py for the
  authoring convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..sources.tables import load_table, parquet_rows


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- §2.2 projections / filters / predicates -------------------------------


def filter_project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pushed-down predicates + pruned projection + cast + computed col.
    The filter and the 4-column read schema both reach the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_quantity") > 45) & (F.col("l_shipdate") >= F.lit("1998-01-01")))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("int").alias("qty_int"),
            # round to 4: the price*(1-disc) product is exact on the
            # 4-decimal grid, so neither engine faces a .5 tie (at 2
            # decimals the ties resolve differently: Spark rounds the
            # shortest decimal repr, DuckDB the raw binary double)
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
        )
    )


def predicates_case_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate family (IN / LIKE / BETWEEN / null-test) gating a
    CASE WHEN / coalesce / nullif scalar-conditioning projection, all
    in one pushed-down scan of part."""
    p = _t(spark, sf_dir, "part")
    return (
        p.where(
            F.col("p_type").isin("PROMO", "ECONOMY")
            & F.col("p_name").like("%gear%")
            & F.col("p_size").between(10, 40)
            & F.col("p_retailprice").isNotNull()
        )
        .select(
            "p_partkey",
            "p_brand",
            "p_type",
            "p_size",
            F.when(F.col("p_retailprice") < 1000, "budget")
            .when(F.col("p_retailprice") < 1500, "standard")
            .otherwise("premium")
            .alias("tier"),
            F.coalesce(F.nullif(F.col("p_brand"), F.lit("Brand#11")), F.lit("OTHER")).alias(
                "brand_ex"
            ),
        )
    )


# --- §2.4 sorts / limits / top-k -------------------------------------------


def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... LIMIT n -> TakeOrderedAndProject (per-partition
    heaps, k-row driver merge; no global sort at any scale)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total"))
    )


def sort_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with a deterministic total order + limit."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.orderBy("l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber")
        .limit(100)
        .select("l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber")
    )


# --- §2.3 aggregations ------------------------------------------------------


def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped grouped aggregate (sum/avg/min/max/count) —
    partial (map-side) aggregation collapses the shuffle to |groups|
    rows. Averages stay plain round(x, 4) doubles — the form proven
    driver-hash-green in round 2 (DECIMAL casts fail the gate)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-12-31"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# Above this many input rows, agg_median switches from exact
# percentile (an ImperativeAggregate that buffers every group's values
# — the one per-group-memory scale hazard in this inventory, see
# SCALING.md) to percentile_approx, a bounded-memory mergeable
# KLL-style sketch. The count(*) probe that makes the decision is
# pushed to parquet footer metadata (no data scan) and memoized per
# fixture stamp so repeated invocations (bench warm-ups) don't re-pay it.
MEDIAN_EXACT_MAX_ROWS = 100_000_000


# Range-bucket count for the exact-quantile locate phase: the bucket
# frame is at most groups x measures x this many rows, and each pick
# window sees ~1/B of a measure's distinct values.
QUANTILE_LOCATE_BUCKETS = 1024


def _exact_group_quantiles(
    df: DataFrame,
    key: str,
    specs: list[tuple[str, float, str]],
) -> DataFrame:
    """Exact interpolated quantiles per group WITHOUT buffering group
    values: one row per ``key`` with a column per (col, p, outname)
    spec: pos = p * (n - 1), result = v[lo] + (v[lo+1] - v[lo]) *
    frac, the sorted-array interpolation. F.percentile agrees to the
    last bit or two; it evaluates (hi_pos - pos) * v[lo] + (pos -
    lo_pos) * v[hi].

    Plan, r9 (two-phase distributed selection): groupBy (key, measure,
    value) counts — map-side combinable, so the shuffle carries
    DISTINCT values, not rows — then instead of one cumulative-sum
    window over EVERY distinct value (583k rows through a per-group
    serial sort at the derived sf1 — the r8 shape's cost), the
    bracketing ranks are LOCATED first: values fold into
    QUANTILE_LOCATE_BUCKETS range buckets (any monotone bucket map is
    correct — it only partitions the rank space), a cumulative window
    over the tiny bucket-count frame finds which bucket covers each
    target rank, and only the counts rows of those few buckets (~1/B
    of the distinct values each) re-window to pick the exact value at
    the in-bucket rank. The counts frame is persisted (lazy — the
    multi-consumer share pattern of tfidf/triangles): the locate and
    pick phases both read it, nothing recomputes the scan. Memory and
    shuffle stay bounded by distinct values per group, the windows by
    distinct values PER BUCKET — the shape that survives a 100 TB
    high-cardinality measure. NULL measures are dropped, matching
    Percentile; bit-identical to a sorted-array reference (pytest-
    pinned, test_exact_quantile_tiers_bit_identical).

    The persisted counts relation is not unpersisted here (the
    returned frame is lazy); the harnesses release it between queries
    (``session.release_cached``). Both small-frame joins broadcast
    |groups| x |specs|-row frames, which suits the declared queries'
    low-cardinality group keys.
    """
    from pyspark import StorageLevel

    cols = sorted({c for c, _, _ in specs})
    midx = {c: i for i, c in enumerate(cols)}
    stack = ", ".join(f"{i}, CAST({c} AS DOUBLE)" for c, i in midx.items())
    melted = df.select(
        key, F.expr(f"stack({len(cols)}, {stack}) AS (_mi, _v)")
    ).where(F.col("_v").isNotNull())
    cnts = (
        melted.groupBy(key, "_mi", "_v")
        .agg(F.count(F.lit(1)).alias("_c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # phase 0: per-(group, measure) totals and value range (tiny;
    # broadcast back onto the counts frame)
    rng = cnts.groupBy(key, "_mi").agg(
        F.sum("_c").alias("_n"),
        F.min("_v").alias("_mn"),
        F.max("_v").alias("_mx"),
    )
    b_hi = QUANTILE_LOCATE_BUCKETS - 1
    bexpr = (
        f"LEAST(CAST({b_hi} AS BIGINT), CAST(floor((_v - _mn) /"
        f" (CASE WHEN _mx > _mn THEN _mx - _mn ELSE 1.0 END)"
        f" * {QUANTILE_LOCATE_BUCKETS}) AS BIGINT))"
    )
    wb = cnts.join(F.broadcast(rng), [key, "_mi"]).withColumn(
        "_b", F.expr(bexpr)
    )
    # phase 1 (locate): cumulative counts over the BUCKET frame — at
    # most groups x measures x B rows — find, for every spec's two
    # bracketing ranks (0-based lo and lo + 1 at pos = p * (n - 1)),
    # the bucket covering that rank and the rank's offset within it
    bcnt = wb.groupBy(key, "_mi", "_n", "_b").agg(F.sum("_c").alias("_bc"))
    w_b = Window.partitionBy(key, "_mi").orderBy("_b")
    bmark = bcnt.withColumn("_bcum", F.sum("_bc").over(w_b))
    spec_structs = [
        F.struct(
            F.lit(si).alias("_si"),
            F.lit(midx[c]).alias("_smi"),
            F.lit(float(p)).alias("_p"),
            F.lit(w).alias("_w"),
        )
        for si, (c, p, _) in enumerate(specs)
        for w in (0, 1)
    ]
    rank = "(CAST(floor(_p * (_n - 1)) AS BIGINT) + _w)"
    needs = (
        bmark.select("*", F.explode(F.array(*spec_structs)).alias("_s"))
        .select(
            key,
            "_mi",
            "_b",
            "_n",
            F.col("_s._si").alias("_si"),
            F.col("_s._smi").alias("_smi"),
            F.col("_s._p").alias("_p"),
            F.col("_s._w").alias("_w"),
            "_bc",
            "_bcum",
        )
        .where(
            F.expr(
                f"_smi = _mi AND _bcum - _bc <= {rank} AND _bcum > {rank}"
            )
        )
        .select(
            key,
            "_mi",
            "_b",
            "_si",
            "_w",
            "_n",
            F.expr(f"{rank} - (_bcum - _bc)").alias("_lr"),
        )
    )
    # phase 2 (pick): only the located buckets' counts rows (~1/B of
    # the distinct values each) re-window; exactly one row covers each
    # in-bucket rank
    sub = wb.select(key, "_mi", "_b", "_v", "_c").join(
        F.broadcast(needs), [key, "_mi", "_b"]
    )
    w_in = Window.partitionBy(key, "_mi", "_si", "_w").orderBy("_v")
    picked = (
        sub.withColumn("_vcum", F.sum("_c").over(w_in))
        .where(
            (F.col("_vcum") - F.col("_c") <= F.col("_lr"))
            & (F.col("_vcum") > F.col("_lr"))
        )
        .select(key, "_si", "_w", "_v", "_n")
    )
    aggs = []
    for si, (col, p, out) in enumerate(specs):
        aggs.append(
            F.max(
                F.when((F.col("_si") == si) & (F.col("_w") == 0), F.col("_v"))
            ).alias(f"_lo_{out}")
        )
        aggs.append(
            F.max(
                F.when((F.col("_si") == si) & (F.col("_w") == 1), F.col("_v"))
            ).alias(f"_hi_{out}")
        )
        aggs.append(
            F.max(
                F.when(F.col("_si") == si, F.expr(f"{p} * (_n - 1)"))
            ).alias(f"_pos_{out}")
        )
    g = picked.groupBy(key).agg(*aggs)
    return g.select(
        key,
        *[
            F.expr(
                f"_lo_{out} + (CASE WHEN _pos_{out} > floor(_pos_{out})"
                f" THEN (_hi_{out} - _lo_{out}) *"
                f" (_pos_{out} - floor(_pos_{out})) ELSE 0.0 END)"
            ).alias(out)
            for _, _, out in specs
        ],
    )


def agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + interpolated quartile per group through the
    distributed value-counts form; above MEDIAN_EXACT_MAX_ROWS (a
    zero-job footer row probe) the plan swaps to percentile_approx
    (mergeable sketch, bounded memory per group — the correct 100 TB
    shape for a skewed/huge group). Outputs are plain round(x, 4)
    doubles (driver-hash-safe)."""
    li = _t(spark, sf_dir, "lineitem")
    nrows = parquet_rows(f"{sf_dir}/lineitem.parquet")
    if nrows > MEDIAN_EXACT_MAX_ROWS:
        # percentile_approx with accuracy 10000: ~0.01% rank error,
        # fixed-size sketch merged map-side, no value buffering.
        agg_cols = [
            F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10000)).alias("_m"),
            F.percentile_approx(
                "l_extendedprice", F.array(F.lit(0.25), F.lit(0.75)), F.lit(10000)
            ).alias("_p"),
        ]
        return (
            li.groupBy("l_linestatus")
            .agg(*agg_cols)
            .select(
                "l_linestatus",
                F.round("_m", 4).alias("med_qty"),
                F.round(F.col("_p")[0], 4).alias("p25_price"),
                F.round(F.col("_p")[1], 4).alias("p75_price"),
            )
        )
    q = _exact_group_quantiles(
        li,
        "l_linestatus",
        [
            ("l_quantity", 0.5, "_m"),
            ("l_extendedprice", 0.25, "_p25"),
            ("l_extendedprice", 0.75, "_p75"),
        ],
    )
    return q.select(
        "l_linestatus",
        F.round("_m", 4).alias("med_qty"),
        F.round(F.col("_p25"), 4).alias("p25_price"),
        F.round(F.col("_p75"), 4).alias("p75_price"),
    )


def _tol_flag(approx, exact, rel: float, abs_: float):
    """1 iff |approx - exact| <= max(abs_, rel * |exact|) — the
    integer certificate column of a bounded-error oracle (booleans and
    raw sketch outputs are not driver-hash-safe; 0/1 ints are)."""
    return (
        F.abs(approx - exact) <= F.greatest(F.lit(abs_), F.abs(exact) * F.lit(rel))
    ).cast("int")


def agg_median_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-scale median plan on the VALUE gate via a bounded-error
    certificate: the mergeable-sketch quantiles (percentile_approx,
    accuracy 1e3 — fixed-size state, map-side merged, the
    bounded-memory 100 TB plan) are joined to the exact ones, then
    the query emits the exact values plus 0/1 flags asserting the
    sketch landed within tolerance (quantity: ±1 absolute — the
    sketch returns a data value while the exact median interpolates,
    so adjacent-integer gaps are legal; prices: ±2% relative). DuckDB
    replays the exact side and asserts every flag 1, so the driver
    hash covers the approximation contract itself — not just row
    shape. Tighter exact-vs-approx error is separately pytest-bounded
    (tests/test_relational.py)."""
    li = _t(spark, sf_dir, "lineitem")
    # accuracy 1000 (rank error 1e-3): the KLL-style summary's merge
    # cost scales with the compression threshold — measured 0.79s
    # (acc 2000) -> ~0.55s (acc 1000) on the sketch agg at the derived
    # sf1 — and 1000 still leaves wide headroom on both certificate
    # arms: quantity bins hold ~2% of mass each so a 0.1% rank error
    # moves the sketch at most one adjacent value (the ±1 contract),
    # and measured price error is <= 0.32% vs the 2% tolerance at
    # sf0.01 / sf0.1 / the derived sf1 (6x margin; acc 500 measured up
    # to 0.66% — rejected to keep >= 3x).
    sketch_aggs = [
        F.percentile_approx("l_quantity", F.lit(0.5), F.lit(1000)).alias("_ma"),
        F.percentile_approx(
            "l_extendedprice", F.array(F.lit(0.25), F.lit(0.75)), F.lit(1000)
        ).alias("_pa"),
    ]
    # exact side via the distributed value-counts quantiles (nothing
    # buffers a group's rows — the only shape that survives a
    # skewed/huge group at 100 TB); the sketch side is its own
    # aggregation, the two joined on the group-cardinality key (AQE
    # broadcasts)
    exact = _exact_group_quantiles(
        li,
        "l_linestatus",
        [
            ("l_quantity", 0.5, "_m"),
            ("l_extendedprice", 0.25, "_p25"),
            ("l_extendedprice", 0.75, "_p75"),
        ],
    )
    g = exact.join(li.groupBy("l_linestatus").agg(*sketch_aggs), "l_linestatus")
    return g.select(
        "l_linestatus",
        F.round("_m", 4).alias("med_qty"),
        F.round(F.col("_p25"), 4).alias("p25_price"),
        F.round(F.col("_p75"), 4).alias("p75_price"),
        _tol_flag(F.col("_ma"), F.col("_m"), rel=0.0, abs_=1.0).alias("med_ok"),
        _tol_flag(F.col("_pa")[0], F.col("_p25"), rel=0.02, abs_=0.0).alias(
            "p25_ok"
        ),
        _tol_flag(F.col("_pa")[1], F.col("_p75"), rel=0.02, abs_=0.0).alias(
            "p75_ok"
        ),
    )


def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct counts per group via BITMAP-CHUNK
    aggregation: each (group, key) pair sets bit ``key & 63`` of the
    64-key chunk ``key >> 6`` — ``groupBy(group, which, chunk)
    .agg(bit_or(1L << bit))`` — then distinct = sum(bit_count(word)).
    All JVM whole-stage-codegen expressions, one fact scan, and the
    exchange carries one int64 WORD per populated 64-key chunk:
    group-key count is ``<= ceil(distinct/64) * groups`` on dense key
    domains (94k rows here vs 6M distinct pairs), and NEVER exceeds
    the distinct-pair count on sparse domains (a chunk holds >= 1
    key), so the plan degrades to pair-distinct, not below it. NULL
    keys land in the NULL chunk whose bit_or is NULL and drop out of
    the sum — countDistinct's NULL semantics.

    The naive ``agg(countDistinct(a), countDistinct(b))`` goes through
    Catalyst's Expand rewrite (every fact row duplicated per distinct
    branch before the exchange) and measured 2.74s / 3.9x-vs-DuckDB at
    the 10x fixture; per-branch dedup-then-join shuffles the full
    distinct-pair set twice with two scans (3.3s). This form: 1.18s,
    values bit-identical. The two distinct columns ride ONE scan via a
    2-struct explode — the explode doubles rows INSIDE the stage, but
    the partial hash agg collapses them to chunk words before anything
    crosses the wire (the Expand form's flaw is exchange volume, not
    row iteration)."""
    li = _t(spark, sf_dir, "lineitem")
    words = (
        li.select(
            "l_returnflag",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).alias("which"),
                        F.col("l_suppkey").cast("bigint").alias("k"),
                    ),
                    F.struct(
                        F.lit(1).alias("which"),
                        F.col("l_partkey").cast("bigint").alias("k"),
                    ),
                )
            ).alias("s"),
        )
        .select("l_returnflag", "s.which", "s.k")
        .groupBy("l_returnflag", "which", F.expr("k >> 6").alias("_chunk"))
        .agg(
            F.expr("bit_or(shiftleft(1L, CAST(k & 63 AS INT)))").alias("_w")
        )
    )
    counts = words.groupBy("l_returnflag", "which").agg(
        F.expr("sum(bit_count(_w))").cast("bigint").alias("n")
    )
    return counts.groupBy("l_returnflag").agg(
        F.max(F.when(F.col("which") == 0, F.col("n"))).alias("distinct_supp"),
        F.max(F.when(F.col("which") == 1, F.col("n"))).alias("distinct_part"),
    )


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ on the VALUE gate via a bounded-error
    certificate: one aggregation computes the sketch estimate
    (register-merge state, the at-scale replacement for exact
    distinct's expand shuffle) alongside the exact count, and emits
    the exact count plus a 0/1 flag asserting |approx - exact| within
    3% (3x the configured rsd=0.01). DuckDB replays the exact count
    and asserts the flag 1 — the hash covers the estimate's error
    bound, not just row shape. The tighter pytest bound stays in
    tests/test_relational.py."""
    li = _t(spark, sf_dir, "lineitem")
    # ONE distinct shuffle serves both sides: HLL registers are
    # duplicate-insensitive (re-inserting an element re-sets the same
    # register to the same value), so approx_count_distinct over the
    # pre-deduped (flag, partkey) frame is BIT-identical to running it
    # over the raw rows — and the exact count is a plain count(*) over
    # the same frame. The raw-row forms were strictly worse: a single
    # combined agg (countDistinct + approx) forces Catalyst's Expand
    # rewrite, which multiplies every input row per aggregate branch
    # and feeds the rsd=0.01 HLL per expanded row (measured 8.1s at
    # sf0.1); two separate raw-row aggregations joined on the group key
    # scan and shuffle the fact table twice (1.42s at the derived sf1
    # vs 0.8s for this shape).
    deduped = li.groupBy("l_returnflag", "l_partkey").agg(F.lit(1))
    return (
        deduped.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("exact_part"),
            # rsd 0.02 is the CONTRACT (r9): the HLL++ register file
            # scales ~1/rsd^2, and rsd 0.01's registers dominated the
            # whole query (sketch arm 0.74s vs 0.03s at rsd 0.02 on the
            # derived sf1 — 1.43 -> ~0.7s total). 2% relative error is
            # the conventional cardinality-sketch operating point
            # (Spark's own default is 5%); the certificate below
            # asserts 3x rsd = 6%, and measured error across
            # sf0.01/sf0.1/sf1 is <= 1.45% (4x margin, vs rsd 0.03
            # which measured 4.4% at sf0.1 — rejected for thin margin).
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("_approx"),
        )
        .select(
            "l_returnflag",
            "exact_part",
            _tol_flag(
                F.col("_approx"), F.col("exact_part"), rel=0.06, abs_=0.0
            ).alias("approx_ok"),
        )
    )


def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted two-phase aggregation (operators/skew.py) declared
    against the gate: lineitem grouped by l_returnflag — 3 hot groups,
    exactly the key-concentration shape salting exists for. Partials
    aggregate per (key, salt), then merge per key; results are
    identical to the plain groupBy (algebraic aggregates), which IS
    the oracle."""
    from ..operators.skew import salted_group_sum

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    out = salted_group_sum(
        li,
        ["l_returnflag"],
        {"l_quantity": "sum", "l_extendedprice": "max"},
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.round("sum_l_quantity", 2).alias("sum_qty"),
        F.round("max_l_extendedprice", 2).alias("max_price"),
    )


def agg_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over two keys — all 4 grouping combinations,
    a strict superset of ROLLUP's 3 (the rollup subtotals and grand
    total are the cube rows where the trailing key is NULL), so one
    query exercises both grouping-set expansions."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (never value-discovery at
    scale: that is an extra job over all data)."""
    o = _t(spark, sf_dir, "orders")
    piv = o.groupBy("o_orderpriority").pivot("o_orderstatus", ["F", "O", "P"]).count()
    return piv.select(
        "o_orderpriority",
        *[F.coalesce(F.col(s), F.lit(0)).alias(s) for s in ["F", "O", "P"]],
    )


# --- §2.5 join family -------------------------------------------------------


def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse-layout lever on the gate: customer and orders are
    bucketed by custkey ONCE (idempotent per session — the write-time
    shuffle that amortizes across every later join at 100 TB), then
    joined with NO exchange on either side (bucket specs match;
    bucket-sorted data merge-joins without a sort). Result aggregates
    per market segment; oracle is the plain SQL join — the layout must
    not change a single row."""
    import re as _re

    from ..sources.warehouse import bucketed_join, write_bucketed

    tag = _re.sub(r"\W", "_", sf_dir.strip("/"))
    cust_t, ord_t = f"bkt_customer_{tag}", f"bkt_orders_{tag}"
    if not spark.catalog.tableExists(cust_t) or not spark.catalog.tableExists(ord_t):
        write_bucketed(
            _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
            cust_t,
            "c_custkey",
        )
        write_bucketed(
            _t(spark, sf_dir, "orders").select(
                F.col("o_custkey").alias("c_custkey"), "o_totalprice"
            ),
            ord_t,
            "c_custkey",
        )
    j = bucketed_join(spark, cust_t, ord_t, "c_custkey")
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


def join_inner_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join (shuffle hash-partitioned on the key) + agg."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join over two partial views of orders (statuses
    split), preserving unmatched rows from both sides — the join shape
    the reference's verifier itself is (scripts/verifier.py:22-36
    union-of-keysets diff)."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") != "F").select(
        "o_orderkey", F.col("o_totalprice").alias("price_a")
    )
    b = o.where(F.col("o_totalprice") > 150000).select(
        "o_orderkey", F.col("o_orderpriority").alias("prio_b")
    )
    return a.join(b, "o_orderkey", "full_outer").select(
        "o_orderkey",
        F.round("price_a", 2).alias("price_a"),
        "prio_b",
    )


def join_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate: orders above the global average
    price (Catalyst plans the subquery once, broadcasts the scalar)."""
    spark_sf = sf_dir  # table registration below
    o = _t(spark, spark_sf, "orders")
    o.createOrReplaceTempView("_orders_ssq")
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS price
        FROM _orders_ssq
        WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.8 FROM _orders_ssq)
        """
    )


def join_left_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping order-less customers (count = 0).

    The aggregation is pushed BELOW the join (Catalyst does not do
    this rewrite): grouping orders by custkey first means the join
    carries one row per customer-with-orders instead of one per order,
    and the shuffled bytes are group partials, not the fact table.
    Identical results — custkey is unique in customer, so post-join
    grouping never merged rows across customers anyway."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("o_totalprice").alias("_s")
    )
    return c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left").select(
        "c_custkey",
        F.coalesce(F.col("_n"), F.lit(0)).alias("n_orders"),
        F.round(F.coalesce(F.col("_s"), F.lit(0.0)), 2).alias("spend"),
    )


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers with at least one 450k+ order. The probe
    side never duplicates rows and only the key column crosses."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: customers none of whose orders exceed 400k (every
    synthetic customer has orders, so anti-join against the unfiltered
    table would be vacuously empty)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def join_multi_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact x 3 dims with explicit broadcast() on every dim —
    zero shuffles of lineitem before the final aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


def join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (range) join: price-band dimension joined on an interval
    predicate — broadcast nested loop over a 4-row build side, so the
    non-equi condition never triggers a cartesian shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(
        [
            ("under_10k", 0.0, 10_000.0),
            ("mid", 10_000.0, 50_000.0),
            ("high", 50_000.0, 90_000.0),
            ("top", 90_000.0, 1e9),
        ],
        "band string, lo double, hi double",
    )
    return (
        li.join(
            F.broadcast(bands),
            (li.l_extendedprice >= bands.lo) & (li.l_extendedprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        )
    )


def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event matched to the same user's latest
    purchase at-or-before it (operators/asof.py — one shuffle, no
    inequality-join row explosion)."""
    e = _t(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = e.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = asof_join(
        clicks, purchases, on=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=["ts", "value"],
    )
    return joined.select(
        "event_id",
        F.col("ts_asof").alias("purchase_ts"),
        F.round("value_asof", 2).alias("purchase_value"),
    )


# --- §2.6 window functions --------------------------------------------------


def window_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number over (partition, order) -> latest order per customer.
    Deterministic tiebreak on o_orderkey."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


def window_frames_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic (lag) + running-frame aggregate (rows unbounded
    preceding..current) over the same partitioning — Spark evaluates
    both in ONE Window physical operator (one shuffle + sort on
    o_custkey), which is exactly why they belong in one query."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias("delta"),
        F.round(F.sum("o_totalprice").over(running), 2).alias("running_spend"),
    )


def window_rank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank top-3 parts by price within each brand."""
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        p.withColumn("rk", F.dense_rank().over(w))
        .where(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "rk")
    )


# --- §2.7 set operations ----------------------------------------------------


def setop_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three set operations in one query, results tagged by
    operator: UNION (distinct) / INTERSECT / EXCEPT over customer-key
    sets. Each leg plans its own distinct aggregation; the final
    unionByName is a free concatenation (no extra shuffle)."""
    o = _t(spark, sf_dir, "orders")

    def keys(cond) -> DataFrame:
        return o.where(cond).select(F.col("o_custkey").alias("custkey"))

    union = (
        keys(F.col("o_orderstatus") == "P")
        .union(keys(F.col("o_totalprice") > 450000))
        .distinct()
        .select(F.lit("union").alias("op"), "custkey")
    )
    intersect = (
        keys(F.col("o_orderpriority") == "1-URGENT")
        .intersect(keys(F.col("o_orderpriority") == "5-LOW"))
        .select(F.lit("intersect").alias("op"), "custkey")
    )
    except_ = (
        keys(F.col("o_totalprice") > 400000)
        .subtract(keys(F.col("o_totalprice") > 450000))
        .select(F.lit("except").alias("op"), "custkey")
    )
    return union.unionByName(intersect).unionByName(except_)


QUERIES = {
    "filter_project_cast": filter_project_cast,
    "predicates_case_pack": predicates_case_pack,
    "topk_orders": topk_orders,
    "sort_multikey": sort_multikey,
    "agg_pricing_summary": agg_pricing_summary,
    "agg_median": agg_median,
    "agg_median_approx": agg_median_approx,
    "agg_count_distinct": agg_count_distinct,
    "agg_approx_distinct": agg_approx_distinct,
    "agg_rollup_cube": agg_rollup_cube,
    "skew_salted_agg": skew_salted_agg,
    "agg_pivot": agg_pivot,
    "join_inner_agg": join_inner_agg,
    "join_left_count": join_left_count,
    "join_full_outer": join_full_outer,
    "join_scalar_subquery": join_scalar_subquery,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "join_multi_broadcast": join_multi_broadcast,
    "join_bucketed_colocated": join_bucketed_colocated,
    "join_range_band": join_range_band,
    "asof_last_purchase": asof_last_purchase,
    "window_latest_order": window_latest_order,
    "window_frames_pack": window_frames_pack,
    "window_rank_parts": window_rank_parts,
    "setop_pack": setop_pack,
}

ORACLES = {
    "filter_project_cast": """
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS INT) AS qty_int,
               round(l_extendedprice * (1 - l_discount), 4) AS revenue
        FROM lineitem
        WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '1998-01-01'
    """,
    "predicates_case_pack": """
        SELECT p_partkey, p_brand, p_type, p_size,
               CASE WHEN p_retailprice < 1000 THEN 'budget'
                    WHEN p_retailprice < 1500 THEN 'standard'
                    ELSE 'premium' END AS tier,
               coalesce(nullif(p_brand, 'Brand#11'), 'OTHER') AS brand_ex
        FROM part
        WHERE p_type IN ('PROMO', 'ECONOMY')
          AND p_name LIKE '%gear%'
          AND p_size BETWEEN 10 AND 40
          AND p_retailprice IS NOT NULL
    """,
    "topk_orders": """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10
    """,
    "sort_multikey": """
        SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber
        FROM lineitem
        ORDER BY l_returnflag, l_linestatus, l_orderkey, l_linenumber
        LIMIT 100
    """,
    "agg_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_discount), 4) AS avg_disc,
               round(min(l_extendedprice), 2) AS min_price,
               round(max(l_extendedprice), 2) AS max_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-31'
        GROUP BY l_returnflag, l_linestatus
    """,
    "agg_median": """
        SELECT l_linestatus,
               round(median(l_quantity), 4) AS med_qty,
               round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
               round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price
        FROM lineitem GROUP BY l_linestatus
    """,
    "agg_median_approx": """
        SELECT l_linestatus,
               round(median(l_quantity), 4) AS med_qty,
               round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
               round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price,
               CAST(1 AS INT) AS med_ok,
               CAST(1 AS INT) AS p25_ok,
               CAST(1 AS INT) AS p75_ok
        FROM lineitem GROUP BY l_linestatus
    """,
    "agg_count_distinct": """
        SELECT l_returnflag,
               count(DISTINCT l_suppkey) AS distinct_supp,
               count(DISTINCT l_partkey) AS distinct_part
        FROM lineitem GROUP BY l_returnflag
    """,
    "agg_approx_distinct": """
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS exact_part,
               CAST(1 AS INT) AS approx_ok
        FROM lineitem GROUP BY l_returnflag
    """,
    "skew_salted_agg": """
        SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
               round(max(l_extendedprice), 2) AS max_price
        FROM lineitem GROUP BY l_returnflag
    """,
    "agg_rollup_cube": """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    "agg_pivot": """
        SELECT o_orderpriority,
               count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
               count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
               count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
        FROM orders GROUP BY o_orderpriority
    """,
    "join_inner_agg": """
        SELECT c_mktsegment, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "join_full_outer": """
        SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
               round(a.o_totalprice, 2) AS price_a,
               b.o_orderpriority AS prio_b
        FROM (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus <> 'F') a
        FULL OUTER JOIN
             (SELECT o_orderkey, o_orderpriority FROM orders WHERE o_totalprice > 150000) b
        ON a.o_orderkey = b.o_orderkey
    """,
    "join_scalar_subquery": """
        SELECT o_orderkey, round(o_totalprice, 2) AS price
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.8 FROM orders)
    """,
    "join_left_count": """
        SELECT c_custkey, count(o_orderkey) AS n_orders,
               round(coalesce(sum(o_totalprice), 0), 2) AS spend
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    """,
    "join_semi": """
        SELECT c_custkey, c_mktsegment
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 450000)
    """,
    "join_anti": """
        SELECT c_custkey, c_name
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
    "join_bucketed_colocated": """
        SELECT c_mktsegment, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS sum_price
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c_mktsegment
    """,
    "join_multi_broadcast": """
        SELECT r_name, count(*) AS n_items,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "join_range_band": """
        SELECT band, count(*) AS n,
               round(avg(l_extendedprice), 2) AS avg_price
        FROM lineitem
        JOIN (VALUES ('under_10k', 0.0, 10000.0),
                     ('mid', 10000.0, 50000.0),
                     ('high', 50000.0, 90000.0),
                     ('top', 90000.0, 1e9)) AS bands(band, lo, hi)
          ON l_extendedprice >= lo AND l_extendedprice < hi
        GROUP BY band
    """,
    "asof_last_purchase": """
        SELECT l.event_id, r.ts AS purchase_ts, round(r.value, 2) AS purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') l
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
          ON l.user_id = r.user_id AND r.ts <= l.ts
    """,
    "window_latest_order": """
        SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders
        ) WHERE rn = 1
    """,
    "window_frames_pack": """
        SELECT o_orderkey,
               round(o_totalprice - lag(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderkey), 2) AS delta,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
        FROM orders
    """,
    "window_rank_parts": """
        SELECT p_brand, p_partkey, rk
        FROM (
            SELECT p_brand, p_partkey,
                   dense_rank() OVER (PARTITION BY p_brand
                                      ORDER BY p_retailprice DESC, p_partkey) AS rk
            FROM part
        ) WHERE rk <= 3
    """,
    "setop_pack": """
        SELECT 'union' AS op, custkey FROM (
            SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'
            UNION
            SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 450000
        )
        UNION ALL
        SELECT 'intersect' AS op, custkey FROM (
            SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
            INTERSECT
            SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '5-LOW'
        )
        UNION ALL
        SELECT 'except' AS op, custkey FROM (
            SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
            EXCEPT
            SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 450000
        )
    """,
}


# ---------------------------------------------------------------------------
# Round-6 addition: MERGE / upsert semantics (CDC apply).
# ---------------------------------------------------------------------------


def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert (the engine-level semantics of SQL MERGE INTO /
    Delta-Lake merge): a change set (keys % 5 == 0: updated status 'U',
    +10% price; keys ending in 0 are absent from the base = inserts) is
    applied onto a base snapshot (keys % 10 != 0) — changed rows win,
    unmatched base rows survive. Implemented as change-set union +
    anti-join, the shape that scales: the anti-join shuffles on the
    key (broadcast when the change set is small — AQE decides from the
    runtime size), never a full-table rewrite. Prices emitted as exact
    integer cents (round-half-up agrees across engines for positive
    doubles)."""
    o = load_table(spark, sf_dir, "orders")
    base = o.where(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("price_e2"),
        "o_orderpriority",
        F.lit("kept").alias("src"),
    )
    changes = o.where(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(F.col("o_totalprice") * 110, 0).cast("bigint").alias("price_e2"),
        "o_orderpriority",
        F.lit("upsert").alias("src"),
    )
    kept = base.join(changes.select("o_orderkey"), "o_orderkey", "left_anti")
    return changes.unionByName(kept)


QUERIES["merge_upsert"] = merge_upsert

ORACLES["merge_upsert"] = """
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_e2,
               o_orderpriority, 'kept' AS src
        FROM orders WHERE o_orderkey % 10 != 0
    ), chg AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               CAST(round(o_totalprice * 110) AS BIGINT) AS price_e2,
               o_orderpriority, 'upsert' AS src
        FROM orders WHERE o_orderkey % 5 = 0
    )
    SELECT * FROM chg
    UNION ALL
    SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM chg)
"""


def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit — the validation stage every
    production pipeline runs before training data ships (null
    fraction, key uniqueness, referential integrity, domain/range
    checks), emitted as one row per check: (check, n_violations,
    ok). Each check is an independent aggregate over one scan of its
    table; the union is a plan of parallel branches, no cross-branch
    shuffle. Referential integrity is an anti-join on the key —
    broadcast when the dimension is small, the same scale shape as
    the join family."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")

    def one(name: str, viol):
        return viol.select(
            F.lit(name).alias("check"),
            F.col("n").cast("bigint").alias("n_violations"),
            (F.col("n") == 0).cast("int").alias("ok"),
        )

    checks = [
        one(
            "orders_key_not_null",
            orders.agg(
                F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("n")
            ),
        ),
        one(
            "orders_key_unique",
            orders.groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.count(F.when(F.col("c") > 1, 1)).alias("n")),
        ),
        one(
            "orders_custkey_refs_customer",
            orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")
            .agg(F.count(F.lit(1)).alias("n")),
        ),
        one(
            "lineitem_qty_range",
            li.agg(
                F.count(
                    F.when(
                        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
                    )
                ).alias("n")
            ),
        ),
        one(
            "orders_status_domain",
            orders.agg(
                F.count(
                    F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
                ).alias("n")
            ),
        ),
        one(
            "lineitem_orderkey_refs_orders",
            li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
            .agg(F.count(F.lit(1)).alias("n")),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


QUERIES["dq_audit"] = dq_audit

ORACLES["dq_audit"] = """
    SELECT 'orders_key_not_null' AS check,
           CAST(count(*) FILTER (o_orderkey IS NULL) AS BIGINT) AS n_violations,
           CAST(count(*) FILTER (o_orderkey IS NULL) = 0 AS INT) AS ok
    FROM orders
    UNION ALL
    SELECT 'orders_key_unique',
           CAST(count(*) FILTER (c > 1) AS BIGINT),
           CAST(count(*) FILTER (c > 1) = 0 AS INT)
    FROM (SELECT o_orderkey, count(*) AS c FROM orders GROUP BY 1)
    UNION ALL
    SELECT 'orders_custkey_refs_customer',
           CAST(count(*) AS BIGINT), CAST(count(*) = 0 AS INT)
    FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST(count(*) FILTER (l_quantity < 1 OR l_quantity > 50) AS BIGINT),
           CAST(count(*) FILTER (l_quantity < 1 OR l_quantity > 50) = 0 AS INT)
    FROM lineitem
    UNION ALL
    SELECT 'orders_status_domain',
           CAST(count(*) FILTER (o_orderstatus NOT IN ('O','F','P')) AS BIGINT),
           CAST(count(*) FILTER (o_orderstatus NOT IN ('O','F','P')) = 0 AS INT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_orderkey_refs_orders',
           CAST(count(*) AS BIGINT), CAST(count(*) = 0 AS INT)
    FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
"""


# Trade-graph PageRank parameters, shared by the distributed call,
# the driver-local replay, AND the oracle generator — one definition
# so the three paths cannot silently fork (r8 advice).
_TRADE_PR_ITERS = 3
_TRADE_PR_DAMPING_PCT = 85
# Edge ceiling for the trade graph's driver-local tier (footer-bounded,
# see graph_pagerank) — same bounded-budget class as
# dedup.CC_LOCAL_MAX_EDGES / similarity's collect ceiling: 2M edges is
# ~32 MB of longs via Arrow, the top of a sane broadcast build side.
PR_LOCAL_MAX_EDGES = 2_000_000
# Supplier node ids live at suppkey + SUPP_NODE_OFFSET so the two id
# domains stay disjoint: custkey must stay BELOW the offset (guarded),
# suppkey below 2^31 - offset so packed keys stay under 2^31. 2^30
# leaves ~1.07e9 headroom each way — sf10's 1.5M customers aliased
# the old 1e6 offset (ADVICE r10). Shared by the distributed build,
# the driver-local replay, and the oracle, like the constants above.
SUPP_NODE_OFFSET = 1 << 30
# Version stamp for the write-once trade-graph edge layout: folded
# into the layout cache key alongside SUPP_NODE_OFFSET so derivation
# changes invalidate materialized /tmp edges automatically (r11
# advice: a code change must never serve stale edges under a
# correct-looking source fingerprint).
_EDGE_LAYOUT_DERIVATION_V = 2


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (operators/graph.py) over the undirected bipartite
    customer–supplier trade graph (edge = customer's order contains
    the supplier's lineitem; supplier node ids offset by
    SUPP_NODE_OFFSET), 3 fixed-point iterations — bit-exact vs the
    unrolled-CTE DuckDB replay. High-degree suppliers accumulate rank:
    the importance signal a procurement analysis would threshold on.

    At-scale ingest amortization (r11): above the local tier the
    deduped symmetric edge relation is MATERIALIZED once per fixture
    fingerprint as a write-once parquet layout (the DPP/roundtrip
    precedent — sources/warehouse.py's thesis that derivation shuffles
    move to ingest), so repeat runs scan ~|E| rows instead of
    re-paying the |lineitem|-row join + packed dedup (~22s of the
    sf10 floor, r10 verdict). The first run on a fresh fixture pays
    the full build; artifacts disclose which runs are post-build."""
    from ..operators.graph import pagerank_fixedpoint

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # metadata upper bound: distinct (cust, supp) pairs <= lineitem
    # rows, so |E| <= 2 x the parquet footer count (zero Spark jobs).
    # Under the local ceiling the ENTIRE edge derivation goes driver-
    # side — two projected columnar scans are the only Spark work, and
    # the FK join, dedup, symmetrization, and fixpoint replay run in
    # numpy (measured 1.99 -> 0.39s edge build at sf0.1; bit-identical
    # edge set). Above the ceiling (e.g. the derived sf1) the
    # distributed join + shuffle-per-round loop runs. The distinct
    # pairs track the lineitem rows (586,871 of 600,000 at sf0.1), so
    # no count of the real edges could flip the footer's decision.
    from ..plans.budget import within_budget

    bound = 2 * parquet_rows(f"{sf_dir}/lineitem.parquet")
    if bound > 0 and within_budget(bound, PR_LOCAL_MAX_EDGES):
        local = _pagerank_trade_graph_local(spark, o, li)
        if local is not None:
            return local
    # shuffle_hash: the orders build side is |orders|/partitions per
    # task (no 60M-row lineitem sort); symmetrization via ONE explode,
    # not unionAll(cs, swap(cs)) — the union's two arms each re-execute
    # the whole join+distinct lineage (measured 2x the sf10 edge-build
    # cost; the classic multi-consumer re-execution class).
    # packed co-partitioned dedup + domain guards: _trade_pairs
    cs = _trade_pairs(spark, o, li)
    edges = cs.select(
        F.explode(
            F.array(
                F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
                F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    layout = _tradegraph_edge_layout(spark, sf_dir, edges)
    return pagerank_fixedpoint(
        layout,
        iters=_TRADE_PR_ITERS,
        damping_pct=_TRADE_PR_DAMPING_PCT,
        node_deg=_tradegraph_node_layout(spark, sf_dir, layout),
    )


def _trade_pairs(spark, o: DataFrame, li: DataFrame) -> DataFrame:
    """Distinct (customer, supplier-node) pairs off the order/lineitem
    FK join, PACKED into one long for the dedup exchange (r10): pair
    instances are near-unique-per-partition, so groupBy-distinct's
    map-side hash tables spill for little volume reduction — exchange
    the raw 8-byte keys and dedup once co-partitioned (sf10 edge build
    33-79s -> ~22s). The raise_error guard refuses id domains that
    would alias or overflow the packing (custkey below the 2^30
    supplier offset, suppkey below 2^30 — sf10's 1.5M customers
    ALIASED the pre-r11 1e6 offset)."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pk_expr = F.when(
        (F.col("o_custkey") < 0)
        | (F.col("o_custkey") >= F.lit(SUPP_NODE_OFFSET))
        | (F.col("l_suppkey") + SUPP_NODE_OFFSET >= F.lit(1 << 31))
        | (F.col("l_suppkey") < 0),
        F.expr(
            "raise_error('pagerank trade graph requires custkey in"
            " [0, 2^30) and suppkey in [0, 2^30) so customer and"
            " supplier node ids stay disjoint and packable')"
        ).cast("bigint"),
    ).otherwise(
        F.col("o_custkey") * F.lit(1 << 31).cast("bigint")
        + F.col("l_suppkey")
        + SUPP_NODE_OFFSET
    )
    return (
        li.join(o.hint("shuffle_hash"), o.o_orderkey == li.l_orderkey)
        .select(pk_expr.alias("pk"))
        .repartition(n_part, "pk")
        .dropDuplicates(["pk"])
        .select(
            F.expr("pk DIV 2147483648").alias("c"),
            F.expr("pk % 2147483648").alias("s"),
        )
    )


def graph_pagerank_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the DIRECTED customer->supplier trade graph with
    dangling-mass redistribution (operators/graph.py ``dangling=
    "redistribute"`` — every supplier is a sink, so without the
    redistribution term 85% of their absorbed mass would vanish each
    round). The directed twin of graph_pagerank: same distinct-pair
    derivation (one packed dedup), edges kept one-directional, and the
    canonical dangling share (sum of sink rank DIV |V|, exact
    truncating integers) folded into every node's inflow — bit-exact
    vs the unrolled-CTE DuckDB replay. This is the web-graph shape
    (most of a crawl's frontier is dangling) at fixture scale."""
    from ..operators.graph import pagerank_fixedpoint
    from ..plans.budget import within_budget

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    bound = parquet_rows(f"{sf_dir}/lineitem.parquet")
    if bound > 0 and within_budget(bound, PR_LOCAL_MAX_EDGES):
        # same numpy searchsorted builder as graph_pagerank's local
        # tier (two projected scans, FK join + dedup + replay in
        # numpy), one direction + dangling replay
        local = _pagerank_trade_graph_local(spark, o, li, directed=True)
        if local is not None:
            return local
    cs = _trade_pairs(spark, o, li)
    # Above the local tier, reuse the SYMMETRIC write-once layout
    # (both directions of every pair): under the _trade_pairs domain
    # guard customer ids are strictly below SUPP_NODE_OFFSET and
    # supplier node ids at or above it, so the customer->supplier
    # direction is exactly the rows with dst >= offset — one shared
    # materialization serves both the undirected and directed
    # queries, and the filter prunes with parquet min/max stats.
    sym = cs.select(
        F.explode(
            F.array(
                F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
                F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    layout = _tradegraph_edge_layout(spark, sf_dir, sym)
    # directed out-degrees off the symmetric node layout: a customer's
    # symmetric degree IS its distinct-supplier out-degree (all its
    # edges point at suppliers); suppliers are sinks (deg 0) but stay
    # in the node universe for the dangling-mass term
    node_deg = _tradegraph_node_layout(spark, sf_dir, layout).select(
        "node_id",
        F.when(F.col("node_id") < F.lit(SUPP_NODE_OFFSET), F.col("deg"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("deg"),
    )
    return pagerank_fixedpoint(
        layout.where(F.col("dst") >= F.lit(SUPP_NODE_OFFSET)),
        iters=_TRADE_PR_ITERS,
        damping_pct=_TRADE_PR_DAMPING_PCT,
        dangling="redistribute",
        node_deg=node_deg,
    )


QUERIES["graph_pagerank_directed"] = graph_pagerank_directed


def _pagerank_directed_oracle() -> str:
    from ..operators.graph import pagerank_oracle_sql

    edges_sql = f"""
        SELECT DISTINCT o.o_custkey AS src,
                        l.l_suppkey + {SUPP_NODE_OFFSET} AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    """
    return pagerank_oracle_sql(
        edges_sql,
        iters=_TRADE_PR_ITERS,
        damping_pct=_TRADE_PR_DAMPING_PCT,
        dangling=True,
    )


ORACLES["graph_pagerank_directed"] = _pagerank_directed_oracle()


def _tradegraph_edge_layout(spark, sf_dir: str, edges):
    """Write-once materialization of the deduped symmetric trade-graph
    edges, keyed on the fingerprints of BOTH source tables (orders and
    lineitem — either regenerating invalidates the layout, the
    staleness contract of sources.tables.fingerprint). Repeat runs scan the
    ~|E|-row relation (783 MB at the 10x fixture) instead of re-paying
    the |lineitem|-row join + packed dedup. Stored as PLAIN splittable
    parquet, not a bucketed table: measured on the 117M-row sf10
    relation, scan+repartition+localCheckpoint = 3.7-7.8 s while the
    bucketed-scan checkpoint = 5.3-10.2 s (32 unsplittable bucket
    files scan worse than split parquet feeding a pipelined exchange),
    so pagerank keeps its one explicit repartition(src) per run.
    Returns the opened relation."""
    from ..sources.tables import derived_layout, read_layout

    # ``deriv`` folds in every input the layout CONTENTS depend on,
    # not just the source tables: SUPP_NODE_OFFSET changed in r11 and
    # a fingerprint-only key would have served stale pre-change edges.
    # Bump _EDGE_LAYOUT_DERIVATION_V whenever _trade_pairs semantics
    # change without an accompanying constant change.
    path = derived_layout(
        sf_dir,
        "tradegraph_edges",
        ("orders", "lineitem"),
        f"off={SUPP_NODE_OFFSET};v={_EDGE_LAYOUT_DERIVATION_V}",
        lambda tmp: edges.write.mode("overwrite").parquet(tmp),
    )
    return read_layout(spark, path)


_NODE_LAYOUT_DERIVATION_V = 1


def _tradegraph_node_layout(
    spark, sf_dir: str, edges_layout: DataFrame
) -> DataFrame:
    """(node_id, deg) of the SYMMETRIC trade graph, materialized
    write-once next to the edge layout (r14): the node universe and
    degrees are fixture properties exactly like the edges, and without
    this layout every pagerank declaration re-aggregated the 117M-row
    sf10 edge relation just to rebuild them (a full extra |E| pass per
    run). Derived FROM the opened edge layout as its
    ``groupBy(src).count()``: both directions of every edge are
    present, so every node occurs as a src and its src count IS its
    degree (the real producer — r13 lifecycle lesson). The directed
    consumer projects its out-degrees off the same rows: customers
    keep their symmetric degree (= distinct suppliers), supplier sinks
    go to 0 (see graph_pagerank_directed).
    Keyed on BOTH source fingerprints + the edge derivation version +
    its own."""
    from ..sources.tables import derived_layout, read_layout

    def _write(tmp: str) -> None:
        edges_layout.groupBy(F.col("src").alias("node_id")).agg(
            F.count(F.lit(1)).cast("bigint").alias("deg")
        ).write.mode("overwrite").parquet(tmp)

    path = derived_layout(
        sf_dir,
        "tradegraph_nodes",
        ("orders", "lineitem"),
        f"off={SUPP_NODE_OFFSET};ev={_EDGE_LAYOUT_DERIVATION_V}"
        f";nv={_NODE_LAYOUT_DERIVATION_V}",
        _write,
    )
    return read_layout(spark, path)


def _pagerank_trade_graph_local(
    spark, o: DataFrame, li: DataFrame, directed: bool = False
):
    """Driver-local edge build for the bounded trade graph: inner-join
    lineitem to orders on the order key via searchsorted (o_orderkey is
    the orders PK — unique — so one probe per lineitem row IS the inner
    join; unmatched rows are dropped, matching join semantics), pack
    (cust, supp) into one int64 for the distinct, and emit both
    directions (``directed=True``: customer->supplier only, replayed
    with dangling redistribution — the graph_pagerank_directed
    semantics). Returns None when the id domains would overflow the
    packing (caller falls through to the distributed path)."""
    import numpy as np
    import pandas as pd

    from ..operators.graph import _pagerank_replay

    op = o.toPandas()
    lp = li.toPandas()
    ok = op["o_orderkey"].to_numpy(dtype=np.int64)
    oc = op["o_custkey"].to_numpy(dtype=np.int64)
    order = np.argsort(ok)
    ok_s, oc_s = ok[order], oc[order]
    lk = lp["l_orderkey"].to_numpy(dtype=np.int64)
    ls = lp["l_suppkey"].to_numpy(dtype=np.int64)
    if not len(ok_s):
        # empty orders: the inner join is empty (np.minimum(pos, -1)
        # would index into an empty array below — r8 advice)
        pos = np.zeros(len(lk), dtype=np.int64)
        valid = np.zeros(len(lk), dtype=bool)
    else:
        pos = np.searchsorted(ok_s, lk)
        valid = (pos < len(ok_s)) & (ok_s[np.minimum(pos, len(ok_s) - 1)] == lk)
    c = oc_s[pos[valid]]
    s = ls[valid] + SUPP_NODE_OFFSET
    if len(c) and (
        c.min() < 0
        or s.min() < 0
        or c.max() >= SUPP_NODE_OFFSET  # would alias supplier node ids
        or s.max() >= (1 << 31)
    ):
        # fall through to the distributed path, whose guard raises the
        # descriptive domain error instead of silently aliasing
        return None
    pk = np.unique(c * (1 << 31) + s)
    cu, su = pk >> 31, pk & ((1 << 31) - 1)
    if directed:
        pdf = pd.DataFrame({"src": cu, "dst": su})
        return _pagerank_replay(
            pdf,
            spark,
            iters=_TRADE_PR_ITERS,
            damping_pct=_TRADE_PR_DAMPING_PCT,
            dangling="redistribute",
        )
    pdf = pd.DataFrame(
        {"src": np.concatenate([cu, su]), "dst": np.concatenate([su, cu])}
    )
    return _pagerank_replay(
        pdf, spark, iters=_TRADE_PR_ITERS, damping_pct=_TRADE_PR_DAMPING_PCT
    )


QUERIES["graph_pagerank"] = graph_pagerank


def _pagerank_oracle() -> str:
    from ..operators.graph import pagerank_oracle_sql

    edges_sql = f"""
        SELECT c AS src, s AS dst FROM (
            SELECT DISTINCT o.o_custkey AS c,
                            l.l_suppkey + {SUPP_NODE_OFFSET} AS s
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        )
        UNION ALL
        SELECT s AS src, c AS dst FROM (
            SELECT DISTINCT o.o_custkey AS c,
                            l.l_suppkey + {SUPP_NODE_OFFSET} AS s
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        )
    """
    return pagerank_oracle_sql(
        edges_sql, iters=_TRADE_PR_ITERS, damping_pct=_TRADE_PR_DAMPING_PCT
    )


ORACLES["graph_pagerank"] = _pagerank_oracle()


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the third member of the rollup/cube API
    family, §2.3): revenue by (returnflag, linestatus), by returnflag
    alone, and the grand total — but NOT by linestatus alone, which is
    exactly what rollup/cube cannot express. grouping_id
    disambiguates the null-vs-aggregated cells. Single shuffle: Spark
    plans one Expand + one hash aggregate, same as rollup."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
               count(*) AS n,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        """
    )


QUERIES["agg_grouping_sets"] = agg_grouping_sets

ORACLES["agg_grouping_sets"] = """
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
                AS INT) AS gid,
           count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), ())
"""


def _running_sum_distributed(
    df: DataFrame,
    val: str,
    sort_cols: list,
    out: str,
    total_out: str | None = None,
) -> DataFrame:
    """Exact global running sum of ``val`` in ``sort_cols`` order
    WITHOUT a single-task sort — the classic two-phase distributed
    prefix sum (r14): rows
    range-partition on the sort key (a total order — callers include
    a unique tiebreak column), accumulate locally per range, and each
    range adds the broadcast sum of all lower ranges. Every stage is
    parallel and dimension-bounded — the shape that survives a 1e8-
    part dimension where `Window.orderBy` with no partitionBy
    serializes the whole frame into one task. The per-range window
    re-exchanges on the partition id (hash) after the range exchange;
    the per-range totals reuse that same hash exchange
    (ReusedExchange), so the frame crosses the wire twice total, both
    times at dimension grain."""
    sess = df.sparkSession
    n_part = int(sess.conf.get("spark.sql.shuffle.partitions"))
    ranged = df.repartitionByRange(n_part, *sort_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_loc = (
        Window.partitionBy("_pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = ranged.withColumn("_ls", F.sum(val).over(w_loc))
    rng_tot = loc.groupBy("_pid").agg(F.sum(val).alias("_ps"))
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off_cols = [
        F.col("_pid"),
        F.coalesce(F.sum("_ps").over(w_off), F.lit(0)).alias("_off"),
    ]
    if total_out is not None:
        # grand total from the bounded per-range totals — callers get
        # it for free off the same broadcast instead of aggregating a
        # second consumer of ``df`` (which would replay its lineage)
        w_all = Window.orderBy("_pid").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        off_cols.append(F.sum("_ps").over(w_all).alias(total_out))
    off = rng_tot.select(*off_cols)
    return (
        loc.join(F.broadcast(off), "_pid")
        .withColumn(out, (F.col("_ls") + F.col("_off")).cast("bigint"))
        .drop("_pid", "_ls", "_off")
    )


def pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis: parts ranked by exact revenue cents with
    cumulative share (fixed-point e4) and an ABC class at the 80/95
    cut — the concentration-curve primitive behind "which 20% of SKUs
    carry 80% of revenue". The fact scan aggregates to part grain
    first (keyed shuffle); the cumulative sum then runs only over the
    dimension-sized aggregate, same scale posture as orders_rfm's
    ntile. Ordering ties break on p_key so the running sum is
    deterministic.

    The cumulative sum is the two-phase distributed prefix sum
    (_running_sum_distributed) at every scale — no single-task
    WindowExec anywhere in the plan (plan-pinned in
    tests/test_plans.py). There is no driver-local single-window
    tier: at sf0.1 one measured 0.39 s against this path's 0.43 s,
    within noise."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("p_key")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    # total_cents rides the same per-range-totals broadcast as the
    # prefix offsets — never a second aggregate branch over per_part,
    # which would replay the lineitem groupBy (the repo's recurring
    # multi-consumer recompute class)
    ranked = _running_sum_distributed(
        per_part,
        "cents",
        [F.col("cents").desc(), F.col("p_key")],
        "cum_cents",
        total_out="total_cents",
    )
    return ranked.select(
        "p_key",
        "cents",
        # decimal(38)-promoted multiply: cum_cents approaches the FULL
        # lineitem revenue (the last rank's cumulative sum), so the
        # bigint cum_cents * 10000 loses 10^4 of headroom and overflows
        # int64 once total revenue passes ~9.2e14 cents — the same live
        # overflow class q14 hit at the 10x fixture (r13). DIV on a
        # decimal operand still returns BIGINT, floor-matching DuckDB's
        # HUGEINT //.
        F.expr(
            "CAST((CAST(cum_cents AS DECIMAL(38,0)) * 10000)"
            " DIV total_cents AS BIGINT)"
        ).alias("cum_share_e4"),
    ).withColumn(
        "abc_class",
        F.when(F.col("cum_share_e4") <= 8000, "A")
        .when(F.col("cum_share_e4") <= 9500, "B")
        .otherwise("C"),
    )


QUERIES["pareto_revenue"] = pareto_revenue

ORACLES["pareto_revenue"] = """
    WITH per_part AS (
        SELECT l_partkey AS p_key,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
        FROM lineitem GROUP BY 1
    ),
    ranked AS (
        SELECT p_key, cents,
               sum(cents) OVER (ORDER BY cents DESC, p_key
                                ROWS UNBOUNDED PRECEDING) AS cum_cents,
               sum(cents) OVER () AS total_cents
        FROM per_part
    )
    SELECT p_key, CAST(cents AS BIGINT) AS cents,
           CAST(CAST(cum_cents AS HUGEINT) * 10000 // total_cents AS BIGINT) AS cum_share_e4,
           CASE WHEN CAST(cum_cents AS HUGEINT) * 10000 // total_cents <= 8000 THEN 'A'
                WHEN CAST(cum_cents AS HUGEINT) * 10000 // total_cents <= 9500 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
"""


def events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per type: bucket =
    floor(value / 50) — IEEE double division and floor are correctly
    rounded on both engines, so the bucket index is deterministic
    without fixed-point tricks. Map-side combine then one shuffle on
    the (type, bucket) key; the bucket count is bounded by the value
    domain, never by row count."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            "event_type",
            F.floor(F.col("value") / 50).cast("bigint").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


QUERIES["events_histogram"] = events_histogram

ORACLES["events_histogram"] = """
    SELECT event_type,
           CAST(floor(value / 50) AS BIGINT) AS bucket,
           count(*) AS n
    FROM events GROUP BY 1, 2
"""


def events_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling aggregate via a RANGE window frame (the
    frame type window_frames_pack's ROWS frames don't cover): per
    event type and day, the event count and exact cents over the
    trailing week — RANGE over a day ordinal handles gap days
    correctly where a ROWS frame would silently span them. The fact
    scan aggregates to (type, day) grain first, so the window sorts
    only the bounded daily grid; at 100 TB the frame cost is
    O(days x types), independent of row count."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    daily = e.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("day_cents"),
    )
    with_no = daily.withColumn(
        "day_no",
        F.datediff("day", F.lit("1970-01-01").cast("date")).cast("long"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_no")
        .rangeBetween(-6, Window.currentRow)
    )
    return with_no.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(w).cast("bigint").alias("roll_n"),
        F.sum("day_cents").over(w).cast("bigint").alias("roll_cents"),
    )


QUERIES["events_rolling_7d"] = events_rolling_7d

ORACLES["events_rolling_7d"] = """
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               count(*) AS n,
               sum(CAST(round(value * 100) AS BIGINT)) AS day_cents
        FROM events GROUP BY 1, 2
    ),
    with_no AS (
        SELECT *, CAST(datediff('day', DATE '1970-01-01', day) AS BIGINT)
                      AS day_no
        FROM daily
    )
    SELECT event_type, day, CAST(n AS BIGINT) AS n,
           CAST(sum(n) OVER (
               PARTITION BY event_type ORDER BY day_no
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS roll_n,
           CAST(sum(day_cents) OVER (
               PARTITION BY event_type ORDER BY day_no
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS roll_cents
    FROM with_no
"""


def agg_quantile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete p50/p90/p99 bands of order value per status via
    rank selection: the value at ordinal position ceil(q*n) in the
    sorted group — pure integers end to end (no interpolation, so no
    float-rounding divergence between engines; the value at a rank
    depends only on the multiset, not the tiebreak). One window
    shuffle sorts each group; at 100 TB the exact bands swap for
    approx_percentile exactly as agg_median / agg_median_approx
    document — this is the exact twin for the multi-band shape."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    # value-counts + ONE cumulative-sum window over each group's
    # sorted DISTINCT values (the _exact_group_quantiles shape): the
    # rank-selected value depends only on the multiset, so the
    # row_number sort over every group ROW (two Window ops, full-group
    # buffering) was pure overhead
    cnts = o.groupBy("o_orderstatus", "cents").agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy("o_orderstatus").orderBy("cents")
    ranked = cnts.select(
        "o_orderstatus",
        "cents",
        "_c",
        F.sum("_c").over(w).alias("_cum"),
        F.sum("_c")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("n"),
    )

    def pick(num: int, den: int, alias: str):
        # value at 1-based rank pos = ceil(num*n/den): the distinct
        # value whose cumulative span covers pos
        pos = f"((n * {num} + {den} - 1) DIV {den})"
        return F.expr(
            f"max(CASE WHEN _cum - _c < {pos} AND _cum >= {pos}"
            f" THEN cents END)"
        ).alias(alias)

    return ranked.groupBy("o_orderstatus").agg(
        F.max("n").alias("n"),
        pick(1, 2, "p50_cents"),
        pick(9, 10, "p90_cents"),
        pick(99, 100, "p99_cents"),
    )


QUERIES["agg_quantile_bands"] = agg_quantile_bands

ORACLES["agg_quantile_bands"] = """
    WITH ranked AS (
        SELECT o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               row_number() OVER (
                   PARTITION BY o_orderstatus
                   ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
                            o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderstatus) AS n
        FROM orders
    )
    SELECT o_orderstatus,
           CAST(max(n) AS BIGINT) AS n,
           max(CASE WHEN rn = (n * 1 + 1) // 2 THEN cents END) AS p50_cents,
           max(CASE WHEN rn = (n * 9 + 9) // 10 THEN cents END) AS p90_cents,
           max(CASE WHEN rn = (n * 99 + 99) // 100 THEN cents END) AS p99_cents
    FROM ranked GROUP BY 1
"""


def window_distribution_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-position window functions — the §2.6 members the
    rank/frame packs don't cover: percent_rank, cume_dist, nth_value,
    and first/last over the full-partition frame. The order is total
    (exact balance cents desc, then custkey), so every output is
    engine-deterministic; percent_rank/cume_dist are IEEE divisions of
    small exact integers, bit-identical across engines under round."""
    c = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias("bal_cents"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("bal_cents"), F.asc("c_custkey")
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_mktsegment",
        "c_custkey",
        "bal_cents",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("bal_cents", 2).over(wf).alias("second_bal"),
        F.first_value("bal_cents").over(wf).alias("top_bal"),
        F.last_value("bal_cents").over(wf).alias("bottom_bal"),
    )


QUERIES["window_distribution_pack"] = window_distribution_pack
ORACLES["window_distribution_pack"] = """
    WITH c AS (
        SELECT c_mktsegment, c_custkey,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer
    )
    SELECT c_mktsegment, c_custkey, bal_cents,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           nth_value(bal_cents, 2) OVER wf AS second_bal,
           first_value(bal_cents) OVER wf AS top_bal,
           last_value(bal_cents) OVER wf AS bottom_bal
    FROM c
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY bal_cents DESC, c_custkey ASC),
           wf AS (PARTITION BY c_mktsegment
                  ORDER BY bal_cents DESC, c_custkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def agg_mode_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group with a DETERMINISTIC tie-break —
    Spark's built-in mode() leaves ties engine-defined, so the
    portable form is count + row_number (count desc, value asc): the
    §2.3 family member the sum/avg/median packs don't cover. Two
    modes in one result (categorical linestatus, integer quantity),
    each from a count aggregate that shuffles group-cardinality rows,
    then a window over those tiny count frames."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "qty_int", F.col("l_quantity").cast("int")
    )

    def _mode(col: str, alias: str) -> DataFrame:
        counts = li.groupBy("l_returnflag", col).agg(
            F.count(F.lit(1)).alias("n")
        )
        w = Window.partitionBy("l_returnflag").orderBy(
            F.desc("n"), F.asc(col)
        )
        return (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(
                "l_returnflag",
                F.col(col).alias(alias),
                F.col("n").alias(f"{alias}_n"),
            )
        )

    return _mode("l_linestatus", "mode_status").join(
        _mode("qty_int", "mode_qty"), "l_returnflag"
    )


QUERIES["agg_mode_pack"] = agg_mode_pack
ORACLES["agg_mode_pack"] = """
    WITH s AS (
        SELECT l_returnflag, l_linestatus AS mode_status,
               CAST(count(*) AS BIGINT) AS mode_status_n,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY count(*) DESC, l_linestatus ASC)
                   AS rn
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    ), q AS (
        SELECT l_returnflag, CAST(l_quantity AS INT) AS mode_qty,
               CAST(count(*) AS BIGINT) AS mode_qty_n,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY count(*) DESC,
                                           CAST(l_quantity AS INT) ASC) AS rn
        FROM lineitem GROUP BY l_returnflag, CAST(l_quantity AS INT)
    )
    SELECT s.l_returnflag, s.mode_status, s.mode_status_n,
           q.mode_qty, q.mode_qty_n
    FROM s JOIN q ON s.l_returnflag = q.l_returnflag
    WHERE s.rn = 1 AND q.rn = 1
"""


def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass exact moment statistics per group: raw power sums
    (Σx, Σx², Σx³ over integer quantities) plus population variance in
    e2 fixed point — every column an exact BIGINT, every sum map-side
    combinable (the textbook distributed-moments shape: partial power
    sums merge associatively, unlike a naive two-pass mean/deviation
    plan). var_e2 = ((n·Σx² − (Σx)²) · 100) DIV n² runs in
    DECIMAL(38,0) intermediates (r13 — the old bigint form's guard
    fired as a live failure at the 10x fixture, n ≈ 24M per group),
    mirroring DuckDB's HUGEINT sum() intermediates; both floor-divide
    to the same BIGINT (verified 190045 on sf10 magnitudes). The
    result columns stay BIGINT per the fetch-stability rule. A
    runtime guard still asserts the decimal38 headroom (r7 advice):
    a group large enough to overflow even the ×100 decimal
    intermediate (~1e36, n ≈ 1e15 at these magnitudes) raises loudly
    instead of relying on engine-specific overflow behavior."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("x")
    )
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sum_x"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sum_x2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).cast("bigint").alias("sum_x3"),
    )
    # overflow guard in DOUBLE arithmetic (can't itself overflow):
    # assert_true raises per-group if the *100 intermediate would leave
    # int64; the filter is IS NULL-shaped because assert_true returns
    # NULL on success
    guard = (
        "assert_true(greatest(1.0 * n * sum_x2, 1.0 * sum_x * sum_x) * 100"
        " < 9.0e36, 'agg_stats_moments: var_e2 decimal38 overflow — group"
        " too large even for decimal intermediates')"
    )
    return agg.where(F.expr(guard).isNull()).select(
        "l_returnflag",
        "n",
        "sum_x",
        "sum_x2",
        "sum_x3",
        F.expr(
            "CAST(((CAST(n AS DECIMAL(38,0)) * sum_x2"
            " - CAST(sum_x AS DECIMAL(38,0)) * sum_x) * 100)"
            " DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("var_e2"),
    )


QUERIES["agg_stats_moments"] = agg_stats_moments
ORACLES["agg_stats_moments"] = """
    WITH a AS (
        SELECT l_returnflag,
               count(*) AS n,
               sum(CAST(l_quantity AS BIGINT)) AS sum_x,
               sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                   AS sum_x2,
               sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                   * CAST(l_quantity AS BIGINT)) AS sum_x3
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           CAST(sum_x AS BIGINT) AS sum_x,
           CAST(sum_x2 AS BIGINT) AS sum_x2,
           CAST(sum_x3 AS BIGINT) AS sum_x3,
           CAST(((n * sum_x2 - sum_x * sum_x) * 100) // (n * n) AS BIGINT)
               AS var_e2
    FROM a
"""


def relational_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long melt through Spark's native unpivot API (the §2.2
    reshaping surface member the projection/pivot family didn't
    cover; pivot's inverse). Four per-line measures are first pinned
    to exact integer fixed-point (cents / e4), then unpivoted to
    (key, metric, val) rows. The oracle replays as a UNION ALL of four
    projections — deliberately the most version-stable SQL equivalent,
    and semantically exactly what unpivot emits (non-null values,
    metric named by source column). Narrow plan: scan -> project ->
    expand, zero shuffle."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 1000)
    # the proven exact fixed-point conversion (queries/tpch.py:11-13):
    # round() before the cast — a 2/4-decimal double scaled up is
    # within 1e-9 of an integer, so round is tie-free on both engines,
    # while a bare cast would TRUNCATE on Spark and ROUND on DuckDB
    wide = li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("CAST(round(l_quantity * 100) AS BIGINT)").alias("qty_e2"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("price_e2"),
        F.expr("CAST(round(l_discount * 10000) AS BIGINT)").alias("disc_e4"),
        F.expr("CAST(round(l_tax * 10000) AS BIGINT)").alias("tax_e4"),
    )
    return wide.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["qty_e2", "price_e2", "disc_e4", "tax_e4"],
        "metric",
        "val",
    )


QUERIES["relational_unpivot"] = relational_unpivot
ORACLES["relational_unpivot"] = """
    WITH wide AS (
        SELECT l_orderkey, l_linenumber,
               CAST(round(l_quantity * 100) AS BIGINT) AS qty_e2,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_e2,
               CAST(round(l_discount * 10000) AS BIGINT) AS disc_e4,
               CAST(round(l_tax * 10000) AS BIGINT) AS tax_e4
        FROM lineitem WHERE l_orderkey < 1000
    )
    SELECT l_orderkey, l_linenumber, 'qty_e2' AS metric, qty_e2 AS val FROM wide
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'price_e2', price_e2 FROM wide
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'disc_e4', disc_e4 FROM wide
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax_e4', tax_e4 FROM wide
"""
