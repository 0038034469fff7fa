"""Behavioral / time-series / graph analytics queries.

These are additive operators the reference's MapReduce surface cannot
express but a production analytics engine over event + order data is
expected to ship (SURVEY.md §2 additive inventory, same contract as
the LLM-pipeline family): ordered funnels, cohort retention, gap-fill
resampling, SCD2 dimension builds, and triangle counting. Every query
follows the hash-gate authoring convention of ``queries/__init__``:
integer / date / string outputs only, fixed-point ``_e4`` ratios via
integer division (Spark ``DIV`` == DuckDB ``//``, both truncate
toward zero — verified in round 6 for embedding_kmeans).

Scale posture (100 TB): each query is one or two shuffles on its
natural key. The funnel and cohort queries shuffle ONCE on user_id
and chain Window/groupBy operators over that single Exchange; the
gap-fill grid is built from a broadcast 1-row span × the distinct
key set (never a large cross join); SCD2 is one window shuffle on the
dimension key; triangle counting df-caps hub parts (the same guard as
dedup_ngram_jaccard's stop-shingle cap) before any pair generation so
candidate wedges stay O(m·d_cap) instead of quadratic in a hub's
degree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table, parquet_rows


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------- funnel

_FUNNEL_STAGES = ("view", "click", "purchase")


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order conversion funnel view → click → purchase.

    A user converts at stage i only with an event of that type STRICTLY
    AFTER their stage-(i-1) conversion time (the ordered-sequence
    semantics ad-hoc SQL gets wrong by just intersecting event types).
    One shuffle: all three stage times are Window mins over the same
    user_id partitioning, chained in a single Exchange; the final
    stage-count rollup is a tiny global aggregate. Conversion ratios
    are fixed-point e4 integers per the hash-gate convention.
    """
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    e = e.withColumn("t1", t1)
    t2 = F.min(
        F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")), F.col("ts"))
    ).over(w)
    e = e.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
            F.col("ts"),
        )
    ).over(w)
    e = e.withColumn("t3", t3)
    per_user = e.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    counts = per_user.agg(
        F.count("t1").cast("bigint").alias("n_view"),
        F.count("t2").cast("bigint").alias("n_click"),
        F.count("t3").cast("bigint").alias("n_purchase"),
    )
    return counts.select(
        "n_view",
        "n_click",
        "n_purchase",
        F.expr("n_click * 10000 DIV nullif(n_view, 0)").alias("click_rate_e4"),
        F.expr("n_purchase * 10000 DIV nullif(n_click, 0)").alias("purchase_rate_e4"),
    )


_FUNNEL_SQL = """
    WITH u AS (
        SELECT user_id, min(ts) FILTER (event_type = 'view') AS t1
        FROM events GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN u ON e.user_id = u.user_id
        WHERE e.event_type = 'click' AND e.ts > u.t1
        GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2
        GROUP BY 1
    ),
    agg AS (
        SELECT count(u.t1) AS n_view, count(c.t2) AS n_click,
               count(p.t3) AS n_purchase
        FROM u
        LEFT JOIN c ON u.user_id = c.user_id
        LEFT JOIN p ON u.user_id = p.user_id
    )
    SELECT CAST(n_view AS BIGINT) AS n_view,
           CAST(n_click AS BIGINT) AS n_click,
           CAST(n_purchase AS BIGINT) AS n_purchase,
           CAST(n_click * 10000 // nullif(n_view, 0) AS BIGINT) AS click_rate_e4,
           CAST(n_purchase * 10000 // nullif(n_click, 0) AS BIGINT) AS purchase_rate_e4
    FROM agg
"""


# ------------------------------------------------------- cohort retention


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: cohort = Monday-start week of
    each user's FIRST event; a (cohort, offset) cell counts distinct
    users from that cohort active offset weeks later. One shuffle on
    user_id (window min for first_ts), then distinct + count over the
    (cohort_week, week_offset, user) triples — both keyed aggregations
    AQE-sized. date_trunc('week') is Monday-start in both engines."""
    e = _t(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id")
    e = e.withColumn("first_ts", F.min("ts").over(w))
    pairs = (
        e.select(
            "user_id",
            F.date_trunc("week", "first_ts").cast("date").alias("cohort_week"),
            F.expr(
                "CAST(datediff(date_trunc('week', ts), date_trunc('week', first_ts))"
                " DIV 7 AS INT)"
            ).alias("week_offset"),
        )
        .distinct()
    )
    return (
        pairs.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


_COHORT_SQL = """
    WITH f AS (
        SELECT user_id, ts,
               min(ts) OVER (PARTITION BY user_id) AS first_ts
        FROM events
    ),
    pairs AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week,
               CAST(datediff('day', date_trunc('week', first_ts),
                             date_trunc('week', ts)) // 7 AS INT) AS week_offset
        FROM f
    )
    SELECT cohort_week, week_offset, count(*) AS n_users
    FROM pairs GROUP BY 1, 2
"""


# ------------------------------------------------------------- gap-fill


def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resample with zero-fill: per event_type daily counts over
    the complete min..max day span, missing (type, day) cells emitted
    as 0 — the densification step every downstream time-series model
    needs. The grid is distinct-keys × an exploded sequence from a
    broadcast 1-row span (never a row-proportional cross join); the
    left join back to real counts shuffles on the small grid side
    only."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    )
    daily = e.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    span = e.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = (
        e.select("event_type")
        .distinct()
        .join(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
        )
    )
    return (
        grid.join(daily, ["event_type", "day"], "left")
        .select("event_type", "day", F.coalesce("n", F.lit(0)).alias("n"))
    )


_GAPFILL_SQL = """
    WITH e AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ),
    daily AS (
        SELECT event_type, day, count(*) AS n FROM e GROUP BY 1, 2
    ),
    span AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
    grid AS (
        SELECT t.event_type,
               CAST(unnest(generate_series(span.d0, span.d1,
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN span
    )
    SELECT g.event_type, g.day, CAST(coalesce(d.n, 0) AS BIGINT) AS n
    FROM grid g LEFT JOIN daily d
      ON g.event_type = d.event_type AND g.day = d.day
"""


# ----------------------------------------------------------------- SCD2


def scd2_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from an ordered change
    stream: each customer's o_orderpriority history collapses to
    validity intervals [valid_from, valid_to) with an is_current flag —
    the standard dimension-table derivation from CDC/order feeds (the
    batch complement of merge_upsert's change application). One window
    shuffle on the dimension key; the change filter and the lead() for
    interval close reuse the same partitioning, so Catalyst plans a
    single Exchange. Ordering ties on o_orderdate break by o_orderkey
    for determinism."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chg = o.withColumn("prev", F.lag("o_orderpriority").over(w)).where(
        F.col("prev").isNull() | (F.col("prev") != F.col("o_orderpriority"))
    )
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return chg.withColumn("valid_to", F.lead("o_orderdate").over(w2)).select(
        "o_custkey",
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").alias("valid_from"),
        "valid_to",
        F.col("valid_to").isNull().cast("int").alias("is_current"),
    )


_SCD2_SQL = """
    WITH seq AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
               lag(o_orderpriority) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS prev
        FROM orders
    ),
    chg AS (
        SELECT * FROM seq
        WHERE prev IS NULL OR prev <> o_orderpriority
    )
    SELECT o_custkey,
           o_orderpriority AS prio,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS valid_to,
           CAST(lead(o_orderdate) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) IS NULL AS INT) AS is_current
    FROM chg
"""


# ------------------------------------------------------------ triangles

_TRI_PART_CAP = 20  # drop hub parts: a part with d suppliers yields
# d*(d-1)/2 edges, so an uncapped hub is the same quadratic hazard as
# a stop-shingle in dedup_ngram_jaccard — cap it identically.

# Budgets of graph_triangles' dense-gemm tier: the supplier-footer node
# bound caps gemm flops (2*n^3 <= ~3.7e12) and dense scratch (n^2
# floats, <= ~600 MB); the edge count caps the driver Arrow transfer
# (4M edges ~= 64 MB — the similarity._collect_matrix contract).
TRI_LOCAL_MAX_NODES = 12288
TRI_LOCAL_MAX_EDGES = 4_000_000


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the supplier co-supply graph (suppliers
    adjacent iff they supply a common part). The LLM-pipeline use is
    identical in shape: triangles over a near-duplicate candidate
    graph measure cluster density / transitivity before collapsing
    clusters.

    Scale shape: (1) candidate edges are generated per part AFTER the
    df-cap kills hub parts, so edge generation is O(parts · cap²) not
    O(hub²); (2) edges are canonical (s1 < s2) and deduplicated once;
    (3) orientation turns wedges into pairs of OUT-neighbors, and the
    semi-join closure counts each triangle exactly once at its unique
    two-out-edge apex (any total-order orientation is a DAG); the
    TOTAL is orientation-independent, so it hashes against the
    id-oriented DuckDB oracle.

    Edges point low-(deg, id) → high-(deg, id), bounding any hub's
    wedge fan-out by O(sqrt(m)) — the O(m^1.5) bound that survives
    skewed degree distributions at 100 TB."""
    # no fan_out before the groupBy: the aggregation shuffles on the
    # part key anyway (same reasoning as basket_pairs); parallelism for
    # the wedge expansion comes from the explicit repartition below
    groups = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            F.sort_array(F.array_distinct(F.collect_list("l_suppkey"))).alias(
                "sks"
            )
        )
        .where(F.size("sks").between(2, _TRI_PART_CAP))
    )
    # part-local pair generation (one shuffle on the part key, no
    # self-join — same rewrite as basket_pairs), then distinct; the
    # edge set is PERSISTED because five consumers (two wedge sides,
    # the closure probe, node and edge counts) would otherwise
    # recompute the whole generation pipeline each. persist (lazy)
    # rather than localCheckpoint (eager): materialization then
    # happens inside the measured execution — exactly once, shared by
    # all consumers — and the declaration stays pure plan construction
    # (so the prepared-plan cache applies; this is not an iterative
    # lineage, just a multi-consumer share).
    from pyspark import StorageLevel

    edges = (
        groups.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(sks) - 1), i ->"
                    " transform(slice(sks, i + 1, size(sks) - i), y ->"
                    " struct(element_at(sks, i) AS s1, y AS s2))))"
                )
            ).alias("e")
        )
        .select(F.col("e.s1").alias("s1"), F.col("e.s2").alias("s2"))
        .distinct()
        # spread BEFORE persisting: the edge set is tiny in bytes
        # but each edge fans out to many wedges, and AQE's small-input
        # coalescing would otherwise run the whole wedge expansion in
        # ONE task (measured 4.3s -> 1.9s at sf0.1)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # ordkey = deg * 2^24 + id is a total order (supplier ids are
    # far below 2^24; a deg tie breaks on id), broadcast-joined
    # onto both endpoints of the checkpointed edge list (re-running
    # two broadcast joins per consumer measured CHEAPER than
    # eagerly materializing the oriented copy)
    deg = (
        edges.select(F.col("s1").alias("v"))
        .union(edges.select(F.col("s2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select("v", (F.col("deg") * (1 << 24) + F.col("v")).alias("ord"))
    )
    oriented = (
        edges.join(F.broadcast(deg).alias("d1"), F.col("s1") == F.col("d1.v"))
        .join(F.broadcast(deg).alias("d2"), F.col("s2") == F.col("d2.v"))
        .select(
            F.when(F.col("d1.ord") < F.col("d2.ord"), F.col("s1"))
            .otherwise(F.col("s2"))
            .alias("src"),
            F.when(F.col("d1.ord") < F.col("d2.ord"), F.col("s2"))
            .otherwise(F.col("s1"))
            .alias("dst"),
            F.greatest("d1.ord", "d2.ord").alias("dst_ord"),
        )
    )
    # Bounded dense local path (the CC/PageRank cost-based-local
    # pattern): when the VERTEX universe fits a dense adjacency matrix
    # (suppliers here — dimension tables are small universes), triangle
    # count = sum((A @ A) * A) / 6 — row-blocked BLAS sgemm, exact in
    # float32 entries (common-neighbor counts <= n <= ceiling << 2^24)
    # with per-block float64 accumulation (every addend is an exact
    # integer and 6*tri << 2^53). Either budget (TRI_LOCAL_MAX_*)
    # exceeded -> the distributed degree-oriented wedge join below,
    # whose O(m^1.5) bound is the 100 TB path. A bitset popcount tier
    # was prototyped and rejected: this box's numpy runs uint64
    # elementwise ops ~500x slower than BLAS sgemm, so the gemm wins
    # everywhere the transfer budget admits.
    from ..plans.budget import local_tier_enabled

    # vertex-universe probe with ZERO Spark jobs: the co-supply graph's
    # nodes are suppliers, so the supplier table's parquet footer row
    # count (memoized, sources/tables.py) bounds the node count
    if local_tier_enabled(TRI_LOCAL_MAX_NODES) and (
        parquet_rows(f"{sf_dir}/supplier.parquet") <= TRI_LOCAL_MAX_NODES
    ):
        import numpy as np

        # one bounded probe (the CC pattern, dedup.py): at most
        # ceiling + 1 edges ever reach the driver, and <= ceiling rows
        # back IS the complete edge set
        pdf = edges.limit(TRI_LOCAL_MAX_EDGES + 1).toPandas()
        if len(pdf) <= TRI_LOCAL_MAX_EDGES:
            s1 = pdf["s1"].to_numpy(dtype=np.int64)
            s2 = pdf["s2"].to_numpy(dtype=np.int64)
            nodes, inv = np.unique(np.concatenate([s1, s2]), return_inverse=True)
            i, j = inv[: len(s1)], inv[len(s1):]
            n = len(nodes)
            A = np.zeros((n, n), dtype=np.float32)
            A[i, j] = 1.0
            A[j, i] = 1.0
            # row blocks bound gemm scratch at ~256 MB; each block
            # contributes an exact-integer float64 partial
            total = 0.0
            blk = max(1, (256 << 20) // (4 * max(1, n)))
            for lo in range(0, n, blk):
                band = A[lo : lo + blk]
                total += float(((band @ A) * band).sum(dtype=np.float64))
            tri = int(round(total / 6.0))
            return spark.createDataFrame(
                [(n, len(pdf), tri)],
                "n_nodes long, n_edges long, n_triangles long",
            )

    o1, o2, o3 = oriented.alias("o1"), oriented.alias("o2"), oriented.alias("o3")
    # wedge endpoints PACK into one long (ids are < 2^24 — the same
    # bound the ord total-order key already relies on): the closure
    # exchange carries one column instead of two, and the probe joins
    # on a single key
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (F.col("o1.dst_ord") < F.col("o2.dst_ord")),
    ).select(
        (F.shiftleft(F.col("o1.dst"), 25) + F.col("o2.dst")).alias("bc")
    )
    # b precedes c in the total order, so the {b,c} edge — if it exists
    # — is oriented b -> c: one directed probe closes the wedge. The
    # shuffle_hash hint is the r10 at-scale fix: the planner's default
    # sort-merge SORTS the full wedge stream (|V| x avg_deg^2 rows —
    # 733M at sf10, where the sort never finished inside 9 minutes);
    # hash-exchanging it instead and building the |E|-row side per
    # partition (|E|/P entries each) closed in 34s on the same fixture.
    closed = wedges.join(
        o3.select(
            (F.shiftleft(F.col("o3.src"), 25) + F.col("o3.dst")).alias("bc")
        ).hint("shuffle_hash"),
        "bc",
        "left_semi",
    )
    nodes = (
        edges.select(F.col("s1").alias("s"))
        .union(edges.select(F.col("s2").alias("s")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    n_tri = closed.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    return nodes.join(F.broadcast(n_edges)).join(F.broadcast(n_tri))


_TRIANGLES_SQL = f"""
    WITH ps AS (
        SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
    ),
    keep AS (
        SELECT pk FROM ps GROUP BY pk HAVING count(*) <= {_TRI_PART_CAP}
    ),
    e AS (
        SELECT DISTINCT a.sk AS s1, b.sk AS s2
        FROM ps a JOIN ps b ON a.pk = b.pk AND a.sk < b.sk
        WHERE a.pk IN (SELECT pk FROM keep)
    ),
    tri AS (
        SELECT count(*) AS n
        FROM e e1
        JOIN e e2 ON e1.s1 = e2.s1 AND e1.s2 < e2.s2
        JOIN e e3 ON e3.s1 = e1.s2 AND e3.s2 = e2.s2
    ),
    nodes AS (
        SELECT count(*) AS n
        FROM (SELECT s1 AS s FROM e UNION SELECT s2 FROM e)
    ),
    ecnt AS (SELECT count(*) AS n FROM e)
    SELECT CAST(nodes.n AS BIGINT) AS n_nodes,
           CAST(ecnt.n AS BIGINT) AS n_edges,
           CAST(tri.n AS BIGINT) AS n_triangles
    FROM nodes, ecnt, tri
"""


# ------------------------------------------------------ transition matrix


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per user (the path-analysis primitive behind "what do users
    do after X"). One window shuffle on user_id (lead over ts with
    event_id tiebreak); the per-source row-probability is fixed-point
    e4 via a second tiny aggregation keyed on the 5x5 type pairs."""
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("to_type", F.lead("event_type").over(w))
        .where(F.col("to_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), "to_type")
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wf = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.expr("n * 10000").cast("bigint").alias("n_e4"),
    ).withColumn(
        "p_e4", F.expr("n_e4 DIV sum(n) OVER (PARTITION BY from_type)")
    ).drop("n_e4")


_TRANSITION_SQL = """
    WITH seq AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        FROM events
    ),
    counts AS (
        SELECT from_type, to_type, count(*) AS n
        FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           CAST(n * 10000 // sum(n) OVER (PARTITION BY from_type)
                AS BIGINT) AS p_e4
    FROM counts
"""


# ----------------------------------------------------------------- RFM


RFM_NTILE_LOCAL_MAX = 1_000_000  # customer-dimension ceiling for the
# single-task global ntile windows; above it (or under the forced-
# distributed switch) the boundary-key tier (_ntile_boundary_buckets)
# runs instead


def _ntile_boundary_keys(
    rfm: DataFrame, k: int, dims: list[tuple[str, bool, str]]
) -> DataFrame:
    """The (k - 1) exact ntile boundary keys per dimension as a
    DataFrame ``(dim INT, bi INT, v BIGINT, ck BIGINT)`` — ``v`` is
    the dimension value NEGATED for descending dimensions (the
    internal all-ascending convention), ``ck`` the o_custkey tiebreak.
    This is the derivation half of the order-statistic selection
    documented on :func:`_ntile_boundary_buckets`; the assignment half
    is :func:`_assign_ntile_bounds`.

    Why not rank-from-counts: the monetary key is ~unique per
    customer, so a distinct-value counts frame is full-size and saves
    nothing (SCALING.md "Global ntile at dimension grain", r9). Why
    this works anyway: a B-bucket HISTOGRAM map-side combines to B
    cells per task regardless of value uniqueness, a cumulative window
    over the 3 x B frame locates the bucket covering each boundary
    rank, and only that bucket's ~n/B rows sort (tiny window task) to
    pick the exact key. No full-frame range exchange, no full sort —
    the r10 tier paid THREE of each (chained two-phase range-rank
    passes, 6.9s at the 10x fixture); this shape's full-data work is
    two projections over the checkpointed dimension frame plus
    tiny-frame stages, and at 1.5e8 customers every stage stays
    bounded (histogram cells, not rows, cross the wire; the pick task
    is n/B rows, or one value's tie-group on tie-dense dimensions —
    documented corner: a dimension with ONE hot value degrades the
    pick to that tie-group's size, still never the full frame).

    ``dims``: (value_col, descending, out_col). ``rfm`` must carry
    o_custkey (the deterministic tiebreak) and be cheap to re-consume
    — the caller checkpoints it. CONTRACT: dimension values must be
    NON-NULL (like the o_custkey tiebreak requirement) — a NULL _v
    would fall out of the histogram locate and yield a NULL bucket,
    whereas F.ntile (ASC NULLS FIRST) assigns bucket 1; the RFM dims
    are aggregate counts/dates/cents, non-null by construction, and
    the melt below asserts it per-dimension. The 3 x (k - 1) boundary rows are
    collected to the driver: bounded by construction (a k-row
    centroid-class collect, the repo's adjudicated contract)."""
    sess = rfm.sparkSession
    n_buckets = 1024
    # melt to (dim, v, ck): descending dims negate so every dimension
    # orders (v ASC, ck ASC); values are exact ints (days/counts/cents)
    arms = [
        F.struct(
            F.lit(di).alias("_dim"),
            (-F.col(col) if desc else F.col(col)).cast("bigint").alias("_v"),
            F.col("o_custkey").alias("_ck"),
        )
        for di, (col, desc, _out) in enumerate(dims)
    ]
    melted = rfm.select(F.explode(F.array(*arms)).alias("_s")).select("_s.*")
    rng = melted.groupBy("_dim").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min("_v").alias("_mn"),
        F.max("_v").alias("_mx"),
    )
    b_hi = n_buckets - 1
    # non-null contract guard (see docstring): costs one per-row null
    # test inside the existing projection, no extra pass or job
    bexpr = (
        f"CASE WHEN _v IS NULL THEN CAST(raise_error("
        f"'_ntile_boundary_buckets: NULL dimension value violates the"
        f" non-null contract (F.ntile would bucket it 1)') AS BIGINT)"
        f" ELSE LEAST(CAST({b_hi} AS BIGINT), CAST(floor((_v - _mn) /"
        f" (CASE WHEN _mx > _mn THEN CAST(_mx - _mn AS DOUBLE)"
        f" ELSE 1.0 END) * {n_buckets}) AS BIGINT)) END"
    )
    wb = melted.join(F.broadcast(rng), "_dim").withColumn("_b", F.expr(bexpr))
    bcnt = wb.groupBy("_dim", "_n", "_b").agg(F.count(F.lit(1)).alias("_bc"))
    w_b = Window.partitionBy("_dim").orderBy("_b")
    bmark = bcnt.withColumn("_bcum", F.sum("_bc").over(w_b))
    # ntile boundary ranks: bucket i (1-indexed) ends at global rank
    # i * (n DIV k) + LEAST(i, n % k); bucket(row) = 1 + |boundaries
    # strictly below the row's key| (repeated boundary keys when n < k
    # still compare correctly — ties collapse onto the same key)
    bs = F.array(*[F.lit(i) for i in range(1, k)])
    rank = f"(_bi * (_n DIV {k}) + LEAST(_bi, _n % {k}))"
    needs = (
        bmark.select("*", F.explode(bs).alias("_bi"))
        .where(F.expr(f"_bcum - _bc < {rank} AND _bcum >= {rank}"))
        .select(
            "_dim",
            "_b",
            "_bi",
            F.expr(f"{rank} - (_bcum - _bc)").alias("_lr"),
        )
    )
    w_in = Window.partitionBy("_dim", "_bi").orderBy("_v", "_ck")
    return (
        wb.select("_dim", "_b", "_v", "_ck")
        .join(F.broadcast(needs), ["_dim", "_b"])
        .withColumn("_rn", F.row_number().over(w_in))
        .where(F.col("_rn") == F.col("_lr"))
        .select(
            F.col("_dim").cast("int").alias("dim"),
            F.col("_bi").cast("int").alias("bi"),
            F.col("_v").cast("bigint").alias("v"),
            F.col("_ck").cast("bigint").alias("ck"),
        )
    )


def _assign_ntile_bounds(
    rfm: DataFrame,
    dims: list[tuple[str, bool, str]],
    bounds: dict[int, list[tuple[int, int, int]]],
) -> DataFrame:
    """Assignment half of the order-statistic ntile: bucket(row) = 1 +
    |boundary keys strictly below the row's (value, custkey) key| —
    a pure projection of (k - 1) literal comparisons per dimension, no
    join, no shuffle, no window. ``bounds`` maps dim index to
    ``[(bi, v, ck), ...]`` in the internal all-ascending convention
    (``v`` negated for descending dims, matching
    :func:`_ntile_boundary_keys`)."""
    out_cols = ["*"]
    for di, (col, desc, out) in enumerate(dims):
        v = f"(CAST({'-' if desc else ''}{col} AS BIGINT))"
        terms = [
            f"CAST(({v} > {bv}L OR ({v} = {bv}L AND o_custkey > {bck}L))"
            " AS INT)"
            for _bi, bv, bck in sorted(bounds.get(di, []))
        ]
        expr = " + ".join(["1"] + terms) if terms else "1"
        out_cols.append(F.expr(expr).cast("int").alias(out))
    return rfm.select(*out_cols)


def _ntile_boundary_buckets(
    rfm: DataFrame, k: int, dims: list[tuple[str, bool, str]]
) -> DataFrame:
    """Derive-then-assign in one call: locate the boundary keys
    (:func:`_ntile_boundary_keys`), collect the bounded 3 x (k - 1)
    row set, and bucket every row via literal comparisons
    (:func:`_assign_ntile_bounds`)."""
    picked = _ntile_boundary_keys(rfm, k, dims)
    bounds: dict[int, list[tuple[int, int, int]]] = {}
    for r in picked.collect():  # dims x (k - 1) rows, bounded
        bounds.setdefault(r["dim"], []).append((r["bi"], r["v"], r["ck"]))
    return _assign_ntile_bounds(rfm, dims, bounds)


# The RFM dimension spec in the internal all-ascending convention of
# _ntile_boundary_keys / _assign_ntile_bounds. Recency orders by
# last_days DESC: rec_days = datediff(anchor, last_order) is a
# strictly DECREASING bijection of last_order at day grain, so
# ntile(rec_days ASC, ck) == ntile(last_days DESC, ck) bit-for-bit —
# dropping the anchor removes a full extra orders scan + broadcast
# from every tier (r14).
RFM_DIMS = [
    ("last_days", True, "r_bucket"),
    ("freq", True, "f_bucket"),
    ("cents", True, "m_bucket"),
]

def _rfm_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer RFM dimension frame (o_custkey, last_days, freq,
    cents): ONE shuffle on o_custkey over the orders scan. last_days
    is unix_date(max(o_orderdate)) — integer days, cast once on the
    1.5e?-customer aggregate, never per order row."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        # cast to DATE before unix_date: the fixture stores orderdate
        # as TIMESTAMP_NTZ, and the original rec_days = datediff(...)
        # collapsed intraday variation to day grain — the cast keeps
        # that grain, so ties (and their custkey tiebreaks) are
        # bit-identical to the anchor formulation
        F.unix_date(F.max("o_orderdate").cast("date"))
        .cast("bigint")
        .alias("last_days"),
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )


def orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation:
    per-customer stats roll into ntile(5) buckets per dimension, and
    the output is the segment-level rollup (bucket triple, customer
    count, total cents). Monetary is exact integer cents
    (round(price*100) — prices carry 2 decimals, so the rounded cents
    are bit-identical on both engines; no float sums in the hash).
    ntile ties break on custkey for determinism; recency buckets on
    last_days DESC, bit-identical to rec_days ASC (see RFM_DIMS).

    Two tiers, identical output (equality-pinned in
    tests/test_budget_tiers.py); both derive the boundaries inside
    the timed query:

    1. Above RFM_NTILE_LOCAL_MAX customers (or under
       SMRGH_FORCE_DISTRIBUTED): live
       order-statistic selection (_ntile_boundary_buckets — histogram
       locate + one-bucket pick + literal comparison). EXACT, no
       full-frame sort anywhere, so a 1.5e8-customer dimension never
       serializes into one task NOR pays three chained range
       exchanges (the r10 tier's 6.9s).
    2. At or below RFM_NTILE_LOCAL_MAX: the three global ntile
       windows — dimension-sized single tasks, fastest at toy
       scale."""
    from ..plans.budget import within_budget

    rfm = _rfm_frame(spark, sf_dir)
    cust_bound = parquet_rows(f"{sf_dir}/customer.parquet")
    if within_budget(cust_bound, RFM_NTILE_LOCAL_MAX):
        bucketed = rfm.select(
            "o_custkey",
            "cents",
            *[
                F.ntile(5)
                .over(
                    Window.orderBy(
                        F.col(col).desc() if desc else F.col(col).asc(),
                        F.col("o_custkey"),
                    )
                )
                .alias(out)
                for col, desc, out in RFM_DIMS
            ],
        )
    else:
        # checkpoint the dimension frame ONCE: three consumers
        # (histogram, boundary pick, final assign) would otherwise
        # each replay the orders groupBy — the repo's recurring
        # multi-consumer re-execution class
        rfm_ck = rfm.localCheckpoint()
        bucketed = _ntile_boundary_buckets(rfm_ck, 5, RFM_DIMS)
    return bucketed.groupBy("r_bucket", "f_bucket", "m_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )


_RFM_SQL = """
    WITH per_cust AS (
        SELECT o_custkey,
               max(o_orderdate) AS last_order,
               count(*) AS freq,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1
    ),
    anchor AS (SELECT max(last_order) AS anchor FROM per_cust),
    rfm AS (
        SELECT o_custkey,
               CAST(datediff('day', last_order, anchor) AS INT) AS rec_days,
               freq, cents
        FROM per_cust CROSS JOIN anchor
    ),
    bucketed AS (
        SELECT o_custkey, cents,
               ntile(5) OVER (ORDER BY rec_days ASC, o_custkey) AS r_bucket,
               ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f_bucket,
               ntile(5) OVER (ORDER BY cents DESC, o_custkey) AS m_bucket
        FROM rfm
    )
    SELECT r_bucket, f_bucket, m_bucket,
           count(*) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM bucketed GROUP BY 1, 2, 3
"""


# -------------------------------------------------------- market basket

_BASKET_CAP = 8  # a basket with b items yields b*(b-1)/2 pairs — cap
# mega-baskets exactly like hub parts in graph_triangles.
_BASKET_MIN_SUPPORT = 2


_PACK = 2**31  # pair key packing base; partkeys are < 2^31 at any
# published TPC-H scale (SF*200k), runtime-asserted on the basket max


def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent co-purchased part pairs (market-basket support counts):
    distinct (order, part) items, baskets above the pair-explosion cap
    dropped, canonical p1 < p2 pairs counted, support >= 2 kept.

    Plan (r8, rewritten for whole-stage codegen): explicit repartition
    on the order key feeds the basket aggregation — collect_list's
    map-side partial agg compresses NOTHING, so hashing rows into
    per-key buffers on the scan's (few) input splits is pure waste; the
    exchange moves the same bytes either way and the heavy agg then
    runs on all shuffle cores. Pair emission is a broadcast equi-join
    against the static (size, i, j) pair-index frame (<= 84 rows for
    cap 8) projected through element_at — replacing the interpreted
    nested transform/slice/flatten lambdas, which Catalyst cannot
    codegen, with plain vectorizable expressions. The sorted distinct
    array makes p1 < p2 canonical by construction (i < j), pairs travel
    the final shuffle as ONE packed bigint key, and the inner join
    itself drops size-1 and over-cap baskets (no index rows to match).
    sf1: 2.7s -> 1.4s; bit-identical output (exceptAll both ways = 0)."""
    pair_idx = spark.createDataFrame(
        [
            (s, i, j)
            for s in range(2, _BASKET_CAP + 1)
            for i in range(1, s)
            for j in range(i + 1, s + 1)
        ],
        "sz int, i int, j int",
    )
    baskets = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(F.col("l_orderkey"))
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(
            F.sort_array(F.array_distinct(F.collect_list("l_partkey"))).alias(
                "parts"
            )
        )
        .withColumn("sz", F.size("parts"))
        # packing-bound guard on the basket max (sorted array's last
        # element): a partkey >= 2^31 would collide pair keys
        .withColumn(
            "_ok",
            F.when(
                F.element_at("parts", F.col("sz")) >= F.lit(_PACK),
                F.expr("raise_error('basket_pairs: partkey >= 2^31')"),
            ).otherwise(F.lit(1)),
        )
    )
    packed = baskets.join(F.broadcast(pair_idx), "sz").select(
        (
            F.element_at("parts", F.col("i")).cast("bigint") * F.lit(_PACK)
            + F.element_at("parts", F.col("j")).cast("bigint")
            + (F.col("_ok") - F.lit(1))
        ).alias("pk")
    )
    # repartition BEFORE the count: the pair stream is ~99.7% unique
    # keys (sf1: 10.7M pairs -> 28.6k with support >= 2), so the
    # map-side partial agg builds a 10M-entry hash table that
    # compresses nothing — pure overhead ahead of the same-size
    # exchange. Hash-partitioning the raw pairs and aggregating once
    # on the reduce side measured 2.03 -> 1.76s full-pipeline at sf1.
    g = (
        packed.repartition(F.col("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .where(F.col("support") >= _BASKET_MIN_SUPPORT)
    )
    return g.select(
        F.expr(f"pk DIV {_PACK}").cast("bigint").alias("p1"),
        (F.col("pk") % F.lit(_PACK)).cast("bigint").alias("p2"),
        "support",
    )


_BASKET_SQL = f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    keep AS (
        SELECT ok FROM items GROUP BY ok HAVING count(*) <= {_BASKET_CAP}
    ),
    kept AS (SELECT * FROM items WHERE ok IN (SELECT ok FROM keep))
    SELECT a.pk AS p1, b.pk AS p2, count(*) AS support
    FROM kept a JOIN kept b ON a.ok = b.ok AND a.pk < b.pk
    GROUP BY 1, 2
    HAVING count(*) >= {_BASKET_MIN_SUPPORT}
"""


QUERIES = {
    "events_funnel": events_funnel,
    "events_transition_matrix": events_transition_matrix,
    "orders_rfm": orders_rfm,
    "basket_pairs": basket_pairs,
    "events_cohort_retention": events_cohort_retention,
    "events_gapfill": events_gapfill,
    "scd2_order_priority": scd2_order_priority,
    "graph_triangles": graph_triangles,
}

ORACLES = {
    "events_funnel": _FUNNEL_SQL,
    "events_transition_matrix": _TRANSITION_SQL,
    "orders_rfm": _RFM_SQL,
    "basket_pairs": _BASKET_SQL,
    "events_cohort_retention": _COHORT_SQL,
    "events_gapfill": _GAPFILL_SQL,
    "scd2_order_priority": _SCD2_SQL,
    "graph_triangles": _TRIANGLES_SQL,
}


def _weighted_median_over(
    df: DataFrame, key: str, val: str, cnt: str, out: str
) -> DataFrame:
    """Append column ``out`` = exact interpolated median of ``val``
    weighted by ``cnt``, per ``key``, computed as WINDOW expressions
    over the (already distinct-value) counts frame — the same
    bracketing-rank formula as relational._exact_group_quantiles
    (pos = 0.5 * (n - 1) over the expanded multiset; v_lo/v_hi are the
    distinct values whose cumulative-count span covers ranks lo and
    lo + 1), numerically identical to F.percentile(.., 0.5). Keeping
    the median as a per-row column (instead of a grouped frame joined
    back) makes the caller's pipeline LINEAR: the counts frame is
    consumed exactly once, so nothing recomputes and nothing needs a
    persist."""
    w = Window.partitionBy(key).orderBy(val)
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    m = df.select(
        "*",
        F.col(val).cast("double").alias("_wv"),
        F.sum(cnt).over(w).alias("_cum"),
        F.sum(cnt).over(wf).alias("_n"),
    )
    pos = "(0.5 * (_n - 1))"
    lo = f"CAST(floor{pos} AS BIGINT)"
    m2 = m.select(
        "*",
        F.max(
            F.expr(f"CASE WHEN _cum - {cnt} <= {lo} AND _cum > {lo} THEN _wv END")
        )
        .over(wf)
        .alias("_lo"),
        F.max(
            F.expr(
                f"CASE WHEN _cum - {cnt} <= {lo} + 1 AND _cum > {lo} + 1"
                " THEN _wv END"
            )
        )
        .over(wf)
        .alias("_hi"),
        F.expr(pos).alias("_pos"),
    )
    keep = df.columns
    return m2.select(
        *keep,
        F.expr(
            "_lo + (CASE WHEN _pos > floor(_pos) THEN (_hi - _lo) *"
            " (_pos - floor(_pos)) ELSE 0.0 END)"
        ).alias(out),
    )


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median / MAD (median
    absolute deviation) over exact integer cents, flagging values
    beyond 3 MADs — the outlier rule that, unlike z-scores, a single
    extreme value cannot poison.

    Plan (r9 rewrite): ONE map-combinable shuffle compresses the fact
    stream to distinct (event_type, cents) value counts (~17.8k rows
    at the derived sf1 vs 1M input rows); every later stage — both
    weighted medians, the deviation re-group, the outlier flags —
    runs on that tiny frame. The medians are window-computed columns
    (_weighted_median_over), so the whole query is one LINEAR
    pipeline: no broadcast rounds re-scanning the fact table (the r8
    shape scanned events three times — once per percentile pass plus
    the final agg; 1.17 -> ~0.45s at sf1). Numerically identical to
    percentile(): the bracketing-rank interpolation over weighted
    counts is the same formula, and cents are exact integers so the
    medians land on k or k.5 in both engines. At 100 TB the shuffle
    carries distinct values only — the same envelope as
    relational._exact_group_quantiles."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    cnts = e.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).alias("_c")
    )
    with_med = _weighted_median_over(cnts, "event_type", "cents", "_c", "med_cents")
    devc = (
        with_med.withColumn(
            "abs_dev", F.abs(F.col("cents") - F.col("med_cents"))
        )
        .groupBy("event_type", "abs_dev")
        .agg(F.sum("_c").alias("_c"), F.min("med_cents").alias("med_cents"))
    )
    with_mad = _weighted_median_over(
        devc, "event_type", "abs_dev", "_c", "mad_cents"
    )
    return with_mad.groupBy("event_type").agg(
        F.min("med_cents").alias("med_cents"),
        F.min("mad_cents").alias("mad_cents"),
        F.sum("_c").cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("abs_dev") > 3 * F.col("mad_cents"), F.col("_c")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("n_outliers"),
    )


QUERIES["events_anomaly_mad"] = events_anomaly_mad

ORACLES["events_anomaly_mad"] = """
    WITH e AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    med AS (
        SELECT event_type, quantile_cont(cents, 0.5) AS med_cents
        FROM e GROUP BY 1
    ),
    dev AS (
        SELECT e.event_type, med.med_cents,
               abs(e.cents - med.med_cents) AS abs_dev
        FROM e JOIN med USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(abs_dev, 0.5) AS mad_cents
        FROM dev GROUP BY 1
    )
    SELECT dev.event_type,
           min(dev.med_cents) AS med_cents,
           min(mad.mad_cents) AS mad_cents,
           count(*) AS n,
           CAST(sum(CAST(dev.abs_dev > 3 * mad.mad_cents AS INT)) AS BIGINT)
               AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY 1
"""


# ------------------------------------------------------- attribution


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the same
    user's most recent click at-or-before it — the event-to-event
    as-of join (operators/asof.py union+window plan: ONE shuffle on
    user_id, running-value state per key, never the |purchases| x
    |clicks| inequality explosion). Emits exact integer microsecond
    epochs and the attribution gap; purchases with no preceding click
    keep NULLs (first-touch-less traffic, a real segment). Only the
    click TIMESTAMP is emitted, so the result is deterministic even if
    two clicks ever tie on ts."""
    from ..operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    j = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_ts"],
        direction="backward",
    )
    # ts is TIMESTAMP_NTZ; the session timezone is pinned to UTC
    # (session.py), so the cast to instant-typed TIMESTAMP is the
    # identity mapping epoch_us(naive) — matching DuckDB's epoch_us.
    p_us = F.unix_micros(F.col("ts").cast("timestamp"))
    c_us = F.unix_micros(F.col("click_ts_asof").cast("timestamp"))
    return j.select(
        "event_id",
        "user_id",
        p_us.alias("purchase_us"),
        c_us.alias("click_us"),
        (p_us - c_us).alias("gap_us"),
    )


QUERIES["events_attribution"] = events_attribution
ORACLES["events_attribution"] = """
    SELECT p.event_id, p.user_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us,
           CAST((SELECT epoch_us(max(c.ts)) FROM events c
                 WHERE c.event_type = 'click'
                   AND c.user_id = p.user_id
                   AND c.ts <= p.ts) AS BIGINT) AS click_us,
           CAST(epoch_us(p.ts) AS BIGINT)
               - CAST((SELECT epoch_us(max(c.ts)) FROM events c
                       WHERE c.event_type = 'click'
                         AND c.user_id = p.user_id
                         AND c.ts <= p.ts) AS BIGINT) AS gap_us
    FROM events p
    WHERE p.event_type = 'purchase'
"""


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order path mining: the 10 most common 3-step event-type
    paths across all users — the upgrade from events_transition_matrix
    (first-order) that distinguishes view>click>purchase from
    view>click>error journeys. Trigram extraction is TWO lead()s over
    one user-ordered window (O(1) state per row — never a per-user
    collect_list buffer, which at 100 TB would hold a power-user's
    whole history in one aggregation buffer); counts shuffle on the
    path string, and the top-10 is TakeOrderedAndProject. (ts,
    event_id) is a total order so every trigram is deterministic."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        e.select(
            "user_id",
            "event_type",
            F.lead("event_type", 1).over(w).alias("t1"),
            F.lead("event_type", 2).over(w).alias("t2"),
        )
        .where(F.col("t2").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t1", "t2").alias("path")
        )
    )
    return (
        tri.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(10)
    )


QUERIES["events_top_paths"] = events_top_paths
ORACLES["events_top_paths"] = """
    WITH tri AS (
        SELECT event_type
               || '>' || lead(event_type, 1) OVER w
               || '>' || lead(event_type, 2) OVER w AS path,
               lead(event_type, 2) OVER w AS t2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n
    FROM tri WHERE t2 IS NOT NULL
    GROUP BY path
    ORDER BY n DESC, path ASC
    LIMIT 10
"""


def events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-concurrency sweep line: per-user sessions (30-min gap
    rule, the events_sessionization convention) clipped to days by
    sessionizing within (user, day), turned into +1/-1 boundary
    events, swept with a running sum per day — max concurrent
    sessions and session count per day. The capacity-planning shape
    (peak simultaneous load) Spark has no built-in for.

    Determinism: at equal timestamps starts order before ends
    (d DESC), and the per-day MAX of the running sum is invariant to
    any residual tie permutation (within an equal-(t, d) block the
    cumulative only climbs or only falls, so the block-end value —
    where the max lives — is permutation-independent); both engines
    therefore agree exactly. Scale: both windows partition by day (or
    user-day) — no global ordering anywhere.

    Plan (r9): session boundaries are derived PER ROW in the single
    sessionize window pass — a row opens a session iff the gap rule
    fires (new_s), and closes one iff the NEXT row in its (user, day)
    frame opens a session (or there is none); events are time-ordered
    within the frame, so that closing row's ts IS the session's
    max(ts). Both +1/-1 deltas then come out of one explode. The r8
    shape materialized sessions via groupBy(user, day, sid) and
    unionAll'ed that frame with itself — duplicating the entire
    sessionize lineage (the repo's recurring multi-consumer recompute
    class: 1.05 -> ~0.65s at sf1) and paying an extra aggregation
    exchange."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "value", F.to_date("ts").alias("day")
    )
    wu = Window.partitionBy("user_id", "day").orderBy("ts", "value")
    prev = F.lag("ts").over(wu)
    flagged = e.withColumn(
        "new_s",
        F.when(
            prev.isNull()
            | (F.col("ts") >= prev + F.expr("INTERVAL 30 MINUTES")),
            1,
        ).otherwise(0),
    ).withColumn("next_new", F.lead("new_s").over(wu))
    empty = F.expr("CAST(array() AS array<struct<t:timestamp_ntz,d:int>>)")
    deltas = flagged.select(
        "day",
        F.explode(
            F.concat(
                F.when(
                    F.col("new_s") == 1,
                    F.array(F.struct(F.col("ts").alias("t"), F.lit(1).alias("d"))),
                ).otherwise(empty),
                F.when(
                    F.coalesce(F.col("next_new"), F.lit(1)) == 1,
                    F.array(
                        F.struct(F.col("ts").alias("t"), F.lit(-1).alias("d"))
                    ),
                ).otherwise(empty),
            )
        ).alias("ev"),
    ).select("day", F.col("ev.t").alias("t"), F.col("ev.d").alias("d"))
    wd = (
        Window.partitionBy("day")
        .orderBy(F.col("t").asc(), F.col("d").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        deltas.withColumn("run", F.sum("d").over(wd))
        .groupBy("day")
        .agg(
            F.max("run").cast("int").alias("max_concurrent"),
            F.sum(F.when(F.col("d") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_sessions"),
        )
    )


QUERIES["events_concurrency"] = events_concurrency
ORACLES["events_concurrency"] = """
    WITH flagged AS (
        SELECT user_id, CAST(ts AS DATE) AS day, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR ts >= lag(ts) OVER w + INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE)
                     ORDER BY ts, value)
    ), numbered AS (
        SELECT user_id, day, ts,
               sum(new_s) OVER (PARTITION BY user_id, day ORDER BY ts, value
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ), sess AS (
        SELECT user_id, day, sid, min(ts) AS s, max(ts) AS e
        FROM numbered GROUP BY user_id, day, sid
    ), deltas AS (
        SELECT day, s AS t, 1 AS d FROM sess
        UNION ALL
        SELECT day, e AS t, -1 AS d FROM sess
    ), swept AS (
        SELECT day, d,
               sum(d) OVER (PARTITION BY day ORDER BY t ASC, d DESC
                            ROWS UNBOUNDED PRECEDING) AS run
        FROM deltas
    )
    SELECT day,
           CAST(max(run) AS INT) AS max_concurrent,
           CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sessions
    FROM swept GROUP BY day
"""
