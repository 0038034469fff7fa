"""Iterative graph algorithms beyond connected components
(operators/dedup.connected_components): PageRank in EXACT fixed-point
integer arithmetic.

Additive to the reference (its kernels are k-mer reductions,
src/main.cpp:55-73); together with connected components this gives
the engine the two canonical iterative-message-passing shapes —
min-label propagation and degree-normalized rank flow.

Why fixed-point: float PageRank is not bit-reproducible across
engines (sum order), forcing rows-only checks. With ranks scaled to
1e12 integers, per-edge contributions computed with truncating
integer division (Spark ``DIV`` == DuckDB ``//`` on non-negatives)
and the damping factor applied as ``(85 * x) DIV 100``, every
iteration is deterministic to the last bit on both engines.

Scale posture:
- Each iteration is ONE shuffle: edges join ranks on src (both sides
  hash-partitioned on the node id — co-partitioned across rounds),
  partial-aggregated map-side on dst. State is |V| rank rows +
  |E| edge rows, the same as any vertex-centric framework.
- Iterations are FIXED (declared queries use 3); convergence-loop
  callers should localCheckpoint per round exactly like
  connected_components does.
- Truncation leaks ≤ deg(u) rank units per node per round (bounded
  by |E| × 1e-12 of total mass) — deterministic on both engines, so
  the oracle agrees bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RANK_SCALE = 1_000_000_000_000  # 1e12


def _pagerank_replay(
    pdf, spark, iters: int, damping_pct: int, dangling: str = "none"
) -> DataFrame:
    """Driver-side numpy replay of the exact fixed-point iteration
    over an already-collected (src, dst) frame — bit-identical to
    :func:`pagerank_fixedpoint` (exact integer arithmetic both ways),
    whose ``dangling`` it follows. PageRank's one driver-local tier,
    the bounded trade graph (queries/relational.graph_pagerank), runs
    it; :func:`pagerank_fixedpoint` itself is always distributed."""
    import numpy as np

    if not len(pdf):
        return spark.createDataFrame([], "node_id long, rank_e12 long")
    src = pdf["src"].to_numpy(dtype=np.int64)
    dst = pdf["dst"].to_numpy(dtype=np.int64)
    # hash-based factorize, NOT np.unique(return_inverse): unique sorts
    # the 2|E| concat (O(E log E) allocation-heavy), measured 0.2-7s on
    # the sf0.1 trade graph depending on ambient CPU contention — the
    # r9 bench's unexplained pagerank variance lived here. factorize is
    # one linear hash pass (~30ms, stable under load); node order is
    # appearance order, which no downstream step depends on (deg/flow
    # index by compacted id, output rows are set-compared).
    import pandas as pd

    inv, nodes = pd.factorize(np.concatenate([src, dst]), sort=False)
    inv = inv.astype(np.int64, copy=False)
    nodes = np.asarray(nodes, dtype=np.int64)
    si, di = inv[: len(src)], inv[len(src):]
    deg = np.bincount(si, minlength=len(nodes)).astype(np.int64)
    safe_deg = np.where(deg == 0, 1, deg)  # deg-0 nodes are never srcs
    # sort the edge list by dst ONCE so each round's flow accumulation
    # is a contiguous reduceat (exact int64), not an unbuffered
    # np.add.at scatter — measured 6x on the per-round accumulate
    order = np.argsort(di, kind="stable")
    si_s = si[order]
    dst_uniq, starts = np.unique(di[order], return_index=True)
    rank = np.full(len(nodes), RANK_SCALE, dtype=np.int64)
    base = (100 - damping_pct) * RANK_SCALE // 100
    d = damping_pct
    is_dangling = deg == 0
    n_nodes = len(nodes)
    for _ in range(iters):
        contrib = rank[si_s] // safe_deg[si_s]
        flow = np.zeros(len(nodes), dtype=np.int64)
        if len(starts):
            flow[dst_uniq] = np.add.reduceat(contrib, starts)
        if dangling == "redistribute":
            # exact integer share: sum of dangling rank DIV |V|,
            # added to every node's inflow BEFORE damping — the same
            # expression the distributed loop and the oracle evaluate.
            # Python-int sum when the int64 product bound could wrap
            # (np.sum would overflow silently).
            dr = rank[is_dangling]
            if len(dr) and int(dr.max()) > (2**63 - 1) // len(dr):
                dang = sum(int(x) for x in dr)
            else:
                dang = int(dr.sum()) if len(dr) else 0
            share = dang // n_nodes
            # same exactness escape as the dangling sum and the d*flow
            # product: route through Python ints when flow.max()+share
            # could exceed int64 (the later d*flow guard then takes
            # its big-int path too, since object arrays fail its
            # int64 comparison threshold by construction)
            if share and int(flow.max(initial=0)) > (2**63 - 1) - share:
                flow = np.array([int(f) + share for f in flow], dtype=object)
            else:
                flow = flow + share
        if int(flow.max(initial=0)) > (2**63 - 1) // d:
            # keep exactness past int64 on the d*flow intermediate
            rank = np.array(
                [base + (d * int(f)) // 100 for f in flow], dtype=np.int64
            )
        else:
            rank = base + (d * flow) // 100
    import pandas as pd

    out = pd.DataFrame({"node_id": nodes, "rank_e12": rank.astype(np.int64)})
    return spark.createDataFrame(out, "node_id long, rank_e12 long")


def pagerank_fixedpoint(
    edges: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
    dangling: str = "none",
    node_deg: DataFrame | None = None,
) -> DataFrame:
    """PageRank over DIRECTED ``edges(src, dst)`` (undirected graphs:
    pass the union of both directions). Returns (node_id, rank_e12)
    after ``iters`` rounds from a uniform 1e12 start. Nodes are the
    union of srcs and dsts.

    ``dangling`` (r11 — closes the r10 verdict's directed-graph
    limitation): ``"none"`` drops the out-flow of zero-out-degree
    nodes each round — correct for undirected/symmetric edge sets,
    where every node has out-degree >= 1 and the branch never fires;
    ``"redistribute"`` adds the canonical dangling-mass term — each
    round the summed rank of deg-0 nodes is shared uniformly
    (``dang DIV |V|``, exact truncating integer arithmetic) into every
    node's inflow before damping, so total mass is conserved up to
    truncation on directed web-style graphs. Identical expressions in
    the distributed loop, the local replay, and
    :func:`pagerank_oracle_sql` (``dangling=True``).

    ``node_deg``: optional caller-supplied ``(node_id, deg)`` frame —
    e.g. a write-once node layout derived from the same edge relation
    (queries/relational._tradegraph_node_layout). When given, the
    |E|-row node/degree aggregation is skipped entirely and only the
    |V|-row frame repartitions+checkpoints (measured: the aggregation
    was a full extra pass over the 117M-row sf10 edge relation per
    declaration). CONTRACT: must hold exactly the node universe and
    out-degrees of ``edges`` — derive it from the same materialized
    relation, never hand-build it (the r13 layout-lifecycle lesson)."""
    # Materialize the raw edge relation ONCE, HASH-PARTITIONED ON src:
    # callers pass edges as an arbitrary lineage (here a join+distinct
    # over the fact table) and every iteration re-consumes it — without
    # the checkpoint the whole derivation re-executes per round. The
    # explicit repartition(P, src) before the checkpoint is the r10
    # at-scale fix: localCheckpoint captures the physical plan's output
    # partitioning, so EVERY round's contribution join sees the edge
    # side already clustered on its key and inserts no exchange for it
    # — the graph is shuffled once per run, not once per round. (The r9
    # shape let the planner broadcast the |V|-row rank frame per round:
    # three driver collect+rebroadcast cycles of the full rank vector,
    # the measured sf10 memory-churn source — 112s min / 202s median —
    # and a driver-unscalable plan at real |V|.) deg stays FOLDED INTO
    # THE NODE FRAME (r7): the rank frame carries (node_id, deg, rank),
    # so the contribution join reads deg from the |V|-row side.
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # (A bucketed-table edge layout was measured as an alternative to
    # this explicit repartition — scanning 32 unsplittable bucket
    # files checkpointed SLOWER than split parquet feeding a pipelined
    # exchange on the 117M-row sf10 relation; see
    # queries/relational._tradegraph_edge_layout.)
    ed = edges.repartition(n_part, "src").localCheckpoint()
    # one aggregation yields BOTH the node universe and out-degrees:
    # dst-only nodes get deg=0 (never probed — the contribution join
    # keys on src, and every src has deg >= 1 by construction). The
    # repartition(P, node_id) pins HashPartitioning(node_id, P) into
    # the checkpoint (the groupBy's own partitioning could be AQE-
    # coalesced to a different count), so BOTH per-round joins are
    # exchange-free: ranks flows out of the nd-side of the carry join
    # still clustered on node_id, matching ed's src clustering.
    if node_deg is not None:
        # caller-supplied node/degree frame (see docstring contract):
        # |V|-row repartition+checkpoint only, no |E|-row aggregation;
        # the node_id clustering keeps the carry join exchange-free
        nd = node_deg.repartition(n_part, "node_id").localCheckpoint()
    else:
        nd = (
            ed.select(F.col("src").alias("node_id"), F.lit(1).alias("is_out"))
            .unionAll(
                ed.select(F.col("dst").alias("node_id"), F.lit(0).alias("is_out"))
            )
            .groupBy("node_id")
            .agg(F.sum("is_out").cast("bigint").alias("deg"))
            .repartition(n_part, "node_id")
            .localCheckpoint()
        )
    ranks = nd.select(
        "node_id", "deg", F.lit(RANK_SCALE).cast("bigint").alias("rank")
    )
    redistribute = dangling == "redistribute"
    if redistribute:
        # |V| is a loop constant; nd is checkpointed so this count is
        # one cheap cached-RDD job
        n_nodes = nd.count()
    for i in range(iters):
        # Under redistribution ranks_{i-1} gains a SECOND consumer
        # (the dangling-mass scalar below) — checkpoint it per round
        # so its lineage stays linear instead of doubling per
        # iteration (the repo's multi-consumer re-execution class;
        # round 0's ranks is a pure projection of the checkpointed nd,
        # cheap to consume twice as-is).
        cur = (
            ranks.localCheckpoint() if redistribute and i > 0 else ranks
        )
        # shuffle_hash on the |V|-row side: co-partitioned build, no
        # sort of the |E| stream, and — unlike broadcast — no driver
        # collect of the rank vector; the ONLY per-round exchange left
        # is the map-side-combined flow aggregation on dst. The
        # per-source share rank DIV deg is projected on the |V|-row
        # side BEFORE the join (r14): computed per edge row it was |E|
        # integer divisions per round for values constant per src.
        contrib = (
            ed.join(
                cur.select(
                    "node_id",
                    # deg-0 sinks never match the src-keyed join, but
                    # the hoisted projection evaluates for EVERY node
                    # — guard the ANSI division they were previously
                    # shielded from by never appearing as a src
                    F.expr(
                        "CASE WHEN deg = 0 THEN 0L ELSE rank DIV deg END"
                    ).alias("_w"),
                ).hint("shuffle_hash"),
                F.col("src") == F.col("node_id"),
            )
            .select("dst", F.col("_w").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("flow"))
        )
        if redistribute:
            # canonical dangling-mass term: summed rank of deg-0
            # nodes, shared uniformly (exact truncating DIV). One-row
            # frame broadcast into the carry join — the crossJoin
            # class this repo allows (broadcast 1-row totals).
            dang = cur.where(F.col("deg") == 0).agg(
                F.coalesce(F.sum("rank"), F.lit(0))
                .cast("bigint")
                .alias("_dang")
            )
            inflow = f"(coalesce(flow, 0) + (_dang DIV {n_nodes}))"
        else:
            inflow = "coalesce(flow, 0)"
        # join against the CHECKPOINTED nd, not the previous ranks
        # frame: ranks_{i-1} feeding both the contribution join and
        # the carry-forward side would replay its lineage twice per
        # round (the repo's recurring multi-consumer re-execution bug
        # class) and double the plan per iteration
        carried = nd.join(
            contrib.hint("shuffle_hash"), nd.node_id == contrib.dst, "left"
        )
        if redistribute:
            carried = carried.crossJoin(F.broadcast(dang))
        ranks = carried.select(
            "node_id",
            "deg",
            (
                F.expr(f"({100 - damping_pct} * {RANK_SCALE}) DIV 100")
                + F.expr(f"({damping_pct} * {inflow}) DIV 100")
            ).cast("bigint").alias("rank"),
        )
    return ranks.select("node_id", F.col("rank").alias("rank_e12"))


def pagerank_oracle_sql(
    edges_sql: str,
    iters: int = 3,
    damping_pct: int = 85,
    dangling: bool = False,
) -> str:
    """DuckDB replay of :func:`pagerank_fixedpoint` over the edge set
    produced by ``edges_sql`` (must yield columns src, dst).
    ``dangling=True`` replays the ``dangling="redistribute"`` variant
    with the identical truncating integer arithmetic."""
    d = damping_pct
    # Under redistribution each r{it} gains a SECOND consumer (the
    # dangling scalar g{it+1} as well as f{it+1}); DuckDB inlines
    # plain CTEs, so without MATERIALIZED the whole chain re-evaluates
    # 2^iters times (measured 4.7s Spark vs ~260s oracle at the
    # derived sf1 before the hint — the SQL twin of the loop's
    # per-round localCheckpoint).
    mat = " MATERIALIZED" if dangling else ""
    steps = [
        f"edges AS{mat} ({edges_sql})",
        "nodes AS (SELECT src AS node_id FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        f"r0 AS{mat} (SELECT node_id, CAST({RANK_SCALE} AS BIGINT) AS rank FROM nodes)",
    ]
    prev = "r0"
    for it in range(1, iters + 1):
        if dangling:
            steps.append(
                f"""g{it} AS (
                    SELECT CAST(coalesce(sum(r.rank), 0) AS BIGINT) AS dang
                    FROM {prev} r LEFT JOIN deg d ON r.node_id = d.src
                    WHERE d.src IS NULL
                )"""
            )
            inflow = f"(coalesce(f.flow, 0) + CAST(g.dang // nn.n AS BIGINT))"
            extra = f" CROSS JOIN g{it} g CROSS JOIN nn"
        else:
            inflow = "coalesce(f.flow, 0)"
            extra = ""
        steps.append(
            f"""f{it} AS (
                SELECT e.dst, CAST(sum(r.rank // d.deg) AS BIGINT) AS flow
                FROM edges e
                JOIN deg d ON e.src = d.src
                JOIN {prev} r ON e.src = r.node_id
                GROUP BY e.dst
            ), r{it} AS{mat} (
                SELECT n.node_id,
                       CAST(({100 - d} * {RANK_SCALE}) // 100
                            + ({d} * {inflow}) // 100 AS BIGINT) AS rank
                FROM nodes n LEFT JOIN f{it} f ON n.node_id = f.dst{extra}
            )"""
        )
        prev = f"r{it}"
    return f"""
        WITH {", ".join(steps)}
        SELECT node_id, rank AS rank_e12 FROM {prev}
    """
