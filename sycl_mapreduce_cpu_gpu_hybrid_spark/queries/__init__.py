"""Declared query inventory — the engine's user-facing query surface.

Each submodule exposes ``QUERIES`` (name -> fn(spark, sf_dir) ->
DataFrame, written with the DataFrame API so Catalyst plans them) and
``ORACLES`` (name -> ANSI SQL DuckDB runs over the same parquet for the
driver's correctness gate; queries without an oracle get the weaker
rows-only check). Names are unique across submodules.

AUTHORING CONVENTION for hash-bearing outputs (enforced by the strict
mode of tests/parity.py — see its docstring for the two rounds of
evidence behind each rule):

1. Prefer strings, integers (incl. BIGINT sums/counts), dates, and
   timestamps — these hash identically across Spark and DuckDB.
2. Never emit DECIMAL(p,s) in an oracled query: the driver's value
   hash normalizes doubles consistently across its two fetch paths
   but not Decimal objects (round 3: all six decimal-cast queries
   hash-failed; every decimal-free query passed).
3. Doubles are acceptable only as ``round(x, n)`` where the rounded
   value is bit-identical on both engines (strict parity checks raw
   ``repr``). Sums of parquet doubles round stably; *averages and
   quantiles of integers* do not — emit exact integer fixed-point
   instead, computed with integer arithmetic in BOTH engines, e.g.
   Spark ``(sum(x) * 10000) DIV nullif(count(x), 0)`` == DuckDB
   ``CAST((sum(x) * 10000) // nullif(count(x), 0) AS BIGINT)``
   (column alias suffix ``_e4`` marks the 1e4 scale).
4. Alias every computed column identically in the DataFrame code and
   the oracle SQL — the driver sorts columns by name before hashing.
5. Any fixed-point product whose multiplicand is an UNBOUNDED SUM
   (revenue totals, cumulative sums, n*sum_x2 moments) must run in
   DECIMAL(38,0) on the Spark side and HUGEINT in the oracle —
   ``CAST((CAST(big AS DECIMAL(38,0)) * 10000) DIV total AS BIGINT)``
   vs ``CAST((CAST(big AS HUGEINT) * 10000) // total AS BIGINT)`` —
   floor-division agrees and the emitted column stays BIGINT. Plain
   bigint * 1e4 overflows int64 once the sum passes ~9.2e14 (r13:
   q14 crashed live at the 10x fixture; pareto and the moments guard
   were the same class). Per-group bounded sums (counts, per-doc
   bits) keep plain bigint.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import _one_partition_floor, _source_stamp
from . import behavioral, extensions, kmerq, llm, relational, scalars, tpch

_MODULES = [kmerq, relational, scalars, llm, extensions, behavioral, tpch]


# Queries with the thinnest driver evidence go FIRST in declaration
# order: a driver that samples a bounded prefix of the inventory must
# cover these before re-sampling queries already green in prior
# CORRECTNESS_r*.json rounds. Updated per round from the driver logs.
_GATE_PRIORITY = [
    # --- touched this round first: the queries whose code the
    # one-path-per-operator change edits, read off the call graph
    # (winnowing_fingerprints, embedding_lsh_pairs,
    # stream_tumbling_to_table, stateful_running_max,
    # _exact_group_quantiles, and every caller of _ngram_rep_core:
    # the pair query, the pair-graph layout's two consumers and the
    # truth-pairs layout's two recall certificates).
    "text_fingerprint",
    "dedup_embedding_pairs",
    "stream_tumbling_counts",
    "stream_running_max",
    "agg_median",
    "agg_median_approx",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "corpus_curate",
    "dedup_minhash_pairs",
    "dedup_simhash_pairs",
    # --- then oldest-green:
    # --- r15 rotation (r14 verdict task 6, the standing no-stale-green
    # invariant): replaying CORRECTNESS_r01-r14, the 26 names below
    # have latest green evidence from r12 (two rounds stale after the
    # r13/r14 samples rotated past them) and come first; the 50
    # r13-latest names follow. A 50-name gate sample covers all 26
    # plus the oldest 24 of the r13 cohort; after r15 no name's
    # latest green should predate r13.
    "events_histogram",
    "events_rolling_7d",
    "events_rolling_distinct",
    "events_top_paths",
    "events_transition_matrix",
    "events_zorder_key",
    "graph_triangles",
    "join_anti",
    "join_exists_correlated",
    "join_point_in_time",
    "join_runtime_filtered",
    "merge_upsert",
    "orders_yoy_growth",
    "pareto_revenue",
    "scd2_order_priority",
    "stream_cdc_upsert",
    "text_bigram_lm",
    "text_chunk_sliding",
    "text_inverted_index",
    "text_unigram_surprise",
    "tpch_q14_promo_share",
    "tpch_q18_volume_customers",
    "tpch_q3_priority",
    "tpch_q5_region_volume",
    "tpch_q6_forecast_revenue",
    "window_distribution_pack",
    # r13 cohort (oldest-first coverage for the sample tail):
    "agg_approx_distinct",
    "agg_count_distinct",
    "agg_pricing_summary",
    "agg_quantile_bands",
    "agg_stats_moments",
    "array_pack",
    "basket_pairs",
    "corpus_split",
    "date_map_pack",
    "dedup_exact",
    "dedup_minhash_portable",
    "embedding_kmeans",
    "events_json_extract",
    "events_sessionization",
    "events_time_agg",
    "filter_project_cast",
    "graph_pagerank",
    "graph_pagerank_directed",
    "join_bucketed_colocated",
    "join_full_outer",
    "join_inner_agg",
    "join_left_count",
    "join_multi_broadcast",
    "join_partition_pruned",
    "join_range_band",
    "join_scalar_subquery",
    "join_semi",
    "kmer_count_k4",
    "multimodal_audio_stats",
    "multimodal_decode_resize",
    "multimodal_frame_sample",
    "orders_rfm",
    "relational_unpivot",
    "setop_pack",
    "skew_salted_agg",
    "source_csv_roundtrip",
    "source_json_roundtrip",
    "source_orc_roundtrip",
    "stream_interval_join",
    "stream_static_enrich",
    "text_repetition",
    "udtf_top_words",
    "window_frames_pack",
    "window_latest_order",
    "window_rank_parts",
]



# ---------------------------------------------------------------------------
# Declared-plan cache (prepared-statement analog).
#
# Declaring a query from Python is pure plan construction — every
# Column/DataFrame method is a py4j socket roundtrip, measured at
# 0.07-1.4s per query (40% of the whole sf0.1 bench wall was
# re-declaration overhead, none of it engine work). A SQL engine parses
# a statement once and executes the prepared plan repeatedly; this
# cache is that, for the DataFrame API: the declared (lazy, immutable)
# frame is memoized per (application, fixture dir, fixture stat
# fingerprint, the session's one-partition read floor, query name; the
# floor decides at declaration whether a tiny scan is coalesced, see
# sources.tables.read_parquet), and every materialization still executes
# the FULL physical pipeline — scans, shuffles, UDFs, sinks.
#
# Self-auditing purity guard: the first declaration runs inside a job
# group, and if it launched ANY Spark job (iterative convergence loops,
# eager localCheckpoints, driver collects, build-once roundtrip writes)
# the frame is NOT cached — so work that genuinely belongs to the query
# is re-measured on every invocation, never hidden. Streaming queries
# (stream_*) are excluded by name as well: their declaration runs the
# restart-resume drain against the durable checkpoint, which must stay
# on the clock even when it drains nothing.
# ---------------------------------------------------------------------------

_PLAN_CACHE: dict[tuple, DataFrame] = {}
_DECL_SEQ = [0]  # unique probe job-group per declaration attempt


def _prepared(name: str, fn: Callable) -> Callable:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        sc = spark.sparkContext
        key = (
            sc.applicationId,
            sf_dir,
            _source_stamp(sf_dir),
            _one_partition_floor(spark),
            name,
        )
        hit = _PLAN_CACHE.get(key)
        if hit is not None:
            return hit
        # group id unique PER ATTEMPT: the status tracker returns every
        # job ever tagged with a group, so a reused id would make one
        # cold-path job (e.g. the first footer read) look like an
        # eager declaration forever
        _DECL_SEQ[0] += 1
        group = f"_decl_{name}_{_DECL_SEQ[0]}"
        prior = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            df = fn(spark, sf_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prior)
        if not name.startswith("stream_") and not sc.statusTracker().getJobIdsForGroup(
            group
        ):
            _PLAN_CACHE[key] = df
        return df

    wrapped.__name__ = f"prepared_{name}"
    wrapped.__doc__ = fn.__doc__
    wrapped.__wrapped__ = fn
    return wrapped


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Declared queries, ordered PRIORITY → ORACLED → ROWS-ONLY: the
    never/least-gated names precede everything, then every query with a
    DuckDB oracle precedes the rows-only remainder, so a driver that
    evaluates a bounded prefix of the inventory always covers the
    weakest-evidence queries and the full value-hash surface first.
    Each callable is wrapped in the declared-plan cache above."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        for name, fn in mod.QUERIES.items():
            if name in out:
                raise ValueError(f"duplicate query name {name!r}")
            out[name] = _prepared(name, fn)
    oracled = all_oracles()
    prio = [k for k in _GATE_PRIORITY if k in out]
    rest = [k for k in out if k not in set(prio)]
    ordered = (
        prio
        + [k for k in rest if k in oracled]
        + [k for k in rest if k not in oracled]
    )
    return {k: out[k] for k in ordered}


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(mod.ORACLES)
    return out
