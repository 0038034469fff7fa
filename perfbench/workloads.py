"""The benchmark's workloads, frozen.

Every query name is a key of ``__spark_entry__.queries()``. The lists
are fixed here so that two commits run exactly the same calls; change
them only in a change that redefines the benchmark. Why each workload
exists is said once, in BENCHMARK.json.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...] = ()
    kmer_ks: tuple[int, ...] = ()  # kmer_count -> kmer_sink calls, one per k
    genome: tuple[int, int] = (0, 0)  # (chromosomes, bases each)


FLOOR_MIX = Workload(
    name="floor_mix",
    queries=(
        "filter_project_cast",
        "topk_orders",
        "math_pack",
        "join_semi",
        "join_inner_agg",
        "tpch_q3_priority",
        "window_rank_parts",
        "events_json_extract",
        "text_token_stats",
        "kmer_count_k4",
        "stream_parquet_sink",
    ),
)

HEAVY_MIX = Workload(
    name="heavy_mix",
    queries=(
        "graph_pagerank",  # within_budget gate; its driver-local tier runs at declaration
        "orders_rfm",  # within_budget gate
        "udtf_top_words_arrow",  # Arrow UDTF: the Python boundary
    ),
    kmer_ks=(8, 64),
    genome=(8, 100_000),
)

WORKLOADS = {w.name: w for w in (FLOOR_MIX, HEAVY_MIX)}
