"""Per-layer numbers of a traced run.

Every value is taken around the benchmark's own calls into a module's
public functions, or read back from Spark's status stores after the
call. Unless its comment says otherwise a value is a mean per call of
the traced loop. The arrow in each comment names the end-to-end metric
the value should move, and on which workload.
"""

from __future__ import annotations

import json
import os

from tracing import self_times, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def units() -> dict[str, str]:
    """name -> unit of every per-layer metric, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


LAYERS = ("bench", "queries", "operators", "sources", "plans", "spark")


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def per_layer(run, setup_counts: dict) -> dict:
    spans = run.tracer.spans
    counts = run.tracer.counts
    traced = [s for s in run.samples if s["phase"] == "traced" and s["ok"]]
    untraced = [s for s in run.samples if s["phase"] == "untraced" and s["ok"]]
    n = max(1, len(traced))
    jobs = [j for s in traced for j in s.get("jobs", [])]
    decl_windows = ("queries.decl", "operators.decl")
    sink_jobs = [
        [j for j in s.get("jobs", []) if j.get("window") not in decl_windows] for s in traced
    ]
    cores = run.env["cores"]

    def in_setup(s):
        return isinstance(s["call"], str) and s["call"].startswith("warmup:")

    def in_traced(s):
        return isinstance(s["call"], str) and s["call"].startswith("traced:")

    self_s = self_times(spans)
    layer_self = dict.fromkeys(LAYERS, 0.0)
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        if in_traced(s) and layer in layer_self:
            layer_self[layer] += self_s[s["id"]]

    plan_s, gap_s = [], []
    for s, sj in zip(traced, sink_jobs):
        wall = s["sink_end"] - s["sink_start"]
        if sj:
            plan_s.append(min(j["start"] for j in sj) - s["sink_start"])
            gap_s.append(wall - union_length(
                [(max(j["start"], s["sink_start"]), min(j["end"] or j["start"], s["sink_end"]))
                 for j in sj]
            ))
        else:
            gap_s.append(wall)

    combine = {}
    for k in run.workload.kmer_ks:
        calls = [s for s in traced if s.get("k") == k]
        occurrences = sum(run.env["kmers_per_call"][s["call"]] for s in calls)
        written = sum(j["shuffle_write_records"] for s in calls for j in s.get("jobs", []))
        combine[k] = written / occurrences if occurrences else 0.0

    gate_calls = counts["plans.gate_calls"]
    hits = [s["plan_cache_hit"] for s in traced if "plan_cache_hit" in s]
    # The arrow names the end-to-end metric each value should move, and on
    # which workload.
    values = {
        # -> setup_s, both: the session start in set-up
        "session.start_s": sum(
            s["end"] - s["start"] for s in spans if s["name"] == "session.start"
        ),
        # -> setup_s, both: totals over set-up
        "sources.layout_builds": setup_counts.get("sources.layout_builds", 0),
        "sources.layout_build_s": sum(
            s["end"] - s["start"] for s in spans
            if s["name"] == "sources.layout_build" and in_setup(s)
        ),
        # -> query_p90_s, floor_mix (tpch_q3_priority); scans of a layout
        # in the executed plans
        "sources.layout_reads": _mean(s.get("layout_scans", 0) for s in traced),
        # -> queries_per_s, heavy_mix (its k-mer calls)
        "sources.sink_mb": _mean(s.get("sink_mb", 0.0) for s in traced),
        # -> query_p90_s, heavy_mix; about 0 on floor_mix
        "queries.decl_s": _mean(s["decl_s"] for s in traced),
        "queries.decl_jobs": sum(1 for j in jobs if j.get("window") in decl_windows) / n,
        # -> queries_per_s, floor_mix
        "queries.plan_cache_hit_frac": _mean(1.0 if h else 0.0 for h in hits),
        # -> query_p90_s, heavy_mix
        "plans.gate_calls": gate_calls / n,
        "plans.local_tier_frac": counts["plans.gate_true"] / gate_calls if gate_calls else 0.0,
        "functions.py_sent_mb": _mean(s.get("py_sent_mb", 0.0) for s in traced),
        "functions.py_returned_mb": _mean(s.get("py_returned_mb", 0.0) for s in traced),
        # -> setup_s, floor_mix: totals over set-up, where
        # stream_parquet_sink drains the events once; later calls resume
        # its complete checkpoint and drain nothing
        "streaming.batches": setup_counts.get("streaming.batches", 0),
        "streaming.input_rows": setup_counts.get("streaming.input_rows", 0),
        "streaming.batch_s": setup_counts.get("streaming.batch_ms", 0) / 1000.0,
        # -> queries_per_s, heavy_mix (its k-mer calls)
        "operators.kmer.combine_ratio_k8": combine.get(8, 0.0),
        "operators.kmer.combine_ratio_k64": combine.get(64, 0.0),
        # -> queries_per_s and query_cpu_s, floor_mix
        "spark.plan_s": _mean(plan_s),
        "spark.jobs": len(jobs) / n,
        "spark.stages": sum(j["stages"] for j in jobs) / n,
        "spark.tasks": sum(j["tasks"] for j in jobs) / n,
        "spark.job_gap_s": _mean(gap_s),
        # -> queries_per_s, heavy_mix
        "spark.task_s": sum(j["task_s"] for j in jobs) / n,
        "spark.slot_util": sum(j["task_s"] for j in jobs)
        / max(1e-9, sum(s["latency_s"] for s in traced) * cores),
        # -> queries_per_s, heavy_mix (its k=64 calls)
        "spark.shuffle_write_mb": sum(j["shuffle_write_mb"] for j in jobs) / n,
        "spark.shuffle_read_mb": sum(j["shuffle_read_mb"] for j in jobs) / n,
        "spark.spill_mb": sum(j["spill_mb"] for j in jobs) / n,
        # -> peak_rss_mb (an artifact field), heavy_mix; the max over stages
        "spark.gc_s": sum(j["gc_s"] for j in jobs) / n,
        "spark.peak_exec_mem_mb": max((j["peak_exec_mem_mb"] for j in jobs), default=0.0),
        # self time of each layer's spans: bench is the call span itself,
        # queries the declarations, operators kmer_count / kmer_sink,
        # sources layout builds and reads, plans the budget gates, spark
        # the sinks and jobs
        **{f"{layer}.self_s": layer_self[layer] / n for layer in LAYERS},
        # mean call latency, traced minus untraced
        "trace.overhead_s": _mean(s["latency_s"] for s in traced)
        - _mean(s["latency_s"] for s in untraced),
    }
    return {k: {"value": float(values[k]), "unit": u} for k, u in units().items()}
