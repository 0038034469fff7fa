"""Full strict-parity sweep at a scaled fixture with per-query wall
timings, emitting a committed artifact (r6 verdict task 8: run ALL
declared queries — not just the scale-smoke invariants — at sf1 and
record it). Catches any fixture-size-dependent branch (median escape
hatch, df-cap clamps, AQE plan flips) before the driver does.

Per-query WATCHDOG: a query (Spark side or DuckDB oracle replay) that
exceeds ``--timeout`` seconds is interrupted (duckdb .interrupt() +
SparkContext.cancelAllJobs()) and recorded as ok=False err=timeout —
an honest bounded-cost row instead of an unbounded sweep (the first
sf1 run sat >25 min inside ONE oracle replay). The artifact is
rewritten incrementally after every query, and ``--resume`` skips
names already green in an existing artifact.

    python scripts/parity_at_scale.py [sf_dir] [out_json] [--resume]
        [--timeout SECONDS]

Defaults: /tmp/smrgh_scaled_sf1 (build it with
scripts/make_scaled_fixture.py) -> results/parity_sf1.json, 600 s.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.parity import compare_one, duckdb_con  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:]]
    resume = "--resume" in args
    args = [a for a in args if a != "--resume"]
    timeout = 600.0
    if "--timeout" in args:
        i = args.index("--timeout")
        timeout = float(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args else "/tmp/smrgh_scaled_sf1"
    out_path = (
        args[1]
        if len(args) > 1
        else os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "results",
            "parity_sf1.json",
        )
    )
    import __spark_entry__ as entrymod
    from sycl_mapreduce_cpu_gpu_hybrid_spark.session import (
        ensure_driver_memory,
        get_spark,
        release_cached,
    )

    print(f"driver heap: {ensure_driver_memory(sf_dir)}")

    done: dict[str, dict] = {}
    if resume and os.path.exists(out_path):
        with open(out_path) as fh:
            for r in json.load(fh).get("results", []):
                if r.get("ok"):
                    done[r["name"]] = r

    spark = get_spark(app_name="parity_sf1")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_con(sf_dir)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    results: list[dict] = [done[n] for n in qs if n in done]
    t_start = time.monotonic()

    def flush() -> None:
        ok_n = sum(1 for r in results if r.get("ok"))
        artifact = {
            "sf_dir": sf_dir,
            "n_queries": len(qs),
            "n_done": len(results),
            "n_pass": ok_n,
            "timeout_sec": timeout,
            "total_wall_sec": round(time.monotonic() - t_start, 1),
            "results": results,
        }
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path + ".tmp", "w") as fh:
            json.dump(artifact, fh, indent=1)
        os.replace(out_path + ".tmp", out_path)

    for i, (name, qfn) in enumerate(qs.items(), 1):
        if name in done:
            continue
        t0 = time.monotonic()
        holder: dict = {}

        def work(name=name, qfn=qfn) -> None:
            try:
                holder["r"] = compare_one(
                    spark, con, name, qfn, oracles.get(name), sf_dir, True
                )
            except Exception as exc:  # noqa: BLE001 — keep sweeping
                holder["r"] = {
                    "name": name,
                    "ok": False,
                    "error": str(exc)[:500],
                }

        th = threading.Thread(target=work, daemon=True)
        th.start()
        th.join(timeout)
        if th.is_alive():
            con.interrupt()
            spark.sparkContext.cancelAllJobs()
            th.join(60)
            r = holder.get("r") or {"name": name, "ok": False}
            r["ok"] = False
            r["error"] = f"timeout after {timeout}s (interrupted)"
            # a worker that survived the 60s grace join may still be
            # using this connection; DuckDB connections are not safe
            # for concurrent queries, so abandon it and reopen before
            # the next sweep row (r7 advice)
            if th.is_alive():
                con = duckdb_con(sf_dir)
        else:
            r = holder["r"]
        release_cached(spark)
        r["wall_sec"] = round(time.monotonic() - t0, 3)
        results.append(r)
        flush()
        print(
            f"[{i}/{len(qs)}] {'PASS' if r.get('ok') else 'FAIL'} "
            f"{name} {r['wall_sec']}s",
            flush=True,
        )
    ok = sum(1 for r in results if r.get("ok"))
    flush()
    print(f"\n{ok}/{len(results)} PASS -> {out_path}")
    sys.exit(0 if ok == len(results) else 1)


if __name__ == "__main__":
    main()
