#!/usr/bin/env python
"""Optimization probe: isolated cold+warm timing for a named list of
entry queries, panel-bracketed (bench._calibration_panel), with optional
plan dump to plans/probe/<q>_<tag>.txt.

Usage:
    python tools/opt_probe.py q_bootstrap_ci q_grid_dbscan \
        [--reps 3] [--plans before|after] [--sf /root/testdata/sf0.1]

Methodology (spark_optimization_guide.md §1): noop sink so the full
plan executes; warm reps after a cold pass; keep the MIN as the
least-contended estimate; panels before/after so a loaded host window
is visible in the record rather than silently polluting a comparison.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dump explain(formatted) with this tag")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=None, help="append JSON result line to this file")
    args = ap.parse_args()

    from table_computing_spark.session import get_spark

    spark = get_spark("tc-opt-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    import bench
    import __spark_entry__ as entry
    from table_computing_spark.plans import plan_fingerprint

    qs = entry.queries()
    # page-cache warm-up for every table the probes touch (bench does all)
    from table_computing_spark.sources.parquet import TABLES, load_df

    for t in TABLES:
        load_df(spark, args.sf, t).write.mode("overwrite").format("noop").save()

    def clear() -> None:
        spark.catalog.clearCache()
        try:
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist()
        except Exception:  # noqa: BLE001
            pass

    def run(name: str) -> float:
        clear()
        t0 = time.perf_counter()
        qs[name](spark, args.sf).write.mode("overwrite").format("noop").save()
        return round(time.perf_counter() - t0, 3)

    panel_before = {k: v.get("min") for k, v in
                    bench._calibration_panel(spark, args.sf).items()
                    if isinstance(v, dict)}
    print(f"panel_before {panel_before}", flush=True)

    results: dict = {"sf": args.sf, "panel_before": panel_before, "studies": {}}
    for name in args.names:
        df = qs[name](spark, args.sf)
        sha = plan_fingerprint(df)
        if args.plans:
            os.makedirs(os.path.join(REPO, "plans", "probe"), exist_ok=True)
            path = os.path.join(REPO, "plans", "probe", f"{name}_{args.plans}.txt")
            with open(path, "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
            print(f"wrote {path}", flush=True)
        cold = run(name)
        reps = []
        for i in range(args.reps):
            t = run(name)
            reps.append(t)
            print(f"{name} rep{i}: {t}s", flush=True)
        results["studies"][name] = {
            "plan_sha": sha, "cold": cold, "reps": reps, "min": min(reps),
        }
        print(f"{name}: cold {cold}s, warm min {min(reps)}s (sha {sha})", flush=True)

    panel_after = {k: v.get("min") for k, v in
                   bench._calibration_panel(spark, args.sf).items()
                   if isinstance(v, dict)}
    results["panel_after"] = panel_after
    print(f"panel_after {panel_after}", flush=True)
    line = json.dumps(results)
    if args.out:
        with open(args.out, "a") as f:
            f.write(line + "\n")
    print(line, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
