#!/usr/bin/env python
"""Second-decade scaling probe (r13 verdict task 5): q_err_at_k (slope
0.456 in the r13 audit) and q_cka (0.383) were the only r13 rows above
0.35; both fits used the s0.1 → s1 decade. This probe generates a
SECOND decade (s10: events 10M rows, embeddings 200k rows — only the
two tables these queries read, same generator/seed family as
tools/gen_scale_data.py) and fits the s1 → s10 slope, answering which
term actually grew: err_at_k is k-bounded per query (the per-query
fold is O(k); the global cost is the rank shuffle over N rows →
expected slope ≈ 1 asymptotically... in log-log total-time terms the
r13 0.456 was sub-linear because the s0.1 → s1 decade is overhead-
dominated), and cka is N·dim² Arrow-matmul-bound with a fixed dim² cell
aggregate. Emits .scale/audit2_r14.json + a markdown block for
PLANS.md.

Method per tools/scaling_audit.py: untimed warm-up at the small scale,
TWO timed reps per scale keeping the MIN, noop sink.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

S10 = os.path.join(REPO, ".scale", "s10")
S1 = os.path.join(REPO, ".scale", "s1")
REPS = 2


def ensure_s10() -> None:
    import gen_scale_data as g

    rng = np.random.default_rng(1410)
    ev = os.path.join(S10, "events.parquet")
    if not os.path.exists(ev):
        print("generating s10 events (10M rows)...", flush=True)
        g.gen_events(rng, int(g.BASE["events"] * 10), 10.0, ev)
    emb = os.path.join(S10, "embeddings.parquet")
    if not os.path.exists(emb):
        print("generating s10 embeddings (200k rows)...", flush=True)
        g.gen_embeddings(rng, int(g.BASE["embeddings"] * 10), emb)


def main() -> None:
    ensure_s10()
    from table_computing_spark.session import get_spark

    spark = get_spark("tc-second-decade-r14")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    import bench
    import __spark_entry__ as entry

    qs = entry.queries()

    def run(name: str, d: str) -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        qs[name](spark, d).write.mode("overwrite").format("noop").save()
        return round(time.perf_counter() - t0, 2)

    out: dict = {"panel": {}}
    sf01 = os.path.join(REPO, ".scale", "s0.1")
    out["panel"]["before"] = {
        k: v.get("min")
        for k, v in bench._calibration_panel(spark, sf01).items()
        if isinstance(v, dict)
    }
    for name in ["q_err_at_k", "q_cka"]:
        row: dict = {}
        run(name, S1)  # warm-up
        for label, d in (("1", S1), ("10", S10)):
            reps = [run(name, d) for _ in range(REPS)]
            row[label] = min(reps)
            row[f"reps_{label}"] = reps
        row["slope_2nd_decade"] = round(math.log10(row["10"] / row["1"]), 3)
        out[name] = row
        print(f"{name}: s1={row['1']}s s10={row['10']}s "
              f"slope={row['slope_2nd_decade']}", flush=True)
    out["panel"]["after"] = {
        k: v.get("min")
        for k, v in bench._calibration_panel(spark, sf01).items()
        if isinstance(v, dict)
    }
    path = os.path.join(REPO, ".scale", "audit2_r14.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
