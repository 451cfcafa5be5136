"""Empirical scaling-exponent audit for the cost-board operators.

Runs the named `queries()` entries over the self-consistent scale
family produced by tools/gen_scale_data.py (.scale/s0.01, s0.1, s1 —
two decades), times each with the same noop-sink discipline as
bench.py, and fits the log-log slope: t ~ s^alpha. alpha ≈ 1 is
linear scaling; the documented shape for every family is noted in
PLANS.md, and anything super-linear beyond its documented shape is a
bug or a cap to write down.

Each (query, scale) is timed REPS times and the minimum kept: the
least-contended estimate, since a single rep can be a cache or
host-noise artifact.

Usage: python tools/scaling_audit.py [query ...]   (default: cost board)
Emits a markdown table on stdout and a JSON blob to .scale/audit.json.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

COST_BOARD = [
    "q_dedup_exact",
    "q_dedup_jaccard",
    "q_containment_pairs",
    "q_minhash_lsh",
    "q_simhash_pairs",
    "q_semantic_dedup",
    "q_dedup_groups",
    "q_ivf_topk",
    "q_lsh_bucketed_topk",
    "q_rolling_corr",
    "q_exact_global_quantiles",
    "q_kn_bigram_nll",
    "q_bpe_merges",
    "q_groupby_agg",
    "q_window_tumble",
]
REPS = 2


def _timed(spark, fn, sf_dir: str) -> float:
    """Wall seconds of one noop-sink run; caches and persisted RDDs are
    dropped afterwards, also when the run fails."""
    t0 = time.perf_counter()
    try:
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0
    finally:
        spark.catalog.clearCache()
        try:
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist()
        except Exception:  # noqa: BLE001
            pass


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from table_computing_spark.session import get_spark

    names = sys.argv[1:] or COST_BOARD
    scales = [0.01, 0.1, 1.0]
    dirs = {s: os.path.join(repo, ".scale", f"s{s:g}") for s in scales}
    for d in dirs.values():
        if not os.path.isdir(d):
            raise SystemExit(f"missing {d} — run tools/gen_scale_data.py first")

    spark = get_spark("scaling-audit")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    qs = entry.queries()
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up

    results: "dict[str, dict]" = {}
    for name in names:
        fn = qs[name]
        times = {}
        # untimed warm-up at the smallest scale: the first execution of
        # a query family pays codegen/broadcast/page-cache costs that
        # would otherwise pollute the smallest (fastest) measurement
        # and flatten the fitted slope
        try:
            _timed(spark, fn, dirs[scales[0]])
        except Exception:  # noqa: BLE001 — the timed run reports it
            pass
        for s in scales:
            try:
                times[s] = round(min(_timed(spark, fn, dirs[s]) for _ in range(REPS)), 3)
            except Exception as e:  # noqa: BLE001 — record, keep auditing
                times[s] = None
                print(f"[audit] {name}@{s}: FAILED {type(e).__name__}: {e}"[:200],
                      file=sys.stderr, flush=True)
        ok = [(s, t) for s, t in times.items() if t]
        alpha = None
        if len(ok) >= 2:
            # least-squares slope of log t over log s across all scales
            xs = [math.log10(s) for s, _ in ok]
            ys = [math.log10(t) for _, t in ok]
            n = len(xs)
            mx, my = sum(xs) / n, sum(ys) / n
            denom = sum((x - mx) ** 2 for x in xs)
            alpha = round(sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom, 3)
            # decade-over-decade slope for the top pair (less floor noise)
            top = round((ys[-1] - ys[-2]) / (xs[-1] - xs[-2]), 3)
        else:
            top = None
        results[name] = {"times": times, "alpha": alpha, "alpha_top_decade": top}
        print(f"[audit] {name}: {times} alpha={alpha} top={top}",
              file=sys.stderr, flush=True)

    out = os.path.join(repo, ".scale", "audit.json")
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    print("| query | t(s0.01) | t(s0.1) | t(s1) | alpha (fit) | alpha (top decade) |")
    print("| --- | --- | --- | --- | --- | --- |")
    for name, r in results.items():
        t = r["times"]
        print(
            f"| {name} | {t.get(0.01)} | {t.get(0.1)} | {t.get(1.0)} "
            f"| {r['alpha']} | {r['alpha_top_decade']} |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
