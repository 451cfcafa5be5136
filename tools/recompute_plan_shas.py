#!/usr/bin/env python
"""Recompute every query's plan fingerprint without running the
queries and patch the result into BENCH_LOCAL.json["plan_sha"],
printing the diff vs the committed PLAN_FINGERPRINTS.json baseline.
Building the plans is not free: construction's eager driver-side
actions run over 1,400 Spark stages, about 5 minutes at sf0.1 on a
4-core host, until plans are built lazily.

Use-case: the normalizer in plans.plan_fingerprint changed (e.g. the
r11 RewriteDistinctAggregates canonicalization) and the baseline must
be re-promoted without waiting for a full bench run. Flow:

    python tools/recompute_plan_shas.py      # shows changed shas
    <adjudicate each change in PLANS.md, naming the NEW sha>
    python tools/promote_plan_fingerprints.py
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from table_computing_spark.session import get_spark

    spark = get_spark("tc-spark-plan-recompute")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from table_computing_spark.plans import plan_fingerprint

    shas: dict[str, str] = {}
    failures: dict[str, str] = {}
    for name, fn in entry.queries().items():
        try:
            shas[name] = plan_fingerprint(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — report, keep going
            failures[name] = f"{type(e).__name__}: {e}"[:160]
    spark.stop()

    baseline_path = os.path.join(ROOT, "PLAN_FINGERPRINTS.json")
    old: dict = {}
    if os.path.exists(baseline_path):
        with open(baseline_path) as f:
            old = json.load(f).get("plan_sha", {})
    for name in sorted(shas):
        if name in old and old[name] != shas[name]:
            print(f"changed: {name}: {old[name]} -> {shas[name]}")
        elif name not in old:
            print(f"new:     {name}: {shas[name]}")
    for name, err in failures.items():
        print(f"FAILED build: {name}: {err}")

    local_path = os.path.join(ROOT, "BENCH_LOCAL.json")
    with open(local_path) as f:
        bench = json.load(f)
    bench["plan_sha"] = shas
    with open(local_path, "w") as f:
        f.write(json.dumps(bench) + "\n")
    print(f"patched {local_path}: {len(shas)} shas, {len(failures)} build failures")


if __name__ == "__main__":
    main()
