"""Plan-fingerprint regression gate (r09 verdict task 2).

bench.py records a normalized physical-plan fingerprint per query in
BENCH_LOCAL.json["plan_sha"]; PLAN_FINGERPRINTS.json is the committed
baseline (promoted via tools/promote_plan_fingerprints.py). A query
whose fingerprint changed between baseline and the latest capture MUST
have its NEW sha adjudicated in PLANS.md — otherwise a silent plan
regression (a lost broadcast, an extra Exchange) would ride a bench
round unnoticed, and every timing swing re-litigates as a same-boot
re-run study. New queries (absent from the baseline) are exempt until
their first promotion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name: str) -> dict:
    path = os.path.join(ROOT, name)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


# r10 exempted q_count_distinct by name for the RewriteDistinctAggregates
# gid-ordering rendering instability — and the driver's r10 capture
# promptly caught the same shape in q_tpch_q21 (verdict task 1: an
# exemption list that must enumerate every multi-count-distinct query
# silently misses the next one). The instability is now normalized away
# inside plans.plan_fingerprint (_canonicalize_distinct_rewrite): gid
# literals erased, gid-line set-lists sorted. No name exemptions remain.
_ID_ORDER_SENSITIVE: set = set()


def test_plan_sha_changes_are_adjudicated_in_plans_md():
    baseline = _load("PLAN_FINGERPRINTS.json").get("plan_sha", {})
    current = _load("BENCH_LOCAL.json").get("plan_sha", {})
    if not baseline or not current:
        import pytest

        pytest.skip("no fingerprint capture yet (pre-r10 BENCH_LOCAL)")
    with open(os.path.join(ROOT, "PLANS.md")) as f:
        plans_md = f.read()
    unadjudicated = []
    for name, sha in current.items():
        old = baseline.get(name)
        if old is None or old == sha or name in _ID_ORDER_SENSITIVE:
            continue
        # a changed plan is fine IF PLANS.md names the new fingerprint
        if sha not in plans_md:
            unadjudicated.append(f"{name}: {old} -> {sha}")
    assert not unadjudicated, (
        "plan fingerprints changed without a PLANS.md entry naming the "
        "new sha (run tools/promote_plan_fingerprints.py after writing "
        "the adjudication):\n" + "\n".join(unadjudicated)
    )


def test_plan_fingerprint_is_session_stable(spark):
    """The normalizer must strip every session-dependent token: the
    same logical query built twice (fresh expression ids) and against
    a different path must fingerprint identically."""
    from pyspark.sql import functions as F

    from table_computing_spark.plans import plan_fingerprint

    def build(tag):
        df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        return df.groupBy("v").agg(F.sum("k").alias("s")).filter(F.col("s") > 0)

    # burn expression ids between the two builds
    spark.range(10).select((F.col("id") + 1).alias("x")).count()
    assert plan_fingerprint(build("a")) == plan_fingerprint(build("b"))
    # and a DIFFERENT plan must fingerprint differently
    other = (
        spark.createDataFrame([(1, "a")], "k long, v string")
        .groupBy("v")
        .agg(F.max("k").alias("s"))
    )
    assert plan_fingerprint(other) != plan_fingerprint(build("a"))


def test_multi_count_distinct_fingerprint_is_exprid_stable(spark):
    """RewriteDistinctAggregates assigns gid values by absolute exprId
    order, so a 2+ count_distinct plan's RENDERING permutes (gid
    pairing, Expand row order, gid grouping-key column order) with the
    session-global expression-id counter — the r10 driver capture
    flipped q_tpch_q21's sha this way (r11 verdict task 1). The
    normalizer must make the fingerprint invariant to burned ids,
    while still distinguishing genuinely different aggregate sets."""
    from pyspark.sql import functions as F

    from table_computing_spark.plans import plan_fingerprint

    def build():
        df = spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y")], "k long, v string, w string"
        )
        return df.groupBy("k").agg(
            F.countDistinct("v").alias("dv"), F.countDistinct("w").alias("dw")
        )

    before = plan_fingerprint(build())
    # burn an odd number of expression ids — enough to permute the gid
    # assignment (reproduced: 7 id-consuming frames flip the pairing)
    for i in range(7):
        spark.range(3).select((F.col("id") + i).alias("x")).count()
    assert plan_fingerprint(build()) == before
    # a different distinct-agg set must NOT collapse to the same sha
    df = spark.createDataFrame(
        [(1, "a", "x")], "k long, v string, w string"
    )
    other = df.groupBy("k").agg(
        F.countDistinct("v").alias("dv"),
        F.countDistinct("v", "w").alias("dvw"),
    )
    assert plan_fingerprint(other) != before


def _core_count_frames(spark) -> dict:
    """Three frames whose plans carry a partition count Spark derives
    from the core count: `_spread`'s round-robin Exchange, a Range
    without `numPartitions`, and a keyed repartition to
    defaultParallelism."""
    from table_computing_spark.operators._util import _spread

    dp = spark.sparkContext.defaultParallelism
    one_split = spark.range(100, numPartitions=1)
    return {
        "spread": _spread(one_split),
        "range": spark.range(10),
        "keyed_repartition": one_split.repartition(dp, "id"),
    }


_CORE_COUNT_PROBE = textwrap.dedent(
    """
    import json, sys
    sys.path[:0] = [sys.argv[1], sys.argv[2]]
    from table_computing_spark.plans import plan_fingerprint
    from table_computing_spark.session import get_spark
    from test_plan_fingerprints import _core_count_frames

    spark = get_spark("plan-fingerprint-cores", **{"spark.sql.shuffle.partitions": "8"})
    shas = {k: plan_fingerprint(df) for k, df in _core_count_frames(spark).items()}
    spark.stop()
    print(json.dumps(shas))
    """
)


def test_plan_fingerprint_is_core_count_invariant(spark, tmp_path):
    """The same frames built in a session with a different core count
    fingerprint identically: partition counts derived from
    defaultParallelism are normalized, so a baseline promoted on a
    32-core host still matches a capture on an 8-core one. Literal
    counts keep their sensitivity."""
    import pytest

    from table_computing_spark.plans import plan_fingerprint

    dp = spark.sparkContext.defaultParallelism
    if dp < 2:
        pytest.skip("local[1]: a literal 1-split source is indistinguishable from the core count")
    here = {k: plan_fingerprint(df) for k, df in _core_count_frames(spark).items()}
    script = tmp_path / "probe.py"
    script.write_text(_CORE_COUNT_PROBE)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(dp + 2), SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, str(script), ROOT, os.path.join(ROOT, "tests")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    there = json.loads(out.stdout.strip().splitlines()[-1])
    assert "na" not in here.values()
    assert there == here

    base = spark.range(100, numPartitions=1)
    k = dp + 1
    assert plan_fingerprint(base.repartition(k)) != plan_fingerprint(base.repartition(k + 1))
