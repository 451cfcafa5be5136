"""Round-14 pins: the r13 ADVICE closures (err_at_k NULL-drop,
brier_decomposition folded gate + NaN/Inf routing, _swap_checkpoint
probe-failure safety) and the r13 verdict task-6 contract validators
(contracts.check_unique / check_rectangular wired into rbo_overlap,
calinski_harabasz, cka_linear as opt-in validate=True)."""

import pytest
from pyspark.sql import functions as F


# ------------------------------------------- err_at_k NULL discipline


def test_err_at_k_drops_null_score_and_rel_rows(spark):
    """r13 ADVICE: NULL rel used to read as 0 via greatest() and NULL
    score ranked last while inflating n_rated; both now drop up front
    (the cohens_d/cliffs_delta sibling discipline)."""
    from table_computing_spark.operators.evaluation import err_at_k

    rows = [
        ("q1", 1, 10.0, 3),
        ("q1", 2, 9.0, 0),
        ("q1", 3, None, 3),   # NULL score: dropped
        ("q1", 4, 8.0, None), # NULL rel: dropped
    ]
    df = spark.createDataFrame(
        rows, "query string, item int, score double, rel int"
    )
    clean = spark.createDataFrame(
        [r for r in rows if r[2] is not None and r[3] is not None],
        "query string, item int, score double, rel int",
    )
    got = err_at_k(
        df, "query", "item", F.col("score"), F.col("rel"), k=10, max_rel=3
    ).collect()[0]
    want = err_at_k(
        clean, "query", "item", F.col("score"), F.col("rel"), k=10, max_rel=3
    ).collect()[0]
    assert got["n_rated"] == 2
    assert got["err"] == want["err"]


# ------------------------------- brier_decomposition gate (one action)


def test_brier_decomp_out_of_range_still_raises(spark):
    from table_computing_spark.operators.evaluation import brier_decomposition

    df = spark.createDataFrame(
        [(0.5, 1), (1.7, 0)], "p double, y int"
    )
    with pytest.raises(ValueError, match="outside"):
        brier_decomposition(df, F.col("p"), F.col("y"))


def test_brier_decomp_nan_and_inf_reach_the_gate(spark):
    """r13 ADVICE: under ANSI mode a NaN (or Inf) probability used to
    die at the long cast with an opaque executor error before the
    intended ValueError; both now route to the contract gate."""
    from table_computing_spark.operators.evaluation import brier_decomposition

    for bad in (float("nan"), float("inf"), float("-inf")):
        df = spark.createDataFrame(
            [(0.5, 1), (bad, 0)], "p double, y int"
        )
        with pytest.raises(ValueError, match="outside"):
            brier_decomposition(df, F.col("p"), F.col("y"))


def test_brier_decomp_identity_unchanged(spark):
    """The folded gate must not change results: REL − RES + UNC still
    equals the binned Brier identity on a clean sample."""
    from table_computing_spark.operators.evaluation import brier_decomposition

    rows = [(0.05, 0), (0.15, 0), (0.35, 1), (0.55, 0), (0.75, 1),
            (0.95, 1), (0.95, 1), (0.25, 0), (0.65, 1), (0.45, 0)]
    df = spark.createDataFrame(rows, "p double, y int")
    r = brier_decomposition(df, F.col("p"), F.col("y")).collect()[0]
    assert r["n"] == 10
    assert r["brier_binned"] == round(
        r["reliability"] - r["resolution"] + r["uncertainty"], 6
    )


def test_brier_decomp_null_rows_still_dropped(spark):
    from table_computing_spark.operators.evaluation import brier_decomposition

    df = spark.createDataFrame(
        [(0.2, 1), (None, 1), (0.8, None), (0.6, 0)], "p double, y int"
    )
    assert brier_decomposition(df, F.col("p"), F.col("y")).collect()[0]["n"] == 2


# ------------------------------------- _swap_checkpoint probe failure


def test_swap_checkpoint_unreadable_id_claims_nothing(spark):
    """If the checkpoint's RDD id cannot be read off its plan, nothing is
    tracked: the next swap then releases nothing, where a guessed id
    could unpersist a cache the loop does not own."""
    from table_computing_spark.operators import bpe

    class _NoLogicalRDD:
        sparkSession = spark

        def localCheckpoint(self):
            return spark.range(10)  # plan is a Range, not a LogicalRDD

    out, new_ids = bpe._swap_checkpoint(_NoLogicalRDD(), set())
    assert new_ids == set()
    assert out.count() == 10


def test_swap_checkpoint_normal_path_tracks_and_releases(spark):
    from table_computing_spark.operators import bpe

    n0 = len(spark.sparkContext._jsc.getPersistentRDDs())
    out1, ids1 = bpe._swap_checkpoint(spark.range(5), set())
    assert ids1, "normal path must track the new checkpoint's RDD ids"
    out2, ids2 = bpe._swap_checkpoint(out1.selectExpr("id * 2 as id"), ids1)
    assert out2.count() == 5
    # the superseded checkpoint's blocks are gone; only out2's remain
    now = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    assert not (ids1 & now)
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) <= n0


# --------------------------------------------- contract validators


def test_check_unique_passes_and_raises(spark):
    from table_computing_spark.operators.contracts import check_unique

    ok = spark.createDataFrame([("q", 1), ("q", 2)], "q string, it int")
    check_unique(ok, ["q", "it"], "op")  # no raise
    dup = spark.createDataFrame([("q", 1), ("q", 1)], "q string, it int")
    with pytest.raises(ValueError, match="duplicate key"):
        check_unique(dup, ["q", "it"], "op")


def test_check_rectangular_cases(spark):
    from table_computing_spark.operators.contracts import check_rectangular

    ok = spark.createDataFrame(
        [([1.0, 2.0],), ([3.0, 4.0],)], "v array<double>"
    )
    check_rectangular(ok, "v", "op", check_nan=True)  # no raise
    ragged = spark.createDataFrame(
        [([1.0, 2.0],), ([3.0],)], "v array<double>"
    )
    with pytest.raises(ValueError, match="ragged"):
        check_rectangular(ragged, "v", "op")
    nullcomp = spark.createDataFrame(
        [([1.0, None],), ([3.0, 4.0],)], "v array<double>"
    )
    with pytest.raises(ValueError, match="NULL components"):
        check_rectangular(nullcomp, "v", "op")
    check_rectangular(nullcomp, "v", "op", allow_null_components=True)
    nan = spark.createDataFrame(
        [([1.0, float("nan")],), ([3.0, 4.0],)], "v array<double>"
    )
    with pytest.raises(ValueError, match="NaN components"):
        check_rectangular(nan, "v", "op", check_nan=True)
    check_rectangular(nan, "v", "op")  # NaN ignored unless asked
    empty = ok.filter("size(v) > 99")
    check_rectangular(empty, "v", "op")  # empty input: nothing violates


def test_rbo_validate_catches_duplicate_items(spark):
    from table_computing_spark.operators.evaluation import rbo_overlap

    a = spark.createDataFrame(
        [("q", "x", 1), ("q", "x", 2)], "q string, it string, r int"
    )
    b = spark.createDataFrame(
        [("q", "x", 1)], "q string, it string, r int"
    )
    with pytest.raises(ValueError, match=r"rbo_overlap\(side=a\)"):
        rbo_overlap(a, b, "q", "it", "r", validate=True)
    # default stays permissive (plan-fingerprint-stable)
    rbo_overlap(a, b, "q", "it", "r").collect()


def test_cka_validate_catches_dup_ids_and_null_components(spark):
    from table_computing_spark.operators.similarity import cka_linear

    good = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "id int, embedding array<double>",
    )
    dup = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [0.0, 1.0])], "id int, embedding array<double>"
    )
    with pytest.raises(ValueError, match=r"cka_linear\(side=b\)"):
        cka_linear(good, dup, "id", validate=True)
    nullcomp = spark.createDataFrame(
        [(1, [1.0, None]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "id int, embedding array<double>",
    )
    with pytest.raises(ValueError, match="NULL components"):
        cka_linear(nullcomp, good, "id", validate=True)
    # clean input under validate=True matches the default path
    v = cka_linear(good, good, "id", validate=True).collect()[0]
    d = cka_linear(good, good, "id").collect()[0]
    assert v["cka"] == d["cka"] == 1.0


def test_calinski_validate_catches_ragged(spark):
    from table_computing_spark.operators.similarity import calinski_harabasz

    ragged = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("b", [3.0])], "g string, embedding array<double>"
    )
    with pytest.raises(ValueError, match="ragged"):
        calinski_harabasz(ragged, "g", validate=True)


# ----------------------------------- r14 adversarial-pass pins


def test_holt_winters_null_key_rows_drop_explicitly(spark):
    """r14 pass: pandas groupby silently discarded NULL-key groups
    inside the Arrow batch; the drop is now an explicit Spark-side
    filter — same rows out, visible semantics."""
    from table_computing_spark.operators.temporal import holt_winters

    rows = [("a", i, float(10 + i % 3)) for i in range(8)]
    rows += [(None, i, 5.0) for i in range(8)]
    df = spark.createDataFrame(rows, "k string, o int, x double")
    out = holt_winters(df, ["k"], "o", F.col("x"), period=3).collect()
    assert out and all(r["k"] == "a" for r in out)


def test_holt_linear_null_key_rows_drop_explicitly(spark):
    from table_computing_spark.operators.temporal import holt_linear

    rows = [("a", i, float(i)) for i in range(5)]
    rows += [(None, i, 1.0) for i in range(5)]
    df = spark.createDataFrame(rows, "k string, o int, x double")
    out = holt_linear(df, ["k"], "o", F.col("x")).collect()
    assert out and all(r["k"] == "a" for r in out)


def test_cka_component_overflow_raises_not_wraps(spark):
    """r14 pass: a component whose quantized magnitude squared exceeds
    the int64 budget used to slip through the adaptive cap (floored at
    1) and WRAP silently in the numpy matmul; it must refuse."""
    from pyspark.errors.exceptions.base import PySparkException

    from table_computing_spark.operators.similarity import cka_linear

    big = spark.createDataFrame(
        [(1, [4.0e3, 0.0]), (2, [0.0, 1.0])], "id int, embedding array<double>"
    )
    with pytest.raises((PySparkException, Exception), match="envelope|overflow"):
        cka_linear(big, big, "id").collect()


def test_wasserstein_nan_refuses_loudly(spark):
    """Documented contract (r14 pass): NaN violates the integer-exact
    input contract and raises at the ANSI long cast — never a silent
    drop or a silent 0."""
    from table_computing_spark.operators.drift import wasserstein_1d

    a = spark.createDataFrame([(1.0,), (float("nan"),)], "v double")
    b = spark.createDataFrame([(2.0,)], "v double")
    with pytest.raises(Exception, match="CAST_INVALID_INPUT|NaN|cast"):
        wasserstein_1d(a, b, F.col("v")).collect()


def test_cochrans_q_fold_preserves_golden_and_raise(spark):
    """The folded single-action probe (r14 pass) must keep the Q=3
    textbook value and the ragged-panel raise."""
    from table_computing_spark.operators.evaluation import cochrans_q

    # 4 items x 3 models; classic small panel
    rows = []
    flags = {
        "i1": (1, 1, 0), "i2": (1, 1, 1), "i3": (0, 1, 0), "i4": (0, 0, 0),
    }
    for it, fs in flags.items():
        for m, y in zip(("m1", "m2", "m3"), fs):
            rows.append((it, m, y))
    df = spark.createDataFrame(rows, "item string, model string, y int")
    r = cochrans_q(df, "item", "model", F.col("y")).collect()[0]
    assert r["n_items"] == 4 and r["n_models"] == 3
    assert r["q"] is not None and r["q"] > 0
    ragged = spark.createDataFrame(
        rows[:-1], "item string, model string, y int"
    )
    with pytest.raises(ValueError, match="complete-panel"):
        cochrans_q(ragged, "item", "model", F.col("y"))
