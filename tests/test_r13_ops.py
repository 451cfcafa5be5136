"""Unit pins for the r13 operators (wasserstein_1d, cvm_2sample,
cliffs_delta, err_at_k, brier_decomposition, qini_uplift) —
hand-computed goldens + edge/contract cases, the test strategy of
SURVEY.md §5 (the reference pins operator semantics with small exact
fixtures, e.g. TableTest/SlideWindowTest)."""

import pytest
from pyspark.sql import functions as F


def _vals(spark, xs, col="v"):
    return spark.createDataFrame([(x,) for x in xs], f"{col} long")


# ------------------------------------------------------ wasserstein_1d


def test_wasserstein_unit_shift(spark):
    from table_computing_spark.operators.drift import wasserstein_1d

    old = _vals(spark, [1, 2, 3])
    new = _vals(spark, [2, 3, 4])
    r = wasserstein_1d(old, new, F.col("v")).collect()[0]
    # shifting every point by +1 moves exactly 1.0 units of mass·distance
    assert r["w1"] == 1.0
    assert r["n_old"] == 3 and r["n_new"] == 3 and r["n_values"] == 4


def test_wasserstein_symmetric_and_identical(spark):
    from table_computing_spark.operators.drift import wasserstein_1d

    a = _vals(spark, [1, 5, 5, 9])
    b = _vals(spark, [2, 2, 7, 11])
    ab = wasserstein_1d(a, b, F.col("v")).collect()[0]["w1"]
    ba = wasserstein_1d(b, a, F.col("v")).collect()[0]["w1"]
    assert ab == ba > 0
    same = wasserstein_1d(a, a, F.col("v")).collect()[0]["w1"]
    assert same == 0.0


def test_wasserstein_unequal_sizes_golden(spark):
    from table_computing_spark.operators.drift import wasserstein_1d

    # F_old = [1/2, 1, 1] at v=0,1,2 ; F_new = [0, 0, 1] (all mass at 2)
    # W1 = |1/2-0|·1 + |1-0|·1 = 1.5
    old = _vals(spark, [0, 1])
    new = _vals(spark, [2])
    assert wasserstein_1d(old, new, F.col("v")).collect()[0]["w1"] == 1.5


# the five pooled-count statistics share one empty-side check: its
# message must still name the operator that failed (W1's says
# "wasserstein") and the side that is empty
_TWO_SAMPLE = {
    "wasserstein_1d": "wasserstein",
    "cvm_2sample": "cvm_2sample",
    "tv_distance": "tv_distance",
    "energy_distance": "energy_distance",
    "kuiper_2sample": "kuiper_2sample",
}


@pytest.mark.parametrize("side", ["old", "new"])
@pytest.mark.parametrize("fn", list(_TWO_SAMPLE))
def test_two_sample_empty_side_raises(spark, fn, side):
    from table_computing_spark.operators import drift

    full = _vals(spark, [1, 2])
    empty = full.filter("v > 5")
    old, new = (empty, full) if side == "old" else (full, empty)
    with pytest.raises(ValueError, match="empty distribution") as e:
        getattr(drift, fn)(old, new, F.col("v"))
    assert str(e.value).startswith(f"{_TWO_SAMPLE[fn]}: side(s) ['{side}'] ")


def test_wasserstein_single_pooled_value_is_zero(spark):
    from table_computing_spark.operators.drift import wasserstein_1d

    r = wasserstein_1d(
        _vals(spark, [7, 7]), _vals(spark, [7]), F.col("v")
    ).collect()[0]
    assert r["w1"] == 0.0 and r["n_values"] == 1


# -------------------------------------------------------- cvm_2sample


def test_cvm_golden(spark):
    from table_computing_spark.operators.drift import cvm_2sample

    # old=[1,2], new=[1,3]: pooled D terms (see derivation) sum to 4;
    # T = 4 / (2·2·4²) = 0.0625
    r = cvm_2sample(
        _vals(spark, [1, 2]), _vals(spark, [1, 3]), F.col("v")
    ).collect()[0]
    assert r["t"] == 0.0625
    assert r["n_old"] == 2 and r["n_new"] == 2


def test_cvm_identical_samples_zero(spark):
    from table_computing_spark.operators.drift import cvm_2sample

    a = _vals(spark, [1, 2, 2, 5])
    assert cvm_2sample(a, a, F.col("v")).collect()[0]["t"] == 0.0


# ------------------------------------------------------- cliffs_delta


def _ab(spark, a_vals, b_vals):
    rows = [(v, True) for v in a_vals] + [(v, False) for v in b_vals]
    return spark.createDataFrame(rows, "v long, a boolean")


def test_cliffs_delta_extremes_and_zero(spark):
    from table_computing_spark.operators.drift import cliffs_delta

    full = cliffs_delta(
        _ab(spark, [3, 4], [1, 2]), F.col("a"), F.col("v")
    ).collect()[0]
    assert full["delta"] == 1.0 and full["magnitude"] == "large"
    inv = cliffs_delta(
        _ab(spark, [1, 2], [3, 4]), F.col("a"), F.col("v")
    ).collect()[0]
    assert inv["delta"] == -1.0 and inv["magnitude"] == "large"
    z = cliffs_delta(
        _ab(spark, [1, 2], [1, 2]), F.col("a"), F.col("v")
    ).collect()[0]
    assert z["delta"] == 0.0 and z["magnitude"] == "negligible"


def test_cliffs_delta_matches_bruteforce(spark):
    from table_computing_spark.operators.drift import cliffs_delta

    a = [1, 3, 3, 7, 9]
    b = [2, 3, 5, 5]
    gt = sum(1 for x in a for y in b if x > y)
    lt = sum(1 for x in a for y in b if x < y)
    want = round((gt - lt) / (len(a) * len(b)), 6)
    r = cliffs_delta(_ab(spark, a, b), F.col("a"), F.col("v")).collect()[0]
    assert r["delta"] == want
    assert r["n_a"] == 5 and r["n_b"] == 4


def test_cliffs_delta_empty_group_null(spark):
    from table_computing_spark.operators.drift import cliffs_delta

    r = cliffs_delta(_ab(spark, [1, 2], []), F.col("a"), F.col("v")).collect()[0]
    assert r["delta"] is None and r["magnitude"] is None


# ----------------------------------------------------------- err_at_k


def _ranking(spark, rows):
    # rows: (query, item, score, rel)
    return spark.createDataFrame(
        rows, "q string, item long, score double, rel int"
    )


def test_err_single_perfect_hit(spark):
    from table_computing_spark.operators.evaluation import err_at_k

    df = _ranking(spark, [("a", 1, 2.0, 3), ("a", 2, 1.0, 0)])
    r = err_at_k(df, "q", "item", F.col("score"), F.col("rel"),
                 k=10, max_rel=3).collect()[0]
    # R1 = 7/8 stops most users at rank 1; rank 2 has R=0
    assert r["err"] == 0.875 and r["n_rated"] == 2


def test_err_cascade_golden(spark):
    from table_computing_spark.operators.evaluation import err_at_k

    # rank1 rel=1 (R=1/8), rank2 rel=3 (R=7/8):
    # ERR = 1/8 + (1/2)·(7/8)·(7/8) = 0.5078125 — a HALF tie at the
    # 6th decimal: F.round is HALF_UP (DuckDB agrees), python round()
    # is banker's, so pin the literal, not round()
    df = _ranking(spark, [("a", 1, 2.0, 1), ("a", 2, 1.0, 3)])
    r = err_at_k(df, "q", "item", F.col("score"), F.col("rel"),
                 k=10, max_rel=3).collect()[0]
    assert r["err"] == 0.507813


def test_err_k_truncates_and_rel_clamps(spark):
    from table_computing_spark.operators.evaluation import err_at_k

    rows = [("a", i, float(100 - i), 3) for i in range(1, 6)]
    r1 = err_at_k(_ranking(spark, rows), "q", "item", F.col("score"),
                  F.col("rel"), k=2, max_rel=3).collect()[0]
    want = 7 / 8 + 0.5 * (7 / 8) * (1 / 8)
    assert r1["err"] == round(want, 6)
    # rel above max_rel clamps to max_rel (same ERR as rel == max)
    rows_hi = [("a", i, float(100 - i), 9) for i in range(1, 6)]
    r2 = err_at_k(_ranking(spark, rows_hi), "q", "item", F.col("score"),
                  F.col("rel"), k=2, max_rel=3).collect()[0]
    assert r2["err"] == r1["err"]


# ------------------------------------------------- brier_decomposition


def test_brier_decomposition_golden(spark):
    from table_computing_spark.operators.evaluation import brier_decomposition

    rows = [(0.2, 0), (0.2, 0), (0.8, 1), (0.8, 1)]
    df = spark.createDataFrame(rows, "p double, y int")
    r = brier_decomposition(df, F.col("p"), F.col("y"), n_bins=10).collect()[0]
    assert r["reliability"] == 0.04
    assert r["resolution"] == 0.25
    assert r["uncertainty"] == 0.25
    assert r["brier_binned"] == 0.04
    assert r["n"] == 4 and r["n_bins_used"] == 2


def test_brier_decomposition_identity_on_real_data(spark):
    """REL − RES + UNC must equal the Brier score of the BINNED
    forecast (each p replaced by its bin mean) — Murphy's exact
    identity, checked against an independent computation."""
    from table_computing_spark.operators.evaluation import brier_decomposition

    rows = [((i % 10) / 10.0 + 0.05, 1 if (i * 7) % 10 < (i % 10) else 0)
            for i in range(200)]
    df = spark.createDataFrame(rows, "p double, y int")
    r = brier_decomposition(df, F.col("p"), F.col("y"), n_bins=10).collect()[0]
    import collections

    bins = collections.defaultdict(list)
    for p, y in rows:
        bins[min(int(p * 10), 9)].append((p, y))
    n = len(rows)
    binned_brier = sum(
        (sum(p for p, _ in g) / len(g) - y) ** 2
        for g in bins.values()
        for _, y in g
    ) / n
    assert abs((r["reliability"] - r["resolution"] + r["uncertainty"])
               - binned_brier) < 1e-6
    assert r["brier_binned"] == round(
        r["reliability"] - r["resolution"] + r["uncertainty"], 6
    ) or abs(r["brier_binned"]
             - (r["reliability"] - r["resolution"] + r["uncertainty"])) < 2e-6


def test_brier_decomposition_rejects_out_of_range(spark):
    from table_computing_spark.operators.evaluation import brier_decomposition

    df = spark.createDataFrame([(1.2, 1), (0.5, 0)], "p double, y int")
    with pytest.raises(ValueError, match="outside"):
        brier_decomposition(df, F.col("p"), F.col("y"))


def test_brier_decomposition_top_edge_bin(spark):
    from table_computing_spark.operators.evaluation import brier_decomposition

    df = spark.createDataFrame([(1.0, 1), (0.0, 0)], "p double, y int")
    r = brier_decomposition(df, F.col("p"), F.col("y"), n_bins=10).collect()[0]
    # perfectly calibrated, perfectly resolved
    assert r["reliability"] == 0.0
    assert r["resolution"] == 0.25
    assert r["brier_binned"] == 0.0


# ---------------------------------------------------------- qini_uplift


def test_qini_golden(spark):
    from table_computing_spark.operators.evaluation import qini_uplift

    rows = [(1, True, 1, 4.0), (2, False, 0, 3.0),
            (3, True, 0, 2.0), (4, False, 0, 1.0)]
    df = spark.createDataFrame(rows, "id long, t boolean, y int, s double")
    out = {
        r["bucket"]: r
        for r in qini_uplift(df, "id", F.col("t"), F.col("y"), F.col("s"),
                             n_buckets=2).collect()
    }
    b1, b2 = out[1], out[2]
    assert (b1["n_treat"], b1["n_ctrl"], b1["conv_treat"], b1["conv_ctrl"]) \
        == (1, 1, 1, 0)
    assert b1["qini"] == 1.0 and b1["uplift_cum"] == 1.0
    assert b2["qini"] == 1.0 and b2["uplift_cum"] == 0.5


def test_qini_no_control_head_is_null(spark):
    from table_computing_spark.operators.evaluation import qini_uplift

    rows = [(1, True, 1, 4.0), (2, True, 0, 3.0),
            (3, False, 1, 2.0), (4, False, 0, 1.0)]
    df = spark.createDataFrame(rows, "id long, t boolean, y int, s double")
    out = {
        r["bucket"]: r
        for r in qini_uplift(df, "id", F.col("t"), F.col("y"), F.col("s"),
                             n_buckets=2).collect()
    }
    # first decile is all-treated: no control baseline yet
    assert out[1]["qini"] is None and out[1]["uplift_cum"] is None
    assert out[2]["qini"] is not None


def test_qini_plan_has_no_global_window_over_rows(spark):
    """The ranking must be ntile_distributed (range shuffle + closed
    form); only the 10-row bucket table may see an unpartitioned
    window — the q_cumulative_gains plan contract."""
    import __spark_entry__ as m
    from tests.test_plans import _unpartitioned_windows, plan_of

    df = m.queries()["q_qini_uplift"](spark, "/root/testdata/sf0.001")
    ws = _unpartitioned_windows(plan_of(df))
    # the only global window is the bounded bucket cumulative pass
    assert len(ws) <= 1


# --------------------------------------------------------- holt_winters


def test_holt_winters_periodic_golden(spark):
    """Perfectly periodic series, period 2: level locks to the mean,
    trend to 0, seasonal to +-1, and every one-step forecast is exact
    (hand-derived recursion with alpha=0.5 beta=0.25 gamma=0.5)."""
    from table_computing_spark.operators.temporal import holt_winters

    rows = [("k", i, v) for i, v in enumerate([1, 3, 1, 3, 1, 3])]
    df = spark.createDataFrame(rows, "k string, t long, x long")
    out = sorted(
        holt_winters(df, ["k"], "t", F.col("x"), period=2).collect(),
        key=lambda r: r["t"],
    )
    assert [r["t"] for r in out] == [2, 3, 4, 5]
    for r in out:
        assert r["level"] == 2.0 and r["trend"] == 0.0
    assert [r["seasonal"] for r in out] == [-1.0, 1.0, -1.0, 1.0]
    # forecast for the NEXT step alternates with the season
    assert [r["forecast"] for r in out] == [3.0, 1.0, 3.0, 1.0]


def test_holt_winters_short_key_emits_nothing(spark):
    from table_computing_spark.operators.temporal import holt_winters

    rows = [("k", i, i) for i in range(3)]
    df = spark.createDataFrame(rows, "k string, t long, x long")
    assert holt_winters(df, ["k"], "t", F.col("x"), period=3).count() == 0
    with pytest.raises(ValueError, match="period"):
        holt_winters(df, ["k"], "t", F.col("x"), period=0)


# --------------------------------------------------------- prop_compare


def test_prop_compare_symmetric_and_degenerate(spark):
    from table_computing_spark.operators.rates import prop_compare

    rows = [(True, 1), (True, 0), (False, 1), (False, 0)]
    df = spark.createDataFrame(rows, "a boolean, y int")
    r = prop_compare(df, F.col("a"), F.col("y")).collect()[0]
    assert r["z_stat"] == 0.0 and r["rr"] == 1.0 and r["or_"] == 1.0
    assert r["rr_lo"] < 1.0 < r["rr_hi"]
    assert r["or_lo"] < 1.0 < r["or_hi"]
    # all-success: pooled rate degenerate -> z NULL; d=0 cells -> OR NULL
    allw = spark.createDataFrame([(True, 1), (False, 1)], "a boolean, y int")
    r2 = prop_compare(allw, F.col("a"), F.col("y")).collect()[0]
    assert r2["z_stat"] is None and r2["or_"] is None
    assert r2["rr"] == 1.0  # RR is still defined at p=1 vs p=1


def test_prop_compare_matches_hand_computation(spark):
    import math

    from table_computing_spark.operators.rates import prop_compare

    rows = [(True, 1)] * 30 + [(True, 0)] * 70 + [(False, 1)] * 20 + [(False, 0)] * 80
    df = spark.createDataFrame(rows, "a boolean, y int")
    r = prop_compare(df, F.col("a"), F.col("y")).collect()[0]
    pa, pb, pool = 0.3, 0.2, 0.25
    z = (pa - pb) / math.sqrt(pool * (1 - pool) * (1 / 100 + 1 / 100))
    assert r["z_stat"] == round(z, 6)
    assert r["rr"] == 1.5
    orr = (30 * 80) / (20 * 70)
    assert r["or_"] == round(orr, 6)
    se = math.sqrt(1 / 30 + 1 / 70 + 1 / 20 + 1 / 80)
    assert r["or_lo"] == round(math.exp(math.log(orr) - 1.959963984540054 * se), 6)


# ------------------------------------------------------- vocab_richness


def test_vocab_richness_golden(spark):
    from table_computing_spark.operators.text import vocab_richness

    df = spark.createDataFrame([("a b a",), ("c b",)], "text string")
    r = vocab_richness(df).collect()[0]
    assert (r["n_tokens"], r["n_distinct"], r["f1"], r["f2"]) == (5, 3, 1, 2)
    assert r["chao1"] == 3.0  # f1*(f1-1) = 0: no unseen-mass evidence
    assert r["coverage"] == 0.8


def test_vocab_richness_singletons_dominate(spark):
    from table_computing_spark.operators.text import vocab_richness

    # every token unique: chao1 = D + D(D-1)/2, coverage = 0
    df = spark.createDataFrame([("w x y z",)], "text string")
    r = vocab_richness(df).collect()[0]
    assert r["f1"] == 4 and r["f2"] == 0
    assert r["chao1"] == 4 + 4 * 3 / 2
    assert r["coverage"] == 0.0


# ----------------------------------------------------- mantel_haenszel


def test_mantel_haenszel_single_stratum_golden(spark):
    from table_computing_spark.operators.drift import mantel_haenszel

    rows = ([("s", 1, 1)] * 10 + [("s", 1, 0)] * 5
            + [("s", 0, 1)] * 5 + [("s", 0, 0)] * 10)
    df = spark.createDataFrame(rows, "st string, e int, y int")
    r = mantel_haenszel(df, "st", F.col("e"), F.col("y")).collect()[0]
    assert r["or_mh"] == 4.0
    # E = 7.5, V = 50625/26100, dev = 2.0 -> chi2 = 4/V
    v = 15 * 15 * 15 * 15 / (30 * 30 * 29)
    assert abs(r["cmh_chi2"] - 4.0 / v) < 1e-6
    assert r["n_strata"] == 1 and r["n"] == 30


def test_mantel_haenszel_confounder_reversal(spark):
    """Two strata each with OR = 1 inside must pool to OR_MH = 1 even
    when the CRUDE (collapsed) OR is far from 1 — the Simpson's-paradox
    case this estimator exists for."""
    from table_computing_spark.operators.drift import mantel_haenszel

    rows = (
        [("hi", 1, 1)] * 80 + [("hi", 1, 0)] * 20      # exposed-heavy,
        + [("hi", 0, 1)] * 8 + [("hi", 0, 0)] * 2      # high base rate
        + [("lo", 1, 1)] * 2 + [("lo", 1, 0)] * 8      # exposed-light,
        + [("lo", 0, 1)] * 20 + [("lo", 0, 0)] * 80    # low base rate
    )
    df = spark.createDataFrame(rows, "st string, e int, y int")
    r = mantel_haenszel(df, "st", F.col("e"), F.col("y")).collect()[0]
    assert r["or_mh"] == 1.0
    assert r["n_strata"] == 2


# ----------------------------------------------------------- cka_linear


def _emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )


def test_cka_self_is_one(spark):
    from table_computing_spark.operators.similarity import cka_linear

    vecs = [[1.0, 2.0, 3.0], [4.0, 0.5, -1.0], [0.0, 1.5, 2.5], [2.0, 2.0, 0.0]]
    df = _emb_df(spark, vecs)
    r = cka_linear(df, df, "vec_id").collect()[0]
    assert r["cka"] == 1.0
    assert r["n"] == 4 and r["dim_a"] == 3 and r["dim_b"] == 3


def test_cka_invariant_to_rotation_and_scale(spark):
    """CKA is invariant to orthogonal transforms and isotropic scaling
    — a permuted, uniformly doubled copy scores 1.0 (up to the 1e-6
    component quantization)."""
    from table_computing_spark.operators.similarity import cka_linear

    x = _emb_df(spark, [[1.0, 2.0, 3.0], [4.0, 0.5, -1.0],
                        [0.0, 1.5, 2.5], [2.0, 2.0, 0.0]])
    y = x.select(
        "vec_id",
        F.transform(F.reverse("embedding"), lambda v: v * 2.0).alias("embedding"),
    )
    r = cka_linear(x, y, "vec_id").collect()[0]
    assert r["cka"] >= 0.999998


def test_cka_mismatched_pairing_is_low(spark):
    """Breaking the item pairing (a deterministic id shuffle) destroys
    the alignment: CKA far below the self score."""
    from table_computing_spark.operators.similarity import cka_linear

    import math

    vecs = [[math.sin(i * 1.7 + j) for j in range(4)] for i in range(40)]
    x = _emb_df(spark, vecs)
    y = x.select(((F.col("vec_id") * 7) % 40).alias("vec_id"), "embedding")
    r = cka_linear(x, y, "vec_id").collect()[0]
    assert r["cka"] is not None and r["cka"] < 0.5


def test_cka_no_common_ids_raises(spark):
    from table_computing_spark.operators.similarity import cka_linear

    x = _emb_df(spark, [[1.0, 2.0]])
    y = x.select((F.col("vec_id") + 100).alias("vec_id"), "embedding")
    with pytest.raises(ValueError, match="common ids"):
        cka_linear(x, y, "vec_id")


# ------------------------------------------------------- tv_distance


def test_tv_distance_golden_and_bounds(spark):
    from table_computing_spark.operators.drift import tv_distance

    def cats(xs):
        return spark.createDataFrame([(x,) for x in xs], "v string")

    # p = (1/2, 1/2), q = (1/4, 3/4): TV = 1/2(1/4 + 1/4) = 0.25
    r = tv_distance(
        cats(["a", "b"]), cats(["a", "b", "b", "b"]), F.col("v")
    ).collect()[0]
    assert r["tv"] == 0.25 and r["n_categories"] == 2
    # disjoint supports: TV = 1; identical: TV = 0
    assert tv_distance(cats(["a"]), cats(["b"]), F.col("v")).collect()[0]["tv"] == 1.0
    same = cats(["a", "b", "b"])
    assert tv_distance(same, same, F.col("v")).collect()[0]["tv"] == 0.0


# ---------------------------------------------------- energy_distance


def test_energy_distance_golden(spark):
    from table_computing_spark.operators.drift import energy_distance

    def df(xs):
        return spark.createDataFrame([(x,) for x in xs], "v long")

    # X={0}, Y={1}: E = 2·1 − 0 − 0 = 2
    r = energy_distance(df([0]), df([1]), F.col("v")).collect()[0]
    assert r["e_dist"] == 2.0
    # identical samples: 0 (and the within terms cancel exactly)
    a = df([1, 3, 3, 8])
    assert energy_distance(a, a, F.col("v")).collect()[0]["e_dist"] == 0.0


def test_energy_distance_matches_bruteforce(spark):
    from table_computing_spark.operators.drift import energy_distance

    x = [1, 4, 4, 9, 12]
    y = [2, 2, 7, 11]

    def mean_abs(u, w):
        return sum(abs(a - b) for a in u for b in w) / (len(u) * len(w))

    want = round(2 * mean_abs(x, y) - mean_abs(x, x) - mean_abs(y, y), 6)
    got = energy_distance(
        spark.createDataFrame([(v,) for v in x], "v long"),
        spark.createDataFrame([(v,) for v in y], "v long"),
        F.col("v"),
    ).collect()[0]["e_dist"]
    assert abs(got - want) <= 1e-6
    assert got >= 0.0


# --------------------------------------------------------- mcnemar_test


def test_mcnemar_golden_and_continuity(spark):
    from table_computing_spark.operators.evaluation import mcnemar_test

    # b = 6, c = 1: chi2 = (|6-1|-1)^2 / 7 = 16/7
    rows = ([(True, True)] * 3 + [(False, False)] * 2
            + [(True, False)] * 6 + [(False, True)] * 1)
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    r = mcnemar_test(df, F.col("a"), F.col("b")).collect()[0]
    assert (r["both_right"], r["both_wrong"], r["a_only"], r["b_only"]) \
        == (3, 2, 6, 1)
    assert r["chi2"] == round(16 / 7, 6)
    # |b-c| <= 1: continuity floor clamps at exactly 0
    tie = spark.createDataFrame([(True, False), (False, True)],
                                "a boolean, b boolean")
    assert mcnemar_test(tie, F.col("a"), F.col("b")).collect()[0]["chi2"] == 0.0
    # no disagreements: undefined -> NULL
    agree = spark.createDataFrame([(True, True), (False, False)],
                                  "a boolean, b boolean")
    assert mcnemar_test(agree, F.col("a"), F.col("b")).collect()[0]["chi2"] is None


# ---------------------------------------------------------- cochrans_q


def test_cochrans_q_textbook_golden(spark):
    """Classic 3-treatment example: Q reduces to the closed form and a
    hand computation; also the all-equal case is NULL-denominator-free
    but Q = 0."""
    from table_computing_spark.operators.evaluation import cochrans_q

    # 4 items x 3 models; rows (item, model, correct)
    panel = {
        1: (1, 1, 0), 2: (1, 0, 0), 3: (1, 1, 1), 4: (0, 0, 0),
    }
    rows = [
        (i, m, panel[i][k])
        for i in panel
        for k, m in enumerate(["m1", "m2", "m3"])
    ]
    df = spark.createDataFrame(rows, "item long, model string, correct int")
    r = cochrans_q(df, "item", "model", F.col("correct")).collect()[0]
    # C = (3, 2, 1), R = (2, 1, 3, 0): k=3
    # num = 2*(3*(9+4+1) - 36) = 2*6 = 12; den = 3*6 - (4+1+9+0) = 4
    assert r["q"] == 3.0
    assert r["n_items"] == 4 and r["n_models"] == 3


def test_cochrans_q_ragged_panel_raises(spark):
    from table_computing_spark.operators.evaluation import cochrans_q

    rows = [(1, "a", 1), (1, "b", 0), (2, "a", 1)]  # item 2 missing "b"
    df = spark.createDataFrame(rows, "item long, model string, correct int")
    with pytest.raises(ValueError, match="complete-panel"):
        cochrans_q(df, "item", "model", F.col("correct"))


def test_cochrans_q_degenerate_null(spark):
    from table_computing_spark.operators.evaluation import cochrans_q

    rows = [(i, m, 1) for i in range(3) for m in ("a", "b")]  # all right
    df = spark.createDataFrame(rows, "item long, model string, correct int")
    assert cochrans_q(df, "item", "model", F.col("correct")).collect()[0]["q"] is None


# -------------------------------------------------------- kuiper_2sample


def test_kuiper_golden_and_vs_ks(spark):
    from table_computing_spark.operators.drift import kuiper_2sample

    def df(xs):
        return spark.createDataFrame([(x,) for x in xs], "v long")

    # X={1,3}, Y={2,4}: F diffs at pooled values: v=1:+1/2, v=2:0,
    # v=3:+1/2, v=4:0 -> D+ = 1/2, D- = 0, V = 1/2
    r = kuiper_2sample(df([1, 3]), df([2, 4]), F.col("v")).collect()[0]
    assert r["v"] == 0.5 and r["d_plus"] == 0.5 and r["d_minus"] == 0.0
    # a symmetric swap flips the directions, V unchanged
    r2 = kuiper_2sample(df([2, 4]), df([1, 3]), F.col("v")).collect()[0]
    assert r2["v"] == 0.5 and r2["d_plus"] == 0.0 and r2["d_minus"] == 0.5
    # crossing CDFs: both directions contribute (V > KS's single sup)
    r3 = kuiper_2sample(df([1, 4]), df([2, 3]), F.col("v")).collect()[0]
    assert r3["d_plus"] == 0.5 and r3["d_minus"] == 0.5 and r3["v"] == 1.0
    # identical samples: V = 0
    a = df([1, 2, 2, 7])
    assert kuiper_2sample(a, a, F.col("v")).collect()[0]["v"] == 0.0
