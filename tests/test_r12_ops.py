"""Round-12 operator goldens: k-sample tests (Kruskal-Wallis, one-way
ANOVA, Brown-Forsythe), dose-response trend (Cochran-Armitage), binary
agreement/score (Matthews, Krippendorff alpha), robust series trend
(Theil-Sen), sequential drift (Page-Hinkley) and corpus mixture
weights (temperature sampling) — every value hand-computed or
cross-checked against the published formula on a case small enough to
verify by hand."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from __spark_entry__ import _await_stream


# --------------------------------------------------------------- k-sample


def test_kruskal_wallis_textbook_no_ties(spark):
    """A=[1,2,3], B=[4,5,6]: ranks 1..6, R_A=6, R_B=15 →
    H = 12/(6·7)·(36/3 + 225/3) − 3·7 = 87·(12/42) − 21 = 3.857143.
    No ties → h_adj == h."""
    from table_computing_spark.operators.drift import kruskal_wallis

    rows = [("A", 1.0), ("A", 2.0), ("A", 3.0), ("B", 4.0), ("B", 5.0), ("B", 6.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = kruskal_wallis(df, "g", F.col("v")).collect()[0]
    expect = round(12.0 / 42.0 * (36.0 / 3 + 225.0 / 3) - 21.0, 6)
    assert r["h"] == expect == 3.857143
    assert r["h_adj"] == r["h"]
    assert (r["dof"], r["n"]) == (1, 6)


def test_kruskal_wallis_identical_groups_and_ties(spark):
    """Two identical groups → H = 0 (after tie correction too); a
    single group → h NULL, dof 0."""
    from table_computing_spark.operators.drift import kruskal_wallis

    rows = [("A", v) for v in (1.0, 2.0, 2.0)] + [("B", v) for v in (1.0, 2.0, 2.0)]
    r = kruskal_wallis(
        spark.createDataFrame(rows, "g string, v double"), "g", F.col("v")
    ).collect()[0]
    assert r["h"] == 0.0 and r["h_adj"] == 0.0
    one = kruskal_wallis(
        spark.createDataFrame([("A", 1.0), ("A", 2.0)], "g string, v double"),
        "g",
        F.col("v"),
    ).collect()[0]
    assert one["h"] is None and one["dof"] == 0


def test_anova_f_textbook(spark):
    """A=[1,2,3], B=[4,5,6]: SSB = 13.5, SSW = 4, F = 13.5/(4/4) = 13.5."""
    from table_computing_spark.operators.drift import anova_f

    rows = [("A", 1), ("A", 2), ("A", 3), ("B", 4), ("B", 5), ("B", 6)]
    r = anova_f(
        spark.createDataFrame(rows, "g string, v int"), "g", F.col("v")
    ).collect()[0]
    assert r["f"] == 13.5
    assert (r["dof_between"], r["dof_within"], r["n"]) == (1, 4, 6)


def test_anova_f_degenerate_within_variance(spark):
    """Constant values within every group → SSW = 0 → F NULL."""
    from table_computing_spark.operators.drift import anova_f

    rows = [("A", 1), ("A", 1), ("B", 5), ("B", 5)]
    r = anova_f(
        spark.createDataFrame(rows, "g string, v int"), "g", F.col("v")
    ).collect()[0]
    assert r["f"] is None


def test_levene_bf_hand_computed(spark):
    """A=[1,1,1] (med 1, z2=[0,0,0]), B=[1,5,9] (med 5, z2=[8,0,8]):
    ANOVA on z2 → SSB = SSW = 128/3 → F = (SSB/1)/(SSW/4) = 4.0."""
    from table_computing_spark.operators.drift import levene_bf

    rows = [("A", 1), ("A", 1), ("A", 1), ("B", 1), ("B", 5), ("B", 9)]
    r = levene_bf(
        spark.createDataFrame(rows, "g string, v int"), "g", F.col("v")
    ).collect()[0]
    assert r["f"] == 4.0
    assert (r["dof_between"], r["dof_within"], r["n"]) == (1, 4, 6)


def test_levene_bf_even_group_median(spark):
    """Even group size uses the DOUBLED median (lo+hi) so deviations
    stay integer: A=[1,3] → med2=4, z2=|2x−4|=[2,2]; B=[10,14] →
    med2=24, z2=[4,4]. SSW=0 → F NULL (exactly equal spreads within)."""
    from table_computing_spark.operators.drift import levene_bf

    rows = [("A", 1), ("A", 3), ("B", 10), ("B", 14)]
    r = levene_bf(
        spark.createDataFrame(rows, "g string, v int"), "g", F.col("v")
    ).collect()[0]
    # z2 constant within groups → SSW 0 → NULL by the anova_f contract
    assert r["f"] is None and r["n"] == 4


def test_cochran_armitage_rising_rate(spark):
    """Doses 0/1/2 with rates 0/4, 2/4, 4/4: z matches the closed form
    and is positive (rate rises with dose); reversed doses flip the
    sign exactly."""
    from table_computing_spark.operators.drift import cochran_armitage

    rows = (
        [(0, 0)] * 4 + [(1, 1)] * 2 + [(1, 0)] * 2 + [(2, 1)] * 4
    )
    df = spark.createDataFrame(rows, "c int, y int")
    r = cochran_armitage(df, F.col("c"), F.col("y") == 1).collect()[0]
    # closed form: N=12, R=6, Σcn=12, Σcr=10, Σc²n=20
    nn, rr, cn, cr, ccn = 12, 6, 12, 10, 20
    nt = cr * nn - cn * rr
    varnum = rr * (nn - rr) * (nn * ccn - cn * cn)
    assert r["z"] == round(nt / math.sqrt(varnum), 6) and r["z"] > 0
    flipped = cochran_armitage(
        df.select((F.lit(2) - F.col("c")).alias("c"), "y"),
        F.col("c"),
        F.col("y") == 1,
    ).collect()[0]
    assert flipped["z"] == -r["z"]
    assert (r["n"], r["n_pos"], r["levels"]) == (12, 6, 3)


# --------------------------------------------------------------- agreement


def test_matthews_perfect_zero_and_degenerate(spark):
    from table_computing_spark.operators.evaluation import matthews_corr

    perfect = spark.createDataFrame(
        [(True, True), (False, False), (True, True)], "y boolean, p boolean"
    )
    # tp=2, tn=1, fp=0, fn=0: all four marginals > 0 → mcc = 2/sqrt(4) = 1
    assert matthews_corr(perfect, F.col("y"), F.col("p")).collect()[0]["mcc"] == 1.0
    balanced = spark.createDataFrame(
        [(True, True), (True, True), (False, False), (False, True)],
        "y boolean, p boolean",
    )
    r = matthews_corr(balanced, F.col("y"), F.col("p")).collect()[0]
    # tp=2, tn=1, fp=1, fn=0 → (2−0)/sqrt(3·2·2·1) = 2/sqrt(12)
    assert r["mcc"] == round(2 / math.sqrt(12), 6)
    # all predictions one class → a zero marginal → NULL
    degen = spark.createDataFrame(
        [(True, True), (False, True)], "y boolean, p boolean"
    )
    assert matthews_corr(degen, F.col("y"), F.col("p")).collect()[0]["mcc"] is None


def test_matthews_perfect_classifier_is_one(spark):
    from table_computing_spark.operators.evaluation import matthews_corr

    df = spark.createDataFrame(
        [(True, True), (True, True), (False, False), (False, False)],
        "y boolean, p boolean",
    )
    r = matthews_corr(df, F.col("y"), F.col("p")).collect()[0]
    assert r["mcc"] == 1.0 and (r["tp"], r["tn"], r["fp"], r["fn"]) == (2, 2, 0, 0)


def test_krippendorff_alpha_hand_computed(spark):
    """Units (2 raters each): u1=(a,a), u2=(a,b), u3=(b,b):
    O = 0 + (4−2)/1 + 0 = 2; n_a = n_b = 3, n = 6;
    α = 1 − 5·2/(36 − 18) = 1 − 10/18 = 0.444444."""
    from table_computing_spark.operators.evaluation import krippendorff_alpha

    rows = [
        (1, "r1", "a"), (1, "r2", "a"),
        (2, "r1", "a"), (2, "r2", "b"),
        (3, "r1", "b"), (3, "r2", "b"),
    ]
    df = spark.createDataFrame(rows, "u int, r string, c string")
    r = krippendorff_alpha(df, "u", "r", F.col("c")).collect()[0]
    assert r["alpha"] == round(1 - 10 / 18, 6)
    assert (r["n_units"], r["n_ratings"], r["n_categories"]) == (3, 6, 2)


def test_krippendorff_alpha_perfect_and_single_rating_units(spark):
    """Perfect agreement → α = 1; single-rating units are excluded
    from n; all-one-category → D_e = 0 → NULL."""
    from table_computing_spark.operators.evaluation import krippendorff_alpha

    rows = [
        (1, "r1", "x"), (1, "r2", "x"),
        (2, "r1", "y"), (2, "r2", "y"),
        (9, "r1", "z"),  # unpairable — must not count
    ]
    df = spark.createDataFrame(rows, "u int, r string, c string")
    r = krippendorff_alpha(df, "u", "r", F.col("c")).collect()[0]
    assert r["alpha"] == 1.0 and r["n_ratings"] == 4 and r["n_units"] == 2
    const = spark.createDataFrame(
        [(1, "r1", "x"), (1, "r2", "x")], "u int, r string, c string"
    )
    assert krippendorff_alpha(const, "u", "r", F.col("c")).collect()[0][
        "alpha"
    ] is None


# --------------------------------------------------------------- series


def test_theil_sen_exact_line_and_median_of_slopes(spark):
    """v = 2t exactly → slope 2 regardless of pair; (0,0),(1,1),(2,4)
    → slopes {1,2,3}, median 2; an outlier barely moves it where OLS
    would swing."""
    from table_computing_spark.operators.temporal import theil_sen_grouped

    rows = [("line", t, 2 * t) for t in range(5)]
    rows += [("mid", 0, 0), ("mid", 1, 1), ("mid", 2, 4)]
    df = spark.createDataFrame(rows, "k string, t int, v int")
    out = {
        r["k"]: r
        for r in theil_sen_grouped(df, ["k"], F.col("t"), F.col("v")).collect()
    }
    assert out["line"]["slope"] == 2.0 and out["line"]["n_pairs"] == 10
    assert out["mid"]["slope"] == 2.0 and out["mid"]["n_pairs"] == 3


def test_theil_sen_even_pairs_and_equal_timestamps(spark):
    """4 points → 6 pairs (even): median = mean of the two middle
    slopes; pairs with equal t are excluded."""
    from table_computing_spark.operators.temporal import theil_sen_grouped

    rows = [("k", 0, 0), ("k", 1, 1), ("k", 2, 4), ("k", 3, 5)]
    df = spark.createDataFrame(rows, "k string, t int, v int")
    r = theil_sen_grouped(df, ["k"], F.col("t"), F.col("v")).collect()[0]
    # slopes: 1, 2, 5/3, 3, 2, 1 → sorted [1, 1, 5/3, 2, 2, 3] →
    # median = (5/3 + 2)/2 = 11/6
    assert r["n_pairs"] == 6 and r["slope"] == round((5 / 3 + 2) / 2, 6)
    dup = spark.createDataFrame(
        [("k", 0, 0), ("k", 0, 9), ("k", 1, 2)], "k string, t int, v int"
    )
    rd = theil_sen_grouped(dup, ["k"], F.col("t"), F.col("v")).collect()[0]
    assert rd["n_pairs"] == 2  # (0,0)-(1,2) and (0,9)-(1,2); the t-tie pair dropped


def test_page_hinkley_jump_detection(spark):
    """x = [0,0,0,10]: running means 0,0,0,2.5 → terms 0,0,0,7.5 →
    m = [0,0,0,7.5], running min 0 → ph = [0,0,0,7.5]; alarm only on
    the jump row with λ = 5."""
    from table_computing_spark.operators.temporal import page_hinkley

    rows = [("k", 0, 0), ("k", 1, 0), ("k", 2, 0), ("k", 3, 10)]
    df = spark.createDataFrame(rows, "k string, t int, v int")
    out = {
        r["t"]: r
        for r in page_hinkley(
            df, ["k"], "t", F.col("v"), delta=0.0, lam=5.0
        ).collect()
    }
    assert [out[t]["ph"] for t in range(4)] == [0.0, 0.0, 0.0, 7.5]
    assert [out[t]["alarm"] for t in range(4)] == [False, False, False, True]


def test_page_hinkley_downward_shift_never_alarms_upward_test(spark):
    """A downward step keeps m decreasing → ph stays 0 (the running
    min tracks m) — the test is one-sided upward by construction."""
    from table_computing_spark.operators.temporal import page_hinkley

    rows = [("k", t, 10) for t in range(3)] + [("k", t, 0) for t in range(3, 6)]
    df = spark.createDataFrame(rows, "k string, t int, v int")
    out = page_hinkley(df, ["k"], "t", F.col("v"), lam=1.0).collect()
    assert all(not r["alarm"] for r in out)


# --------------------------------------------------------------- mixtures


def test_temperature_weights_exact_sqrt_case(spark):
    """n = [90, 10], α = 0.5: q = sqrt(.9)/(sqrt(.9)+sqrt(.1)) = 3/4
    EXACTLY (√(9/10) : √(1/10) = 3 : 1) — boost 0.75/0.9 and 0.25/0.1."""
    from table_computing_spark.operators.sampling import temperature_weights

    rows = [("big",)] * 90 + [("small",)] * 10
    df = spark.createDataFrame(rows, "lang string")
    out = {
        r["group"]: r
        for r in temperature_weights(df, "lang", alpha=0.5).collect()
    }
    assert out["big"]["p_sampled"] == 0.75 and out["small"]["p_sampled"] == 0.25
    assert out["big"]["boost"] == round(0.75 / 0.9, 6)
    assert out["small"]["boost"] == round(0.25 / 0.1, 6)


def test_temperature_weights_alpha_one_is_proportional(spark):
    from table_computing_spark.operators.sampling import temperature_weights

    rows = [("a",)] * 6 + [("b",)] * 4
    df = spark.createDataFrame(rows, "lang string")
    out = {
        r["group"]: r for r in temperature_weights(df, "lang", alpha=1.0).collect()
    }
    assert out["a"]["p_sampled"] == out["a"]["p_raw"] == 0.6
    assert out["a"]["boost"] == 1.0 and out["b"]["boost"] == 1.0


# --------------------------------------------------------------- r12b


def test_fleiss_kappa_hand_computed(spark):
    """Two raters, units (a,a), (a,b), (b,b): P_i = [1, 0, 1], P̄ = 2/3,
    p = [.5, .5] → P̄e = .5 → κ = (2/3 − 1/2)/(1/2) = 1/3."""
    from table_computing_spark.operators.evaluation import fleiss_kappa

    rows = [(1, "a"), (1, "a"), (2, "a"), (2, "b"), (3, "b"), (3, "b")]
    df = spark.createDataFrame(rows, "u int, c string")
    r = fleiss_kappa(df, "u", F.col("c")).collect()[0]
    assert r["kappa"] == round(1 / 3, 6)
    assert (r["n_units"], r["n_raters"], r["n_categories"]) == (3, 2, 2)


def test_fleiss_kappa_rejects_variable_panels(spark):
    from table_computing_spark.operators.evaluation import fleiss_kappa

    rows = [(1, "a"), (1, "a"), (2, "a"), (2, "b"), (2, "b")]
    df = spark.createDataFrame(rows, "u int, c string")
    with pytest.raises(ValueError, match="fixed-panel"):
        fleiss_kappa(df, "u", F.col("c"))


def test_friedman_textbook_and_incomplete_blocks(spark):
    """3 blocks × 3 treatments with identical within-block order:
    R = [3, 6, 9] → Q = 12/(3·3·4)·126 − 36 = 6.0 (no ties →
    q_adj == q); a 4th block missing one treatment is dropped."""
    from table_computing_spark.operators.drift import friedman_test

    rows = []
    for b in range(3):
        rows += [(b, "t1", 10 + b), (b, "t2", 20 + b), (b, "t3", 30 + b)]
    rows += [(9, "t1", 1), (9, "t2", 2)]  # incomplete — dropped
    df = spark.createDataFrame(rows, "b int, t string, v int")
    r = friedman_test(df, "b", "t", F.col("v")).collect()[0]
    assert r["q"] == 6.0 and r["q_adj"] == 6.0
    assert (r["dof"], r["n_blocks"], r["n_blocks_dropped"]) == (2, 3, 1)


def test_friedman_all_tied_blocks_null_adjustment(spark):
    """Every block fully tied → correction 0 → q_adj NULL (q = −3b(k+1)
    + 12/(bk(k+1))·Σ(k·midrank2/2)²/... just assert the NULL)."""
    from table_computing_spark.operators.drift import friedman_test

    rows = [(b, t, 7) for b in range(2) for t in ("x", "y")]
    df = spark.createDataFrame(rows, "b int, t string, v int")
    r = friedman_test(df, "b", "t", F.col("v")).collect()[0]
    assert r["q_adj"] is None


def test_dirichlet_lm_hand_computed(spark):
    """Corpus d1='a b', d2='a a', query ('a',), μ=2: p_c(a) = 3/4 →
    score(d1) = ln((1 + 1.5)/4), score(d2) = ln((2 + 1.5)/4) — d2
    ranks first."""
    import math

    from table_computing_spark.operators.text import dirichlet_lm_topk

    df = spark.createDataFrame([(1, "a b"), (2, "a a")], "doc_id int, text string")
    out = dirichlet_lm_topk(df, ("a",), k=10, mu=2.0).collect()
    assert [r["doc_id"] for r in out] == [2, 1]
    assert out[0]["score"] == round(math.log((2 + 2.0 * 0.75) / 4.0), 6)
    assert out[1]["score"] == round(math.log((1 + 2.0 * 0.75) / 4.0), 6)
    assert out[0]["n_terms_scored"] == 1


def test_dirichlet_lm_oov_handling(spark):
    """OOV terms are skipped (n_terms_scored drops); all-OOV raises."""
    from table_computing_spark.operators.text import dirichlet_lm_topk

    df = spark.createDataFrame([(1, "a b"), (2, "a a")], "doc_id int, text string")
    out = dirichlet_lm_topk(df, ("a", "zzz"), k=10, mu=2.0).collect()
    assert out[0]["n_terms_scored"] == 1
    with pytest.raises(ValueError, match="no query term"):
        dirichlet_lm_topk(df, ("zzz",), k=10)


def test_rbo_identical_disjoint_and_half(spark):
    from table_computing_spark.operators.evaluation import rbo_overlap

    def lists(rows):
        return spark.createDataFrame(rows, "q int, it string, rank int")

    same = lists([(1, "x", 1), (1, "y", 2)])
    r = rbo_overlap(same, same, "q", "it", "rank", k=2, p=0.5).collect()[0]
    assert r["rbo"] == 1.0 and r["n_common"] == 2
    disjoint = rbo_overlap(
        lists([(1, "x", 1)]), lists([(1, "z", 1)]), "q", "it", "rank", k=2, p=0.5
    ).collect()[0]
    assert disjoint["rbo"] == 0.0 and disjoint["n_common"] == 0
    # A=[x,y], B=[x,z], k=2, p=.5: overlap@1 = 1, overlap@2 = 1 →
    # (1 + 0.5·1/2) · (1−.5)/(1−.25) = 1.25 · 2/3
    half = rbo_overlap(
        lists([(1, "x", 1), (1, "y", 2)]),
        lists([(1, "x", 1), (1, "z", 2)]),
        "q", "it", "rank", k=2, p=0.5,
    ).collect()[0]
    assert half["rbo"] == round(1.25 * (0.5 / 0.75), 6)


def _page_hinkley_stream_and_batch(spark, tmp_path, rows, cut):
    """(stream rows, batch rows) of page-Hinkley over `rows` (g, t, x):
    the stream replays t < cut and t >= cut as two micro-batches with
    state carried; both sides sorted as (g, t, x, ph, alarm) tuples."""
    import os

    from table_computing_spark.operators.temporal import page_hinkley
    from table_computing_spark.streaming.stateful import stream_page_hinkley

    df = spark.createDataFrame(rows, "g string, t int, x int")
    src = os.path.join(str(tmp_path), "src")
    for cond in (F.col("t") < cut, F.col("t") >= cut):
        df.where(cond).coalesce(1).write.mode("append").parquet(src)
    sdf = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = stream_page_hinkley(sdf, ["g"], "t", "x", delta=0.0, lam=10.0)
    q = (
        out.writeStream.format("memory")
        .queryName("tc_sph_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    cols = ["g", "t", "x", "ph", "alarm"]
    got = sorted(tuple(r) for r in spark.table("tc_sph_test").select(cols).collect())
    spark.catalog.dropTempView("tc_sph_test")
    batch = page_hinkley(df, ["g"], "t", F.col("x"), lam=10.0).withColumnRenamed("value", "x")
    return got, sorted(tuple(r) for r in batch.select(cols).collect())


def test_stream_page_hinkley_matches_batch(spark, tmp_path):
    """The streaming PH (two sequential micro-batches, state carried)
    must equal the batch operator row-for-row — including rows whose
    running mean crosses the batch boundary."""
    rows = [("k", t, v) for t, v in enumerate([5, 5, 5, 5, 30, 30, 5, 5, 40, 40])]
    rows += [("j", t, v) for t, v in enumerate([2, 2, 2, 9, 9])]
    got, want = _page_hinkley_stream_and_batch(spark, tmp_path, rows, 5)
    assert got == want and len(got) == 15
    assert any(r[4] for r in got)  # the jumps do alarm


def test_stream_page_hinkley_breaks_order_ties_by_value_like_batch(spark, tmp_path):
    """Rows sharing an order value inside one micro-batch run in (order,
    value) order, as in the batch operator. The slices are written with
    each tie's larger value first, so a sort on the order column alone
    keeps the file order and gives different ph values."""
    vals = [(0, 9), (0, 1), (1, 30), (1, 2), (2, 7), (2, 7), (3, 50), (3, 4),
            (4, 40), (4, 3), (5, 60), (5, 1), (6, 8), (6, 5), (7, 90), (7, 2)]
    rows = [("k", t, v) for t, v in vals] + [("j", t, v * 3) for t, v in vals]
    got, want = _page_hinkley_stream_and_batch(spark, tmp_path, rows, 4)
    assert got == want and len(got) == 32

# --------------------------------------------------------------- r12c


def test_holt_linear_hand_computed(spark):
    """α=0.5, β=0.25, x=[10,14,8,20]: l1=10, b1=4; l2=14, b2=4;
    l3=13, b3=2.75; l4=17.875, b4=3.28125 — forecast = l+b."""
    from table_computing_spark.operators.temporal import holt_linear

    rows = [("k", t, v) for t, v in enumerate([10, 14, 8, 20])]
    df = spark.createDataFrame(rows, "g string, t int, v int")
    out = {r["t"]: r for r in holt_linear(
        df, ["g"], "t", F.col("v"), alpha=0.5, beta=0.25).collect()}
    assert (out[0]["level"], out[0]["trend"]) == (10.0, 4.0)
    assert (out[1]["level"], out[1]["trend"]) == (14.0, 4.0)
    assert (out[2]["level"], out[2]["trend"]) == (13.0, 2.75)
    assert (out[3]["level"], out[3]["trend"]) == (17.875, 3.28125)
    assert out[3]["forecast"] == 17.875 + 3.28125
    single = holt_linear(
        spark.createDataFrame([("s", 0, 7)], "g string, t int, v int"),
        ["g"], "t", F.col("v")).collect()[0]
    assert (single["level"], single["trend"]) == (7.0, 0.0)


def test_logrank_identical_and_separated(spark):
    """Identical survival in both groups → z = 0; fully separated
    event times (A at t=1, B at t=5) → z = 1/sqrt(1/3)."""
    import math

    from table_computing_spark.operators.survival import logrank_test

    same = spark.createDataFrame(
        [(True, 1, True), (True, 2, True), (False, 1, True), (False, 2, True)],
        "ga boolean, t int, e boolean",
    )
    r = logrank_test(same, F.col("ga"), "t", F.col("e")).collect()[0]
    assert r["z"] == 0.0 and r["o_a"] == 2 and r["e_a"] == 2.0
    sep = spark.createDataFrame(
        [(True, 1, True), (True, 1, True), (False, 5, True), (False, 5, True)],
        "ga boolean, t int, e boolean",
    )
    r = logrank_test(sep, F.col("ga"), "t", F.col("e")).collect()[0]
    # t=1: d=2, na=2, nb=2 → E += 1, V += 2·.5·.5·(2/3); t=5: na=0 → 0
    assert r["e_a"] == 1.0
    assert r["z"] == round(1.0 / math.sqrt(1.0 / 3.0), 6)
    assert (r["n_a"], r["n_b"]) == (2, 2)


def test_logrank_censoring_leaves_risk_after_t(spark):
    """A censored subject at t counts in n_risk at t but never as an
    event: with one A event at t=1 and one B censored at t=1,
    E_a = 1·(1/2) = 0.5."""
    from table_computing_spark.operators.survival import logrank_test

    df = spark.createDataFrame(
        [(True, 1, True), (False, 1, False)], "ga boolean, t int, e boolean"
    )
    r = logrank_test(df, F.col("ga"), "t", F.col("e")).collect()[0]
    assert r["o_a"] == 1 and r["e_a"] == 0.5
    # V = 1·(1/2)(1/2)·(2−1)/(2−1) = 0.25 → z = (1 − 0.5)/0.5 = 1.0
    assert r["z"] == 1.0 and r["chi2"] == 1.0


def test_textrank_hub_ranks_first(spark):
    """'h x h y h z': the hub co-occurs with everything — top rank."""
    from table_computing_spark.operators.text import textrank_keywords

    df = spark.createDataFrame([(1, "h x h y h z")], "doc_id int, text string")
    out = textrank_keywords(df, window=2, iterations=3, k=10).collect()
    assert out[0]["word"] == "h"
    assert {r["word"] for r in out} == {"h", "x", "y", "z"}
    # ranks form a probability-ish vector (dangling mass aside)
    assert 0.9 < sum(r["rank"] for r in out) <= 1.000001


def test_brier_logloss_hand_computed(spark):
    """scale 10: rows (10,1), (0,0), (5,1): brier = (0 + 0 + .25)/3;
    logloss = (−ln .95 − ln .95 − ln .5)/3 with the half-quantum
    clamp at 0.05/0.95."""
    import math

    from table_computing_spark.operators.classify import brier_logloss

    df = spark.createDataFrame([(10, 1), (0, 0), (5, 1)], "s int, y int")
    r = brier_logloss(df, "s", 10, "y").collect()[0]
    assert r["n"] == 3
    assert r["brier"] == round(0.25 / 3, 6)
    want = (-math.log(0.95) - math.log(0.95) - math.log(0.5)) / 3
    assert abs(r["logloss"] - want) < 2e-6


# --------------------------------------------------------------- r12d


def test_cohens_d_hand_computed(spark):
    """A=[1,2,3] vs B=[4,5,6]: pooled s² = (2+2)/4 = 1 → d = −3;
    g = d·(1 − 3/15) = −2.4."""
    from table_computing_spark.operators.drift import cohens_d

    rows = [(True, 1), (True, 2), (True, 3), (False, 4), (False, 5), (False, 6)]
    df = spark.createDataFrame(rows, "a boolean, x int")
    r = cohens_d(df, F.col("a"), F.col("x")).collect()[0]
    assert r["d"] == -3.0 and r["g"] == -2.4
    assert (r["mean_a"], r["mean_b"], r["n_a"], r["n_b"]) == (2.0, 5.0, 3, 3)


def test_cohens_d_degenerate_null(spark):
    """Constant values in both arms → s_pooled = 0 → NULL d."""
    from table_computing_spark.operators.drift import cohens_d

    df = spark.createDataFrame(
        [(True, 5), (True, 5), (False, 9), (False, 9)], "a boolean, x int"
    )
    assert cohens_d(df, F.col("a"), F.col("x")).collect()[0]["d"] is None


def test_cramers_v_perfect_and_independent(spark):
    """Perfect 2×2 dependence → χ² = n → V = 1; independence → V = 0."""
    from table_computing_spark.operators.drift import cramers_v

    rows = [("dep", "a", "x")] * 20 + [("dep", "b", "y")] * 20
    rows += [("ind", v, l) for v in ("a", "b") for l in ("x", "y") for _ in range(10)]
    df = spark.createDataFrame(rows, "feature string, v string, l string")
    out = {r["feature"]: r for r in
           cramers_v(df, "feature", F.col("v"), F.col("l")).collect()}
    assert out["dep"]["v"] == 1.0 and out["dep"]["chi2"] == 40.0
    assert out["ind"]["v"] == 0.0 and out["ind"]["chi2"] == 0.0


def test_sprt_crossings_and_continue(spark):
    """All conversions → LLR walks up by ln(p1/p0) per row and crosses
    A; all failures → crosses B; a short balanced arm continues."""
    import math

    from table_computing_spark.operators.drift import sprt_bernoulli

    rows = [("up", i, 1) for i in range(40)]
    rows += [("down", i, 0) for i in range(40)]
    rows += [("flat", 0, 1), ("flat", 1, 0)]
    df = spark.createDataFrame(rows, "arm string, o int, y int")
    out = {r["arm"]: r for r in sprt_bernoulli(
        df, "arm", F.col("o"), F.col("y") == 1,
        p0=0.4, p1=0.55, alpha=0.05, beta_err=0.2).collect()}
    assert out["up"]["decision"] == "accept_h1"
    c1 = round(math.log(0.55 / 0.4) * 1e9)
    a_n = round(math.log(0.8 / 0.05) * 1e9)
    assert out["up"]["n_at_decision"] == math.ceil(a_n / c1)
    assert out["down"]["decision"] == "accept_h0"
    assert out["flat"]["decision"] == "continue"
    assert out["flat"]["n_at_decision"] is None


def test_calinski_harabasz_separated_vs_mixed(spark):
    """Two tight, well-separated clusters score far higher than the
    same points with shuffled labels; hand check on a 1-D case:
    A={0,2}, B={10,12}: W = 2+2 = 4, B = 2·25+2·25 = 100,
    CH = (100/1)/(4/2) = 50."""
    from table_computing_spark.operators.similarity import calinski_harabasz

    rows = [(0, [0.0]), (0, [2.0]), (1, [10.0]), (1, [12.0])]
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    r = calinski_harabasz(df, "label").collect()[0]
    assert r["ch"] == 50.0 and (r["k"], r["n"]) == (2, 4)
    mixed = spark.createDataFrame(
        [(0, [0.0]), (1, [2.0]), (0, [10.0]), (1, [12.0])],
        "label int, embedding array<float>",
    )
    rm = calinski_harabasz(mixed, "label").collect()[0]
    assert rm["ch"] < 0.1  # shuffled labels → almost no between-variance


# --------------------------------------------------------------- r12e


def test_mann_kendall_monotone_flat_and_tied(spark):
    """Strictly increasing n=5: S = 10, Var = 5·4·15/18 = 50/3,
    z = 9/sqrt(50/3); strictly decreasing flips the sign exactly;
    all-tied values → Var 0 → z NULL."""
    import math

    from table_computing_spark.operators.temporal import mann_kendall_grouped

    rows = [("up", t, t * 2) for t in range(5)]
    rows += [("down", t, 100 - 3 * t) for t in range(5)]
    rows += [("tied", t, 7) for t in range(5)]
    df = spark.createDataFrame(rows, "g string, t int, v int")
    out = {r["group"]: r for r in mann_kendall_grouped(
        df, "g", F.col("t"), F.col("v")).collect()}
    assert out["up"]["s"] == 10 and out["down"]["s"] == -10
    z = 9.0 / math.sqrt(5 * 4 * 15 / 18.0)
    assert out["up"]["z"] == round(z, 6)
    assert out["down"]["z"] == round(-z, 6)
    assert out["tied"]["s"] == 0 and out["tied"]["z"] is None


def test_mann_kendall_tie_correction(spark):
    """Values [1, 1, 2]: S = 2 (two concordant, one tied pair);
    Var = [3·2·11 − 2·1·9]/18 = 48/18; z = 1/sqrt(48/18)."""
    import math

    from table_computing_spark.operators.temporal import mann_kendall_grouped

    df = spark.createDataFrame(
        [("g", 0, 1), ("g", 1, 1), ("g", 2, 2)], "g string, t int, v int"
    )
    r = mann_kendall_grouped(df, "g", F.col("t"), F.col("v")).collect()[0]
    assert r["s"] == 2
    assert r["z"] == round(1.0 / math.sqrt(48 / 18.0), 6)


def test_by_fdr_harmonic_inflation(spark):
    """BY divides the effective alpha by c(m) = Σ1/i: with m = 4 and
    p-values [.01, .02, .2, .9], BH at α=.2 rejects the first two
    (p₂ = .02 ≤ 2·.05) while BY (c(4) ≈ 2.0833) rejects only under
    the stiffer threshold; p_adj_by == p_adj_bh · c(m)."""
    from table_computing_spark.operators.drift import bh_fdr

    df = spark.createDataFrame(
        [(1, 0.01), (2, 0.02), (3, 0.2), (4, 0.9)], "id int, p double"
    )
    bh = {r["id"]: r for r in bh_fdr(df, "id", F.col("p"), alpha=0.2).collect()}
    by = {r["id"]: r for r in bh_fdr(
        df, "id", F.col("p"), alpha=0.2, method="by").collect()}
    c4 = (round(1e9 / 1) + round(1e9 / 2) + round(1e9 / 3) + round(1e9 / 4)) / 1e9
    for i in (1, 2, 3):  # id 4 caps at 1.0 under both
        assert abs(by[i]["p_adj"] - min(1.0, bh[i]["p_adj"] * c4)) < 1e-7
    assert bh[1]["rejected"] and by[1]["rejected"]
    assert bh[3]["rejected"] is False
    # method guard
    with pytest.raises(ValueError, match="unknown method"):
        bh_fdr(df, "id", F.col("p"), method="zzz")


def test_sprt_from_counts_matches_sequential_final_state(spark):
    """The at-read half over final counts equals sprt_bernoulli's
    final LLR (decision-at-now vs first-crossing: the 'up' arm crossed
    long ago AND still reads accept_h1 from its counts)."""
    from table_computing_spark.operators.drift import (
        sprt_bernoulli, sprt_from_counts,
    )

    rows = [("up", i, 1) for i in range(40)] + [("flat", 0, 1), ("flat", 1, 0)]
    df = spark.createDataFrame(rows, "arm string, o int, y int")
    seq = {r["arm"]: r for r in sprt_bernoulli(
        df, "arm", F.col("o"), F.col("y") == 1,
        p0=0.4, p1=0.55).collect()}
    counts = df.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("k")
    )
    now = {r["arm"]: r for r in sprt_from_counts(
        counts, "arm", F.col("n"), F.col("k"), p0=0.4, p1=0.55).collect()}
    for arm in ("up", "flat"):
        assert now[arm]["llr"] == seq[arm]["llr_final"]
        assert now[arm]["n"] == seq[arm]["n"]
    assert now["up"]["decision"] == "accept_h1"
    assert now["flat"]["decision"] == "continue"
