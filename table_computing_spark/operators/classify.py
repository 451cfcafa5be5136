"""Distributed document classification — multinomial Naive Bayes.

The trainable counterpart of text.lang_id's fixed heuristic: fastText-
class quality/language/domain classifiers in training-data pipelines
are, at their core, linear models over token counts — multinomial NB
is the closed-form member of that family, so both training and scoring
reduce entirely to joins and aggregates (no gradient loop, no driver
state beyond two scalars). The reference has no ML surface at all
(SURVEY §2 — its closest analog is the UDF-everything escape hatch);
this is the Spark-first widening a 100 TB curation pipeline needs.

Scale shape:
  train — one token explode, a hash aggregate keyed on (class, token)
          (map-side combinable; shuffle width O(classes x vocab), the
          same width any term-frequency table pays), and a per-class
          total. The completed log-likelihood matrix stays distributed.
  score — doc tokens cross the (small) class list, then one left join
          against the likelihood matrix keyed on (token, class) and a
          per-(doc, class) sum; the winner is an argmax via max(struct)
          — never a window sort over the corpus.

Only two scalars ever reach the driver: |vocab| and |classes| (both
needed to build smoothing constants into the plan) — the same bounded
pull the IVF centroid fit makes (similarity.py:246).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from table_computing_spark.operators._util import materialize
from table_computing_spark.operators.text import tokens


def nb_train(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    alpha: float = 1.0,
) -> "tuple[DataFrame, DataFrame]":
    """Fit multinomial NB with Laplace smoothing `alpha`.

    Returns (classes, likelihood):
      classes    — (__y, log_prior, __tot) one row per class
      likelihood — (__tok, __y, log_lik) the COMPLETE vocab x class
                   matrix, log_lik = ln((n_{y,tok}+alpha) /
                   (tot_y + alpha*|V|))
    Both stay distributed; join them into a scoring plan via nb_score.
    """

    tok = df.select(
        F.col(label_col).alias("__y"), F.explode(tokens(F.col(text_col))).alias("__tok")
    )
    n_docs = df.count()
    # the (class, token) count table is the single expensive aggregate
    # (corpus explode + shuffle); materialize it once and derive the
    # vocab AND its size from it — the old form re-ran the explode for
    # the vocab_size count at construction, for class_tok, and for the
    # vocab subtree in the final plan (3 corpus explodes -> 1). Every
    # token row carries some __y (NULL labels group as a class), so
    # distinct __tok over class_tok is exactly distinct __tok over tok.
    class_tok = materialize(
        tok.groupBy("__y", "__tok").agg(F.count(F.lit(1)).alias("__n")), eager=False
    )
    vocab = class_tok.select("__tok").distinct()
    vocab_size = vocab.count()
    class_tot = class_tok.groupBy("__y").agg(F.sum("__n").alias("__tot"))
    priors = (
        df.groupBy(F.col(label_col).alias("__y"))
        .agg(F.count(F.lit(1)).alias("__nd"))
        .join(class_tot, "__y")
        .select(
            "__y",
            F.log(F.col("__nd") / F.lit(float(n_docs))).alias("log_prior"),
            "__tot",
        )
    )
    likelihood = (
        vocab.crossJoin(F.broadcast(priors.select("__y", "__tot")))
        .join(class_tok, ["__y", "__tok"], "left")
        .select(
            "__tok",
            "__y",
            F.log(
                (F.coalesce("__n", F.lit(0)) + F.lit(alpha))
                / (F.col("__tot") + F.lit(alpha * vocab_size))
            ).alias("log_lik"),
        )
    )
    # stash |V| on the frame so nb_score need not re-execute the whole
    # likelihood plan just to count its distinct tokens
    likelihood._tc_vocab_size = vocab_size  # type: ignore[attr-defined]
    return priors, likelihood


def nb_score(
    df: DataFrame,
    priors: DataFrame,
    likelihood: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    vocab_size: "int | None" = None,
) -> DataFrame:
    """Score every doc against the fitted model: per (doc, class),
    score = log_prior + sum over token occurrences of log_lik, tokens
    unseen in training backing off to ln(alpha / (tot_y + alpha*|V|)).
    Output: (id, pred, score) — pred = argmax class, ties broken by
    larger class name (deterministic, engine-portable).

    `vocab_size` must be passed when scoring a corpus other than the
    training one (it fixes the backoff constant); defaults to the size
    nb_train stashed on the likelihood frame, else its distinct-token
    count."""
    if vocab_size is None:
        vocab_size = getattr(likelihood, "_tc_vocab_size", None)
    if vocab_size is None:
        vocab_size = likelihood.select("__tok").distinct().count()
    tok = df.select(
        F.col(id_col).alias("__id"), F.explode(tokens(F.col(text_col))).alias("__tok")
    )
    backoff = F.log(F.lit(alpha) / (F.col("__tot") + F.lit(alpha * vocab_size)))
    scored = (
        tok.crossJoin(F.broadcast(priors))
        .join(likelihood, ["__tok", "__y"], "left")
        .groupBy("__id", "__y")
        .agg(
            (
                F.first("log_prior")
                + F.sum(F.coalesce(F.col("log_lik"), backoff))
            ).alias("__score")
        )
    )
    best = scored.groupBy("__id").agg(
        F.max(F.struct(F.col("__score"), F.col("__y"))).alias("__best")
    )
    return best.select(
        F.col("__id").alias(id_col),
        F.col("__best.__y").alias("pred"),
        F.round("__best.__score", 6).alias("score"),
    )


def nb_classify(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Self-train + score in one plan (the corpus-audit use: how
    separable are the declared labels?). Output per doc:
    (id, actual, pred, score, correct)."""
    priors, likelihood = nb_train(df, text_col, label_col, alpha)
    scored = nb_score(df, priors, likelihood, text_col, id_col, alpha)
    return (
        df.select(F.col(id_col), F.col(label_col).alias("actual"))
        .join(scored, id_col)
        .select(
            id_col,
            "actual",
            "pred",
            "score",
            (F.col("pred") == F.col("actual")).cast("int").alias("correct"),
        )
    )


def logreg_gd(
    df: DataFrame,
    feature_cols: "list[str]",
    label_col: str,
    iterations: int = 3,
    lr: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """Distributed logistic-regression fit by full-batch gradient
    descent — the quality-classifier training primitive (fastText-style
    doc filters, CCNet quality gates) expressed as pure aggregations:

        z_i = w·x_i + b;  p_i = 1/(1+exp(-z));  g_j = Σ_i (p_i - y_i)·x_ij

    ENGINE-EXACT like linkage.estimate_em: every per-row gradient term
    is rounded to integer NANOS before the sum, so the reduction is
    order-independent and a FIXED iteration count unrolls into plain
    SQL scalar subqueries (exp/ln are bit-identical across engines on
    one host's libm — the repo-wide portability note). Weights are
    plain Python floats updated on the driver: k+1 scalars per
    iteration, independent of row count — the same bounded-driver
    discipline as the IVF centroid pulls.

    Features should be pre-scaled to O(1) magnitudes (standard GD
    hygiene; nano rounding assumes |gradient terms| < ~9e9). Returns a
    one-row DataFrame (iterations, n, w_<feature>..., bias) rounded to
    `round_to`.

    Scale shape per iteration: ONE map-side-combinable aggregation over
    the corpus (k+1 integer sums); no shuffle wider than the scalar
    aggregate, nothing but k+1 longs ever reaches the driver."""
    k = len(feature_cols)
    # n is folded into the FIRST iteration's gradient aggregate (one
    # count column riding the same scan) instead of a standalone
    # count() — a full extra pass over the corpus per call (guide §6,
    # same fold as brier/cochrans/the drift-wing totals)
    n: "int | None" = None
    w = [0.0] * k
    b = 0.0
    for _ in range(iterations):
        z = F.lit(b)
        for j, c in enumerate(feature_cols):
            z = z + F.lit(w[j]) * F.col(c).cast("double")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        resid = p - F.col(label_col).cast("double")
        aggs = [
            F.sum(
                F.round(resid * F.col(c).cast("double") * F.lit(1e9)).cast("long")
            ).alias(f"g{j}")
            for j, c in enumerate(feature_cols)
        ] + [F.sum(F.round(resid * F.lit(1e9)).cast("long")).alias("gb")]
        if n is None:
            aggs.append(F.count(F.lit(1)).alias("__n"))
        row = df.agg(*aggs).collect()[0]
        if n is None:
            n = int(row["__n"])
            if n == 0:
                raise ValueError("logreg_gd: empty training set")
        for j in range(k):
            w[j] -= lr * (row[f"g{j}"] / 1e9) / n
        b -= lr * (row["gb"] / 1e9) / n
    if n is None:  # iterations == 0: the count is the only scan
        n = df.count()
        if n == 0:
            raise ValueError("logreg_gd: empty training set")
    spark = df.sparkSession
    out = [(iterations, n, *w, b)]
    schema = ("iterations int, n long, "
              + ", ".join(f"w_{c} double" for c in feature_cols)
              + ", bias double")
    raw = spark.createDataFrame(out, schema)
    # round Spark-side (HALF_UP, like the SQL oracle) — Python round()
    # is half-even and would diverge on exact boundaries
    return raw.select(
        "iterations",
        "n",
        *[F.round(f"w_{c}", round_to).alias(f"w_{c}") for c in feature_cols],
        F.round("bias", round_to).alias("bias"),
    )


def calibration_bins(
    df: DataFrame,
    score_int: "F.Column | str",
    scale: int,
    label_col: "F.Column | str",
    bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Reliability-diagram bins + Expected Calibration Error for a
    probabilistic classifier score — the model-eval readout a curation
    pipeline runs before trusting a quality/language classifier's
    probabilities at volume (Naeini et al. 2015's ECE, public
    statistics).

    Engine-exact discipline: the score enters as an INTEGER numerator
    `score_int` with denominator `scale` (score = score_int/scale in
    [0, 1]), so per-bin mean prediction and positive rate are single
    divisions of exact integer sums, and ECE's weighted gap uses the
    common-denominator form

        ECE = Σ_bins |scale·pos_i − Σscore_int_i| / (scale · N)

    whose numerator is an exact integer — no float accumulation.

    Shape: ONE hash aggregate over the scored rows (map-side
    combinable), then arithmetic on ≤ bins rows; the ECE total joins
    back broadcast so every bin row carries it.
    """
    s = F.col(score_int) if isinstance(score_int, str) else score_int
    y = F.col(label_col) if isinstance(label_col, str) else label_col
    s = s.cast("long")
    bin_c = F.least(
        F.floor(s * F.lit(int(bins)) / F.lit(int(scale))), F.lit(int(bins) - 1)
    ).cast("int")
    per = (
        df.select(
            bin_c.alias("bin"),
            s.alias("__s"),
            y.cast("long").alias("__y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__s").alias("__ssum"),
            F.sum("__y").alias("__pos"),
        )
    )
    gap_num = F.abs(F.lit(int(scale)) * F.col("__pos") - F.col("__ssum"))
    per = per.withColumn("__gap", gap_num)
    tot = per.agg(
        F.sum("n").alias("__n_total"), F.sum("__gap").alias("__gap_total")
    )
    out = per.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    return out.select(
        "bin",
        "n",
        F.round(F.col("__ssum").cast("double") / (nd * float(scale)), round_to).alias(
            "mean_pred"
        ),
        F.round(F.col("__pos").cast("double") / nd, round_to).alias("pos_rate"),
        F.round(
            F.col("__gap_total").cast("double")
            / (F.col("__n_total").cast("double") * float(scale)),
            round_to,
        ).alias("ece"),
    )


def label_noise(
    df: DataFrame,
    anchors: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 4,
) -> DataFrame:
    """Label-noise suspects by neighborhood disagreement (the
    confident-learning / Cleanlab idea reduced to its retrieval core):
    a point whose k nearest neighbors mostly carry a DIFFERENT label
    is a mislabeling suspect — the curation step that runs before
    training on weakly-labeled data.

    Output per anchor: (id, label, n_disagree, disagree_rate) with the
    rate an exact integer division rounded once. Anchors bound the
    audited set (the fixed-sample rule — audit a constant panel, or
    feed ANN candidates for full-corpus sweeps); neighbors come from
    similarity.cosine_topk, so the plan is broadcast anchors + a
    partitioned rank window, never an unbounded self-join."""
    from table_computing_spark.operators import similarity as sim

    nn = sim.cosine_topk(df, anchors, k, id_col, vec_col)
    lab = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__nl")
    )
    own = anchors.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias(label_col)
    )
    agg = (
        nn.join(lab, "neighbor_id")
        .join(own, "query_id")
        .groupBy("query_id", label_col)
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.sum((F.col("__nl") != F.col(label_col)).cast("long")).alias(
                "n_disagree"
            ),
        )
    )
    return agg.select(
        F.col("query_id").alias(id_col),
        label_col,
        "n_neighbors",
        "n_disagree",
        F.round(
            F.col("n_disagree").cast("double") / F.col("n_neighbors").cast("double"),
            round_to,
        ).alias("disagree_rate"),
    )


def conformal_intervals(
    df: DataFrame,
    keys: Sequence[str],
    actual_col: str,
    pred_col: str,
    calib_cond: Column,
    alpha: float = 0.1,
    round_to: int = 6,
) -> DataFrame:
    """Split-conformal prediction intervals per group (Vovk et al.;
    the Papadopoulos 2002 inductive form — public): on the CALIBRATION
    rows (calib_cond true) take absolute residuals r = |actual − pred|
    and set

        q_hat = the ⌈(n_cal + 1)·(1 − alpha)⌉-th smallest residual

    then [pred ± q_hat] covers a fresh point with probability
    ≥ 1 − alpha, distribution-free. The remaining rows act as the
    holdout: the operator reports their EMPIRICAL coverage next to the
    guarantee, which is the calibration sanity check a model gate
    actually wants.

    Output per group: (keys..., n_cal, q_hat, n_test, coverage).
    q_hat is NULL when the rank exceeds n_cal (too few calibration
    rows for the requested alpha — the honest "cannot certify" row).

    Engine-exactness: residuals are exact integers (pass integer-unit
    columns), q_hat is an exact order statistic (rank window ordered
    by residual), coverage one division of exact counts. The rank
    window is PARTITIONED by keys over calibration rows only."""
    from pyspark.sql.window import Window

    keys = list(keys)
    r = F.abs(F.col(actual_col).cast("long") - F.col(pred_col).cast("long"))
    cal = df.filter(calib_cond).select(*keys, r.alias("__r"))
    w = Window.partitionBy(*keys).orderBy(F.col("__r").asc())
    ranked = cal.withColumn("__rk", F.row_number().over(w))
    sizes = cal.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_cal"))
    lvl = float(1.0 - alpha)
    qhat = (
        ranked.join(sizes, keys)
        .filter(
            F.col("__rk")
            == F.ceil((F.col("n_cal") + 1) * F.lit(lvl)).cast("long")
        )
        .select(*keys, F.col("__r").alias("q_hat"))
    )
    per = sizes.join(qhat, keys, "left")  # NULL q_hat = rank out of range
    test = (
        df.filter(~calib_cond)
        .select(*keys, r.alias("__r"))
        .join(per, keys, "inner")
    )
    cov = test.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(
            F.when(F.col("__r") <= F.col("q_hat"), 1).otherwise(0)
        ).alias("__hit"),
    )
    return (
        per.join(cov, keys, "left")
        .select(
            *keys, "n_cal", "q_hat",
            F.coalesce(F.col("n_test"), F.lit(0)).alias("n_test"),
            # NULL q_hat = nothing to certify: coverage must be NULL,
            # not the misleading 0.0 the bare hit count would produce
            F.round(
                F.when(
                    F.col("q_hat").isNotNull(),
                    F.col("__hit").cast("double") / F.col("n_test").cast("double"),
                ),
                round_to,
            ).alias("coverage"),
        )
    )


def decision_stump(
    df: DataFrame,
    feature_col: str,
    value_col: "F.Column | str",
    target_col: "F.Column | str",
    round_to: int = 6,
) -> DataFrame:
    """Best single-split regression stump per feature (CART's one-level
    tree, Breiman 1984 — public): for every candidate threshold t over
    a feature's DISTINCT values, the SSE reduction of splitting rows
    into value ≤ t / value > t,

        gain(t) = SSE_all − (SSE_left(t) + SSE_right(t))
        SSE     = Σy² − (Σy)²/n

    reported at the argmax — THE feature-screening readout (which raw
    signals carry target information, and where their useful cut sits)
    and the weak learner under every boosting stack.

    Input is LONG format (feature name, feature value, target), so one
    call screens any number of features in a single pass. `target_col`
    must be INTEGER-exact (cents, counts — the welch_ttest contract):
    per-value sufficient statistics (n, Σy, Σy²) stay in DECIMAL(38,0),
    prefix sums run per feature over the DISTINCT-VALUE table (never
    the data rows), and the gain arithmetic is fixed-order doubles
    rounded BEFORE the argmax (the changepoint_single discipline).
    Ties: the smallest threshold wins. DISCRETIZE CONTRACT: continuous
    features should be bucketed first (same rule as kaplan_meier's
    distinct-time note) or the per-feature window input is data-sized.

    Output: (feature, n, split_value, gain, n_left) — one row per
    feature; features whose every row ties on value (no valid split)
    are absent."""
    from pyspark.sql.window import Window as W

    v = F.col(value_col) if isinstance(value_col, str) else value_col
    y = (F.col(target_col) if isinstance(target_col, str) else target_col).cast(
        "decimal(38,0)"
    )
    per = (
        df.select(
            F.col(feature_col).alias("feature"),
            v.cast("double").alias("__v"),
            y.alias("__y"),
        )
        .filter(F.col("__v").isNotNull() & F.col("__y").isNotNull())
        .groupBy("feature", "__v")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.sum("__y").alias("__s"),
            F.sum(F.col("__y") * F.col("__y")).alias("__q"),
        )
    )
    w = W.partitionBy("feature").orderBy("__v").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wall = W.partitionBy("feature")
    # pre (per-value aggregate + two window passes) feeds the gain
    # candidates AND the final n_left join-back — materialize once
    pre = per.select(
        "feature",
        "__v",
        F.sum("__c").over(w).alias("__nl"),
        F.sum("__s").over(w).alias("__sl"),
        F.sum("__q").over(w).alias("__ql"),
        F.sum("__c").over(wall).alias("__n"),
        F.sum("__s").over(wall).alias("__sn"),
        F.sum("__q").over(wall).alias("__qn"),
    ).transform(materialize, eager=False)
    d = lambda c: c.cast("double")  # noqa: E731
    sse_all = d(F.col("__qn")) - d(F.col("__sn")) * d(F.col("__sn")) / d(F.col("__n"))
    sse_l = d(F.col("__ql")) - d(F.col("__sl")) * d(F.col("__sl")) / d(F.col("__nl"))
    sr = F.col("__sn") - F.col("__sl")
    qr = F.col("__qn") - F.col("__ql")
    nr = F.col("__n") - F.col("__nl")
    sse_r = d(qr) - d(sr) * d(sr) / d(nr)
    cand = pre.filter(F.col("__nl") < F.col("__n")).select(
        "feature",
        "__v",
        "__n",
        "__nl",
        F.round(sse_all - sse_l - sse_r, round_to).alias("gain"),
    )
    best = cand.groupBy("feature").agg(F.max("gain").alias("gain"))
    picked = cand.join(best, ["feature", "gain"]).groupBy("feature", "gain").agg(
        F.min("__v").alias("split_value"),
        F.max("__n").cast("long").alias("n"),
    )
    # n_left at the PICKED (feature, threshold) — re-join the prefix row
    out = picked.join(
        pre.select(
            "feature",
            F.col("__v").alias("split_value"),
            F.col("__nl").cast("long").alias("n_left"),
        ),
        ["feature", "split_value"],
    )
    return out.select("feature", "n", "split_value", "gain", "n_left")


def isotonic_calibrate(
    df: DataFrame,
    score_int: "F.Column | str",
    scale: int,
    label_col: "F.Column | str",
    bins: int = 20,
    round_to: int = 6,
) -> DataFrame:
    """Isotonic (monotone nondecreasing) calibration of a classifier
    score over fixed-width bins, via the minimax representation of
    pool-adjacent-violators (Ayer 1955 / Robertson 1988 — public):

        fit(b) = max_{j ≤ b} min_{k ≥ b}  Σ_{i∈[j,k]} pos_i / Σ_{i∈[j,k]} n_i

    — the non-parametric alternative to Platt scaling next to
    calibration_bins (which only REPORTS the reliability gap; this
    repairs it), with the same integer-score contract (`score_int` /
    `scale`, the calibration_bins convention).

    Shape: one hash aggregate onto ≤ `bins` rows, then all pooling
    runs on bounded bins²/bins³ interval tables (j ≤ b ≤ k triples of
    a ≤20-row table) — exact integer interval sums from two prefix
    arrays, one division per interval, min/max are selection (no float
    accumulation). The bins-table windows are bounded-input by
    construction (the plan-gate whitelist class). Empty bins are
    absent from the output (no rows → no evidence; neighbors pool
    THROUGH them since intervals are index-based on present bins).

    Output: (bin, n, n_pos, raw_rate, calibrated) — calibrated is
    provably nondecreasing in bin order."""
    from pyspark.sql.window import Window as W

    s = (F.col(score_int) if isinstance(score_int, str) else score_int).cast("long")
    y = F.col(label_col) if isinstance(label_col, str) else label_col
    bin_c = F.least(
        F.floor(s * F.lit(int(bins)) / F.lit(int(scale))), F.lit(int(bins) - 1)
    ).cast("int")
    per = (
        df.select(bin_c.alias("bin"), y.cast("long").alias("__y"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__y").alias("n_pos"))
    )
    # dense index over the ≤bins PRESENT rows + inclusive prefix sums —
    # bounded global windows (whitelisted with a measured bound in the
    # plan gate, the q_psi_drift fixed-bin-table class)
    w1 = W.orderBy("bin")
    w = w1.rowsBetween(W.unboundedPreceding, W.currentRow)
    idx = per.select(
        "bin", "n", "n_pos",
        F.row_number().over(w1).alias("__i"),
        F.sum("n").over(w).alias("__cn"),
        F.sum("n_pos").over(w).alias("__cp"),
    )
    lo = idx.select(
        F.col("__i").alias("__j"),
        (F.col("__cn") - F.col("n")).alias("__cn0"),
        (F.col("__cp") - F.col("n_pos")).alias("__cp0"),
    )
    hi = idx.select(
        F.col("__i").alias("__k"),
        F.col("__cn").alias("__cn1"),
        F.col("__cp").alias("__cp1"),
    )
    ivals = lo.join(hi, F.col("__j") <= F.col("__k")).select(
        "__j", "__k",
        (
            (F.col("__cp1") - F.col("__cp0")).cast("double")
            / (F.col("__cn1") - F.col("__cn0")).cast("double")
        ).alias("__avg"),
    )
    # per (b, j): min over k >= b; then per b: max over j <= b
    inner = (
        idx.select(F.col("__i").alias("__b"))
        .join(ivals, F.col("__k") >= F.col("__b"))
        .filter(F.col("__j") <= F.col("__b"))
        .groupBy("__b", "__j")
        .agg(F.min("__avg").alias("__mn"))
    )
    fit = inner.groupBy("__b").agg(F.max("__mn").alias("__fit"))
    return (
        idx.join(fit, idx["__i"] == fit["__b"])
        .select(
            "bin",
            "n",
            "n_pos",
            F.round(
                F.col("n_pos").cast("double") / F.col("n").cast("double"), round_to
            ).alias("raw_rate"),
            F.round(F.col("__fit"), round_to).alias("calibrated"),
        )
    )


def brier_logloss(
    df: DataFrame,
    score_int: "F.Column | str",
    scale: int,
    label_col: "F.Column | str",
    round_to: int = 6,
) -> DataFrame:
    """Proper scoring rules for probabilistic classifiers (Brier 1950;
    log loss — both public): the two numbers that, next to
    calibration_bins' ECE and roc_auc's ranking, complete the
    probability-quality readout:

        brier   = mean (p − y)²
        logloss = −mean [y·ln p + (1−y)·ln(1−p)]

    Same integer-score contract as calibration_bins: the score enters
    as `score_int`/`scale` ∈ [0, 1]. For logloss, p is clamped to
    [½/scale, 1 − ½/scale] (half a score quantum — the deterministic
    version of sklearn's eps clip; a hard 0 or 1 score would be ±inf).
    Each per-row term is fixed-order double arithmetic rounded to a
    nano long before the sum (terms are ≤ 1 for brier and ≤ ln(2·scale)
    for logloss — a long holds 9e9 rows worth either way), then one
    division each. Rows with NULL score/label drop. Output one row:
    (n, brier, logloss)."""
    s = F.col(score_int) if isinstance(score_int, str) else score_int
    y = F.col(label_col) if isinstance(label_col, str) else label_col
    base = df.select(
        s.cast("long").alias("__s"), y.cast("long").alias("__y")
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    p = F.col("__s").cast("double") / F.lit(float(scale))
    yd = F.col("__y").cast("double")
    brier_t = F.round((p - yd) * (p - yd) * 1e9).cast("long")
    lo = 0.5 / float(scale)
    pc = F.least(F.greatest(p, F.lit(lo)), F.lit(1.0 - lo))
    ll_t = F.round(
        -(yd * F.log(pc) + (1.0 - yd) * F.log(F.lit(1.0) - pc)) * 1e9
    ).cast("long")
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(brier_t).alias("__bn"),
        F.sum(ll_t).alias("__ln"),
    )
    nd = F.col("n").cast("double")
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("__bn").cast("double") / 1e9 / nd, round_to).alias("brier"),
        F.round(F.col("__ln").cast("double") / 1e9 / nd, round_to).alias("logloss"),
    )
