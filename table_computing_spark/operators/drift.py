"""Distribution drift detection between two dataset versions.

Retraining pipelines need a cheap, auditable answer to "did this
column's distribution move since the last snapshot?" before deciding
to retrain or to quarantine an ingest batch. The standard industry
metric is PSI (population stability index):

    PSI = Σ_buckets (p_i - q_i) · ln(p_i / q_i)

with the usual reading: < 0.1 stable, 0.1–0.25 moderate shift,
> 0.25 action required.

Engine-exact discipline (the repo-wide oracle rules):
  * fixed arithmetic binning — bucket = clamp(⌊(x-lo)/(hi-lo)·bins⌋)
    (DuckDB has no width_bucket; this form is portable);
  * counts are exact integers; p, q derive from them by one division;
  * each bucket's PSI term is rounded to integer NANOS and the total
    is an exact integer sum — no float-summation-order dependence
    (same trick as functions/aggregate.moment_stats);
  * ε = 1e-6 is added to both p and q so empty buckets are defined
    (the standard PSI smoothing).

Plan shape: each side is one scan + one hash aggregation of ≤ `bins`
rows; everything after the two aggregations operates on ≤ `bins` rows
(broadcast territory at any corpus size).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from table_computing_spark.operators._util import materialize

_EPS = 1e-6


def bucketize(col: Column, lo: float, hi: float, bins: int) -> Column:
    """Clamped fixed-width bucket index in [0, bins-1] — portable
    arithmetic form of width_bucket."""
    raw = F.floor((col - F.lit(lo)) / F.lit(hi - lo) * F.lit(bins)).cast("int")
    return F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw))


def bucket_counts(
    df: DataFrame, col: str, lo: float, hi: float, bins: int, name: str
) -> DataFrame:
    """One hash aggregation: (bucket, `name`=count) over non-null rows."""
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(bucketize(F.col(col), lo, hi, bins).alias("bucket"))
        .agg(F.count(F.lit(1)).alias(name))
    )


def _bucket_pair(
    old: DataFrame, new: DataFrame, col: str, lo: float, hi: float, bins: int
) -> DataFrame:
    """Every bucket in [0, bins) with both sides' counts, zero-filled:
    (bucket, n_old, n_new) — the ≤ bins-row table psi_drift and
    js_divergence score."""
    spark = old.sparkSession
    all_buckets = spark.range(bins).select(F.col("id").cast("int").alias("bucket"))
    return (
        all_buckets.join(bucket_counts(old, col, lo, hi, bins, "n_old"), "bucket", "left")
        .join(bucket_counts(new, col, lo, hi, bins, "n_new"), "bucket", "left")
        .fillna(0, subset=["n_old", "n_new"])
    )


def psi_from_counts(j: DataFrame) -> DataFrame:
    """PSI report from joined per-bucket counts (bucket, n_old, n_new)
    — the post-aggregation core, shared by the batch operator and the
    streaming monitor readout. Input is ≤ bins rows."""
    from pyspark.sql import Window

    w = Window.partitionBy()  # <= bins rows — single tiny partition is fine
    p = F.col("n_old") / F.sum("n_old").over(w) + F.lit(_EPS)
    q = F.col("n_new") / F.sum("n_new").over(w) + F.lit(_EPS)
    term_nano = F.round((p - q) * F.log(p / q) * 1e9).cast("long")
    return (
        j.withColumn("p_old", F.round(p - _EPS, 9))
        .withColumn("p_new", F.round(q - _EPS, 9))
        .withColumn("__t", term_nano)
        .withColumn("psi_term", F.round(F.col("__t") / 1e9, 9))
        .withColumn("psi_total", F.round(F.sum("__t").over(w) / 1e9, 6))
        .drop("__t")
    )


def psi_drift(
    old: DataFrame,
    new: DataFrame,
    col: str,
    lo: float,
    hi: float,
    bins: int = 10,
) -> DataFrame:
    """Per-bucket drift report + total PSI (repeated on each row so the
    result is a single self-contained table):
    (bucket, n_old, n_new, p_old, p_new, psi_term, psi_total)."""
    return psi_from_counts(_bucket_pair(old, new, col, lo, hi, bins))


def woe_iv(
    df: DataFrame,
    feature: str,
    label: Column,
    lo: float,
    hi: float,
    bins: int = 10,
) -> DataFrame:
    """Weight-of-evidence / information-value feature screening — the
    classic credit-scoring (and feature-selection) diagnostic:

        WOE_i = ln( (e_i/E + ε) / (ne_i/NE + ε) )
        IV    = Σ_i ((e_i/E) - (ne_i/NE)) · WOE_i

    with the standard reading: IV < 0.02 useless, 0.1–0.3 medium,
    > 0.3 strong predictor. `label` is any boolean Column. Same
    engine-exact discipline as psi_drift: exact integer counts, IV
    terms rounded to integer nanos before the exact total. One scan +
    one ≤ bins-row aggregation."""
    spark = df.sparkSession
    agg = (
        df.filter(F.col(feature).isNotNull())
        .groupBy(bucketize(F.col(feature), lo, hi, bins).alias("bucket"))
        .agg(
            F.sum(label.cast("long")).alias("n_event"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .withColumn("n_nonevent", F.col("n_rows") - F.col("n_event"))
    )
    all_buckets = spark.range(bins).select(F.col("id").cast("int").alias("bucket"))
    j = all_buckets.join(agg, "bucket", "left").fillna(
        0, subset=["n_event", "n_rows", "n_nonevent"]
    )
    from pyspark.sql import Window

    w = Window.partitionBy()
    pe = F.col("n_event") / F.sum("n_event").over(w)
    pn = F.col("n_nonevent") / F.sum("n_nonevent").over(w)
    woe = F.log((pe + F.lit(_EPS)) / (pn + F.lit(_EPS)))
    term_nano = F.round((pe - pn) * woe * 1e9).cast("long")
    return j.select(
        "bucket",
        "n_event",
        "n_nonevent",
        F.round(woe, 9).alias("woe"),
        F.round(term_nano / 1e9, 9).alias("iv_term"),
        F.round(F.sum(term_nano).over(w) / 1e9, 6).alias("iv_total"),
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Mutual information I(A;B) between two categorical columns — the
    dependence screen for feature pairs (0 = independent; higher =
    redundant features or a leakage suspect):

        I = Σ_{a,b} p(a,b) · ln( p(a,b) / (p(a)·p(b)) )

    One hash aggregation on (a,b) — marginals derive from the joint by
    two tiny re-aggregations, never a second scan. Each cell's term is
    rounded to integer nanos and the total is an exact integer sum
    (float-order-independent). Output: one row per (a,b) cell with its
    term, plus the `mi_total` every row repeats. Cell count must be
    modest (categorical columns) — the aggregation output IS the
    result."""
    joint = df.groupBy(
        F.col(col_a).cast("string").alias("a"),
        F.col(col_b).cast("string").alias("b"),
    ).agg(F.count(F.lit(1)).alias("n_ab"))
    from pyspark.sql import Window

    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    wall = Window.partitionBy()
    n = F.sum("n_ab").over(wall)
    p_ab = F.col("n_ab") / n
    p_a = F.sum("n_ab").over(wa) / n
    p_b = F.sum("n_ab").over(wb) / n
    term_nano = F.round(p_ab * F.log(p_ab / (p_a * p_b)) * 1e9).cast("long")
    return joint.select(
        "a",
        "b",
        "n_ab",
        F.round(p_ab, 9).alias("p_ab"),
        F.round(term_nano / 1e9, 9).alias("mi_term"),
        F.round(F.sum(term_nano).over(wall) / 1e9, 6).alias("mi_total"),
    )


def robust_outliers(
    df: DataFrame,
    value_col: str,
    by: Sequence[str],
    k: float = 3.5,
    round_to: int = 6,
) -> DataFrame:
    """Median/MAD outlier flags — the robust complement of the
    z-score detector (q_anomaly_zscore): mean/stddev move with the
    outliers they are supposed to find; the median absolute deviation
    has a 50% breakdown point, so a contaminated group still flags
    correctly (Iglewicz & Hoaglin's modified z-score, 1.4826 scale
    for normal consistency).

    Per group: med = exact interpolated median, mad = median of
    |x - med|, flag = |x - med| > k * 1.4826 * mad (never flags when
    mad == 0 — a constant group has no outliers, not all outliers).

    Scale shape: two grouped exact-percentile aggregations (state
    bounded by group size — the documented per-group contract; use
    the selection-based quantiles module for a single giant group)
    broadcast back onto the row scan. Verdicts are deterministic:
    both medians are exact order statistics, the comparison uses
    rounded doubles on both engines."""
    gb = list(by)
    v = F.col(value_col).cast("double")
    med = df.groupBy(*gb).agg(
        F.percentile(v, F.lit(0.5)).alias("__med")
    )
    withmed = df.join(F.broadcast(med), gb)
    mad = withmed.groupBy(*gb).agg(
        F.percentile(F.abs(v - F.col("__med")), F.lit(0.5)).alias("__mad")
    )
    out = withmed.join(F.broadcast(mad), gb)
    dev = F.round(F.abs(v - F.col("__med")), round_to)
    thresh = F.round(F.lit(k) * F.lit(1.4826) * F.col("__mad"), round_to)
    return out.select(
        *gb,
        F.col(value_col),
        F.round(F.col("__med"), round_to).alias("med"),
        F.round(F.col("__mad"), round_to).alias("mad"),
        ((F.col("__mad") > 0) & (dev > thresh)).alias("is_outlier"),
    )


def benford_report(
    df: DataFrame,
    value_col: str,
    by: "Sequence[str] | None" = None,
    round_to: int = 6,
) -> DataFrame:
    """Benford's-law first-digit screen (Newcomb 1881 / Benford 1938 —
    public statistics; the classic books-cooking / synthetic-data
    smell test): per group, the observed share of each leading digit
    1-9 of |value| against the Benford expectation log10(1 + 1/d),
    plus the group's chi-square statistic

        chi2 = n · Σ_d (obs_d - exp_d)² / exp_d

    repeated on every digit row (the driver-free layout every grouped
    summary here uses). Zero/null values carry no leading digit and
    are excluded; shares are exact integer ratios; the expectation
    and chi-square are fixed-op-order float expressions mirrored by
    the oracle.

    One hash aggregation on (group, digit) + one on the group — no
    driver state, no window."""
    keys = list(by) if by else []
    # leading digit: strip SIGN-free leading zeros/points only (the
    # anchored pattern avoids zero-length-match semantics that differ
    # across regex engines), then take the first character
    digit = F.substring(
        F.regexp_replace(
            F.abs(F.col(value_col)).cast("decimal(38,9)").cast("string"),
            r"^[0.]+",
            "",
        ),
        1,
        1,
    ).try_cast("int")  # zero/null values strip to '' — null, not error
    base = df.select(*keys, digit.alias("__d")).where(
        F.col("__d").isNotNull() & (F.col("__d") > 0)
    )
    counts = base.groupBy(*keys, F.col("__d")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    totals = counts.groupBy(*keys).agg(F.sum("__c").alias("__n"))
    on = keys if keys else None
    j = (
        counts.join(totals, on) if on else counts.crossJoin(F.broadcast(totals))
    )
    obs = F.col("__c") / F.col("__n")
    exp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("__d"))
    scored = j.select(
        *keys,
        F.col("__d").alias("digit"),
        F.col("__c").cast("long").alias("n_digit"),
        F.col("__n").cast("long").alias("n"),
        F.round(obs, round_to).alias("observed"),
        F.round(exp, round_to).alias("expected"),
        (((obs - exp) * (obs - exp)) / exp).alias("__term"),
    )
    # chi-square: per-digit terms round to integer nanos BEFORE the sum
    # (order-independent), one division after — the repo-wide discipline
    chi = scored.groupBy(*keys).agg(
        F.round(
            F.max("n").cast("double")
            * (F.sum(F.round(F.col("__term") * 1e9).cast("long")) / F.lit(1e9)),
            round_to,
        ).alias("chi2")
    )
    out = scored.join(chi, on) if on else scored.crossJoin(F.broadcast(chi))
    return out.select(
        *keys, "digit", "n_digit", "n", "observed", "expected", "chi2"
    )


def _group_moments(
    df: DataFrame, value_col: Column, group_col: str
) -> tuple[DataFrame, Column]:
    """Per-group sufficient statistics (group_col, n, __s = Σx,
    __ss = Σx², in DECIMAL so the sums are order-free) and the sample
    variance over them as a column. It is NULL where n = 1, which has
    no sample variance, instead of a division by zero (r09 advice)."""
    x = value_col.cast("decimal(38,0)")
    per = df.groupBy(group_col).agg(
        F.count(value_col).alias("n"),
        F.sum(x).alias("__s"),
        F.sum(x * x).alias("__ss"),
    )
    nd = F.col("n").cast("double")
    var = (
        F.col("__ss").cast("double")
        - F.col("__s").cast("double") * F.col("__s").cast("double") / nd
    ) / (nd - F.lit(1.0))
    return per, F.when(F.col("n") > 1, var)


def welch_ttest(
    df: DataFrame,
    value_col: Column,
    group_col: str,
    control: str,
    round_to: int = 6,
) -> DataFrame:
    """Welch's unequal-variance t-test (Welch 1947 — public statistics)
    of every group against a named control group: the A/B experiment
    readout. `value_col` should be an INTEGER-exact expression (cents,
    counts) so the sufficient statistics — n, Σx, Σx² per group, kept
    in DECIMAL — aggregate order-independently; the mean / variance /
    t / Welch-df arithmetic then runs in a fixed operation order on
    doubles, so any engine reproduces the result bit-for-bit.

        var = (Σx² − (Σx)²/n) / (n−1)
        t   = (m_g − m_c) / sqrt(v_g/n_g + v_c/n_c)
        df  = (v_g/n_g + v_c/n_c)² /
              ((v_g/n_g)²/(n_g−1) + (v_c/n_c)²/(n_c−1))

    Shape: one hash aggregate on group_col, the 1-row control slice
    broadcast back — no window, no self-join of data rows.

    A group with a single row has no sample variance: its `var`,
    `t_stat` and `df_welch` are NULL (the power_mde rule). A one-row
    control makes `t_stat` and `df_welch` NULL for every group.

    Raises ValueError when `control` names a group with no rows — a
    misspelled control label must fail loudly, not return an empty
    frame that reads as "no treatment groups" (r08 ADVICE fix). The
    existence probe is a pushed-down filter + take(1): it
    short-circuits on the first matching row, so it stays cheap at
    any scale."""
    if not df.filter(F.col(group_col) == control).take(1):
        raise ValueError(
            f"welch_ttest: control group {control!r} has no rows in "
            f"column {group_col!r}"
        )
    per, var = _group_moments(df, value_col, group_col)
    mean = F.col("__s").cast("double") / F.col("n").cast("double")
    per = per.withColumn("mean", mean).withColumn("var", var)
    ctrl = per.filter(F.col(group_col) == control).select(
        F.col("n").alias("__cn"), F.col("mean").alias("__cm"), F.col("var").alias("__cv")
    )
    j = per.filter(F.col(group_col) != control).join(F.broadcast(ctrl))
    se_g = F.col("var") / F.col("n").cast("double")
    se_c = F.col("__cv") / F.col("__cn").cast("double")
    se2 = se_g + se_c
    t = (F.col("mean") - F.col("__cm")) / F.sqrt(se2)
    df_w = (se2 * se2) / (
        (se_g * se_g) / (F.col("n").cast("double") - F.lit(1.0))
        + (se_c * se_c) / (F.col("__cn").cast("double") - F.lit(1.0))
    )
    return j.select(
        group_col,
        "n",
        F.round("mean", round_to).alias("mean"),
        F.round("var", round_to).alias("var"),
        F.round(t, round_to).alias("t_stat"),
        F.round(df_w, round_to).alias("df_welch"),
    )


def ks_test(
    a: DataFrame,
    b: DataFrame,
    col: str,
    keys: Sequence[str] = (),
    round_to: int = 6,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic, optionally per
    group: D = max_x |F_a(x) − F_b(x)| over the empirical CDFs — the
    nonparametric complement to psi_drift (binned) and welch_ttest
    (mean-shift only); KS sees ANY distributional change.

    Exact and engine-portable: both samples collapse to per-value
    counts (one hash aggregate each), the CDFs are integer prefix sums
    over the merged value order, and the max gap is computed on the
    INTEGER cross-product form |cum_a·n_b − cum_b·n_a| — accumulated
    in DECIMAL(38,0) so the product cannot wrap even at
    billions-per-side sample sizes (long would overflow past
    n_a·n_b ≈ 2^63); no float accumulation anywhere; the single
    division happens once per group at the very end. NULL values are
    dropped (engines disagree on NULL placement in ORDER BY, and a
    NULL is not a sample point).

    Scale shape: data-sized work is the two count aggregates; the
    prefix runs on DISTINCT values via prefix_agg's partition-
    decomposed running sum (operators/prefix.py), so no unpartitioned
    window even for the global (keys=()) case. Output per group:
    (keys..., n_a, n_b, ks_num, ks_d) with ks_num the exact integer
    max |cum_a·n_b − cum_b·n_a| and ks_d = ks_num / (n_a·n_b).
    """
    from table_computing_spark.operators.prefix import prefix_agg

    keys = list(keys)
    u = a.where(F.col(col).isNotNull()).select(
        *keys, F.col(col).alias("__v"), F.lit(1).alias("__sa"), F.lit(0).alias("__sb")
    ).unionByName(
        b.where(F.col(col).isNotNull()).select(
            *keys, F.col(col).alias("__v"), F.lit(0).alias("__sa"), F.lit(1).alias("__sb")
        )
    )
    counts = u.groupBy(*keys, "__v").agg(
        F.sum("__sa").alias("__ai"), F.sum("__sb").alias("__bi")
    )
    cum = prefix_agg(
        counts,
        order_by=["__v"],
        specs={"__ca": ("sum", "__ai"), "__cb": ("sum", "__bi")},
        partition_by=keys or None,
    )
    if keys:
        totals = counts.groupBy(*keys).agg(
            F.sum("__ai").alias("n_a"), F.sum("__bi").alias("n_b")
        )
        cum = cum.join(F.broadcast(totals), keys)
    else:
        totals = counts.agg(
            F.sum("__ai").alias("n_a"), F.sum("__bi").alias("n_b")
        )
        cum = cum.crossJoin(F.broadcast(totals))
    dec = "decimal(38,0)"
    gap = F.abs(
        F.col("__ca").cast(dec) * F.col("n_b").cast(dec)
        - F.col("__cb").cast(dec) * F.col("n_a").cast(dec)
    )
    per = cum.groupBy(*keys, "n_a", "n_b").agg(F.max(gap).alias("__ks"))
    d = F.col("__ks").cast("double") / (
        F.col("n_a").cast("double") * F.col("n_b").cast("double")
    )
    return per.select(
        *keys,
        "n_a",
        "n_b",
        F.col("__ks").cast("double").alias("ks_num"),
        F.round(d, round_to).alias("ks_d"),
    )


def cusum_changepoint(
    df: DataFrame,
    keys: Sequence[str],
    order_by: "Sequence[str]",
    value_int: "Column | str",
    round_to: int = 6,
) -> DataFrame:
    """Single change-point location per key by the CUSUM criterion
    (Page 1954; the max-|CUSUM| estimator is the classic mean-shift
    locator): over the key's sequence in `order_by` order, the change
    point is

        k* = argmax_{1<=k<n} |S_k − (k/n)·S_n|,   S_k = Σ_{i<=k} x_i

    — where the running sum pulls furthest from the no-change line.
    Complements ks_test (is there drift between two snapshots?) with
    WHERE the shift happened inside one sequence.

    Exact and engine-portable: `value_int` must be an integer-unit
    expression (cents, counts); the criterion is evaluated in the
    common-denominator form |n·S_k − k·S_n| in DECIMAL(38,0) (exact
    integers that cannot wrap where long products would, n·S_k ≈ 1e23
    at a billion ~1e5-cent rows), ties break to the earliest k.
    cp_stat_num is emitted as DOUBLE for the same reason (a long cast
    would crash under ANSI at exactly that advertised scale). Output per key:
    (keys..., n, cp_k, cp_stat_num, cp_stat) with cp_stat =
    cp_stat_num / (n·max(|S_n|, 1)) — a scale-free magnitude.

    Shape: running sums via prefix_agg's partition-decomposed window
    (hot keys span partitions safely), per-key totals join back
    (AQE-broadcast), argmax is ONE max(struct) hash aggregate — no
    second pass, no window over the argmax."""
    from table_computing_spark.operators.prefix import prefix_agg

    keys = list(keys)
    x = (F.col(value_int) if isinstance(value_int, str) else value_int).cast("long")
    base = df.select(*keys, *order_by, x.alias("__x"))
    cum = prefix_agg(
        base,
        order_by=list(order_by),
        specs={"__sk": ("sum", "__x"), "__k": ("count", "__x")},
        partition_by=keys,
    )
    totals = base.groupBy(*keys).agg(
        F.sum("__x").alias("__sn"), F.count("__x").alias("__n")
    )
    j = cum.join(totals, keys).filter(F.col("__k") < F.col("__n"))
    dec = "decimal(38,0)"
    dk = F.abs(
        F.col("__n").cast(dec) * F.col("__sk").cast(dec)
        - F.col("__k").cast(dec) * F.col("__sn").cast(dec)
    )
    pick = F.max(
        F.struct(
            dk.alias("d"),
            (-F.col("__k")).alias("nk"),
            F.col("__k").alias("k"),
            F.col("__n").alias("n"),
            F.col("__sn").alias("sn"),
        )
    ).alias("__p")
    out = j.groupBy(*keys).agg(pick)
    stat = F.col("__p.d").cast("double") / (
        F.col("__p.n").cast("double")
        * F.greatest(F.abs(F.col("__p.sn")), F.lit(1)).cast("double")
    )
    return out.select(
        *keys,
        F.col("__p.n").alias("n"),
        F.col("__p.k").alias("cp_k"),
        F.col("__p.d").cast("double").alias("cp_stat_num"),
        F.round(stat, round_to).alias("cp_stat"),
    )


def srm_check(
    df: DataFrame,
    group_col: str,
    expected: "dict[str, float]",
    round_to: int = 6,
) -> DataFrame:
    """Sample-ratio-mismatch check (the first A/B-test sanity gate):
    per-group observed counts vs expected split ratios, with each
    group's chi-square term — flag the experiment when the total is
    improbable under the intended split.

        exp_g  = N · ratio_g
        term_g = (obs_g − exp_g)² / exp_g

    Counts are exact longs from one hash aggregate; N is the exact sum
    over the DECLARED groups (rows outside `expected` are excluded
    from N, so a new variant can't silently skew every term); each
    term runs in fixed op order on doubles and rounds once —
    engine-exact. One broadcast of the |groups|-row expectation table.
    A declared group with ZERO observed rows still gets its row
    (n_obs=0, chi2_term=n_expected) — an arm receiving no traffic is
    the loudest SRM there is and must not vanish from the report.

    Expected ratios must be > 0: a ramped-down arm declared with ratio
    0.0 would divide by zero (null/Inf term) instead of flagging — pass
    only the arms that are supposed to receive traffic (r09 advice)."""
    bad = [k for k, v in expected.items() if not float(v) > 0.0]
    if bad:
        raise ValueError(
            f"srm_check: expected ratios must be > 0 (got {bad}); drop "
            "ramped-down arms from `expected` — their observed rows are "
            "excluded from N and reported by the per-group counts instead"
        )
    ratios = df.sparkSession.createDataFrame(
        [(k, float(v)) for k, v in expected.items()],
        f"{group_col} string, __ratio double",
    )
    obs = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_obs"))
    # ratios is the preserved (outer) side, so the broadcast hint goes
    # on obs — itself bounded by observed-group cardinality
    known = (
        F.broadcast(obs)
        .join(ratios, group_col, "right")
        .fillna(0, subset=["n_obs"])
    )
    n = known.agg(F.sum("n_obs").alias("__N"))
    out = known.crossJoin(F.broadcast(n))
    exp = F.col("__N").cast("double") * F.col("__ratio")
    diff = F.col("n_obs").cast("double") - exp
    return out.select(
        group_col,
        "n_obs",
        F.round(exp, round_to).alias("n_expected"),
        F.round(diff * diff / exp, round_to).alias("chi2_term"),
    )


def power_mde(
    df: DataFrame,
    value_col: Column,
    group_col: str,
    z_alpha: float = 1.959964,
    z_power: float = 0.841621,
    round_to: int = 6,
) -> DataFrame:
    """Minimum detectable effect per group for a two-sample test at
    the given z quantiles (defaults: two-sided α=0.05, power 0.80 —
    fixed public constants, so no normal-quantile function is needed):

        MDE = (z_α + z_β) · sqrt(2 · var / n)

    The pre-experiment sizing readout next to welch_ttest (the
    post-readout) and srm_check (the sanity gate). Sufficient
    statistics aggregate in DECIMAL (pass an integer-unit value_col);
    the variance and MDE arithmetic runs in fixed op order on doubles
    and rounds once — engine-exact."""
    per, var = _group_moments(df, value_col, group_col)
    mde = F.lit(z_alpha + z_power) * F.sqrt(
        F.lit(2.0) * var / F.col("n").cast("double")
    )
    return per.select(
        group_col,
        "n",
        F.round(var, round_to).alias("var"),
        F.round(mde, round_to).alias("mde"),
    )


def js_divergence(
    old: DataFrame,
    new: DataFrame,
    col: str,
    lo: float,
    hi: float,
    bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Jensen–Shannon divergence between two samples over a fixed
    bucketing — the bounded, symmetric cousin of PSI (Lin 1991,
    public): JSD = ½·KL(P‖M) + ½·KL(Q‖M) with M = ½(P+Q), in nats,
    always in [0, ln 2]. Where PSI explodes on empty buckets (its
    epsilon dominates), JSD's terms vanish at p=0 — the better gate
    when distributions have disjoint support regions.

    Engine-exact discipline (the psi_drift pattern): exact integer
    bucket counts from one scan per side, per-bucket terms rounded to
    integer NANOS, exact long sum for the total, one final division.
    Per-bucket report + total repeated on each row:
    (bucket, n_old, n_new, p_old, p_new, js_term, js_total)."""
    j = _bucket_pair(old, new, col, lo, hi, bins)
    # A side with ZERO in-range rows makes every p (or q) 0/0: the
    # report would come back silently all-NULL (or ANSI-error) instead
    # of failing loudly — raise, matching the srm_check (ratio<=0) and
    # diff_in_diff (empty cell) empty-input discipline (r10 advice).
    # The check aggregates the bins-row count table — metadata-sized.
    tot = j.agg(
        F.sum("n_old").alias("__to"), F.sum("n_new").alias("__tn")
    ).first()
    empty = [s for s, v in (("old", tot["__to"]), ("new", tot["__tn"])) if not v]
    if empty:
        # buckets are clamped, so zero total == zero non-null rows
        raise ValueError(
            f"js_divergence: side(s) {empty} have no non-null `{col}` rows "
            "— JSD against an empty distribution is undefined"
        )
    from pyspark.sql import Window

    w = Window.partitionBy()
    p = F.col("n_old") / F.sum("n_old").over(w)
    q = F.col("n_new") / F.sum("n_new").over(w)
    m = (p + q) / F.lit(2.0)
    # x·ln(x/m) with the 0·ln0 = 0 convention, exact at the term level
    kl_p = F.when(F.col("n_old") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
    kl_q = F.when(F.col("n_new") > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    term_nano = F.round((kl_p + kl_q) / F.lit(2.0) * 1e9).cast("long")
    out = j.select(
        "bucket", "n_old", "n_new",
        F.round(p, round_to).alias("p_old"),
        F.round(q, round_to).alias("p_new"),
        term_nano.alias("__tn"),
    )
    total = F.sum("__tn").over(Window.partitionBy())
    return out.select(
        "bucket", "n_old", "n_new", "p_old", "p_new",
        F.round(F.col("__tn") / 1e9, round_to).alias("js_term"),
        F.round(total / 1e9, round_to).alias("js_total"),
    )


def diff_in_diff(
    df: DataFrame,
    group_col: str,
    period_col: str,
    value_col: Column,
    treat_group: str,
    control_group: str,
    pre_period: str,
    post_period: str,
    round_to: int = 6,
) -> DataFrame:
    """Difference-in-differences estimate for a natural experiment
    (Card & Krueger 1994 design, public): the treatment effect under
    the parallel-trends assumption is

        DiD = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre)

    One hash aggregate over the four cells; sums in DECIMAL (pass an
    integer-unit value_col), each mean a single division, the estimate
    a fixed-order expression — engine-exact. Returns one row:
    (mean_treat_pre, mean_treat_post, mean_ctrl_pre, mean_ctrl_post,
    did). Raises when any of the four cells is empty — a DiD without
    all four cells is not an estimate."""
    x = value_col.cast("decimal(38,0)")
    cells = (
        df.filter(
            F.col(group_col).isin(treat_group, control_group)
            & F.col(period_col).isin(pre_period, post_period)
        )
        .groupBy(group_col, period_col)
        .agg(F.sum(x).alias("__s"), F.count(F.lit(1)).alias("__n"))
    )

    def cell(g: str, p: str) -> Column:
        cond = (F.col(group_col) == g) & (F.col(period_col) == p)
        return (
            F.sum(F.when(cond, F.col("__s"))).cast("double")
            / F.sum(F.when(cond, F.col("__n"))).cast("double")
        )

    got = {
        (r[group_col], r[period_col])
        for r in cells.select(group_col, period_col).collect()
    }
    missing = [
        c for c in [
            (treat_group, pre_period), (treat_group, post_period),
            (control_group, pre_period), (control_group, post_period),
        ] if c not in got
    ]
    if missing:
        raise ValueError(f"diff_in_diff: empty cells {missing} — all four "
                         "(group, period) cells must have rows")
    tp, tq = cell(treat_group, pre_period), cell(treat_group, post_period)
    cp, cq = cell(control_group, pre_period), cell(control_group, post_period)
    return cells.agg(
        F.round(tp, round_to).alias("mean_treat_pre"),
        F.round(tq, round_to).alias("mean_treat_post"),
        F.round(cp, round_to).alias("mean_ctrl_pre"),
        F.round(cq, round_to).alias("mean_ctrl_post"),
        F.round((tq - tp) - (cq - cp), round_to).alias("did"),
    )


def mann_whitney(
    df: DataFrame,
    in_group_a: Column,
    value_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Mann–Whitney U rank-sum test (Mann & Whitney 1947, public) with
    midrank ties and the tie-corrected normal approximation — the
    nonparametric two-sample complement of welch_ttest (use it when
    the drift you're hunting is a location shift in a non-normal
    metric, e.g. latency or doc-length distributions between two
    pipeline variants):

        U  = R_A − n_A(n_A+1)/2
        z  = (U − n_A·n_B/2) / sqrt(n_A·n_B/12 · ((N+1) − Σ(t³−t)/(N(N−1))))

    Everything before the final z expression is exact integer/decimal
    arithmetic on the DISTINCT-VALUE table (the roc_auc machinery:
    2·R_A = Σ n_A(v)·(2·cum_before(v) + n(v) + 1) via one hash
    aggregate + the distributed prefix sum, never an unpartitioned
    window over data rows). U is reported exactly (an .5-granular
    double); z is NULL when every value ties (σ = 0) or either group
    is empty. No continuity correction (the large-N convention).
    Output one row: (u, z, n_a, n_b)."""
    from table_computing_spark.operators.prefix import prefix_agg

    s = df.select(
        value_col.cast("double").alias("__v"),
        in_group_a.cast("int").alias("__a"),
    ).filter(F.col("__v").isNotNull() & F.col("__a").isNotNull())
    per = s.groupBy("__v").agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__a").alias("__na")
    )
    pre = prefix_agg(
        per, order_by=["__v"], specs={"__cb": ("sum", "__n")}, exclusive=True
    )
    dec = "decimal(38,0)"
    cb = F.coalesce(F.col("__cb"), F.lit(0)).cast(dec)
    r2 = F.col("__na").cast(dec) * (
        F.lit(2).cast(dec) * cb + F.col("__n").cast(dec) + F.lit(1).cast(dec)
    )
    t = F.col("__n").cast(dec)
    agg = pre.agg(
        F.sum(r2).alias("__r2"),
        F.sum("__na").cast("long").alias("n_a"),
        (F.sum("__n") - F.sum("__na")).cast("long").alias("n_b"),
        F.sum(t * t * t - t).alias("__ties"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nn = na + nb
    u = (F.col("__r2").cast("double") - na * (na + 1.0)) / 2.0
    mu = na * nb / 2.0
    var = (
        na * nb / 12.0
        * ((nn + 1.0) - F.col("__ties").cast("double") / (nn * (nn - 1.0)))
    )
    z = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (var > 0),
        (u - mu) / F.sqrt(var),
    )
    return agg.select(
        u.alias("u"), F.round(z, round_to).alias("z"), "n_a", "n_b"
    )


def bh_fdr(
    df: DataFrame,
    id_col: str,
    p_col: Column,
    alpha: float = 0.05,
    round_to: int = 9,
    method: str = "bh",
) -> DataFrame:
    """Benjamini–Hochberg false-discovery-rate control (Benjamini &
    Hochberg 1995, public) over a table of per-test p-values — the
    multiple-comparisons gate an experimentation platform needs the
    moment it runs more than one A/B readout (srm_check / welch_ttest
    / mann_whitney feed this):

        rank tests by p ascending; reject all tests up to the largest
        rank i with p_(i) ≤ i·alpha/m; adjusted p_(i) =
        min_{j ≥ i} (m·p_(j)/j), capped at 1.

    Scale shape: both ordered passes are prefix.prefix_agg (the
    distributed two-pass prefix sum) — rank from an ascending
    exclusive count, and the suffix min/any from a DESCENDING prefix
    pass — so no unpartitioned window ever sees the test table (m can
    be millions of per-segment tests). The total count m joins in as
    a 1-row broadcast scalar. Each adjusted value is one
    multiplication + division (no float sums), so engines agree
    bit-for-bit before the final round. Ties on p are ordered by id —
    ranks differ but BOTH the threshold rule and the suffix-min make
    the outputs tie-invariant. Output: (id, p_value, bh_rank, p_adj,
    rejected).

    method="by" switches to Benjamini–Yekutieli (2001): the same
    step-up rule with the threshold and adjustment inflated by the
    harmonic factor c(m) = Σ_{i≤m} 1/i — valid under ARBITRARY
    dependence between the tests (BH assumes positive dependence).
    c(m) is computed as an exact nano-integer sum over a distributed
    range (round(1e9/i) per i — both engines produce the identical
    long), never a float accumulation."""
    from table_computing_spark.operators.prefix import prefix_agg

    if method not in ("bh", "by"):
        raise ValueError(f"bh_fdr: unknown method {method!r}; use bh|by")

    base = df.select(
        F.col(id_col).alias("id"), p_col.cast("double").alias("p_value")
    ).filter(F.col("p_value").isNotNull())
    m = base.agg(F.count(F.lit(1)).alias("__m"))
    ranked = prefix_agg(
        base,
        order_by=["p_value", "id"],
        specs={"__rk0": ("count", "p_value")},
        exclusive=True,
    ).select(
        "id", "p_value", (F.col("__rk0") + 1).cast("long").alias("bh_rank")
    ).crossJoin(F.broadcast(m))
    if method == "by":
        # ranks are exactly 1..m, so the harmonic sum is one aggregate
        # over the ranked table — an exact nano-integer in both engines
        hm = (
            ranked.agg(
                F.sum(
                    F.round(F.lit(1e9) / F.col("bh_rank")).cast("long")
                ).alias("h")
            ).collect()[0]["h"]
            or 0
        )
        cfac = hm / 1e9  # one division, mirrored by the oracle
    else:
        cfac = 1.0
    staged = ranked.select(
        "id",
        "p_value",
        "bh_rank",
        (
            (F.col("__m").cast("double") * F.lit(cfac) * F.col("p_value")
             / F.col("bh_rank").cast("double"))
            if method == "by"
            else (F.col("__m").cast("double") * F.col("p_value")
                  / F.col("bh_rank").cast("double"))
        ).alias("__praw"),
        (
            (F.col("p_value") * F.col("__m").cast("double") * F.lit(cfac)
             <= F.col("bh_rank").cast("double") * F.lit(float(alpha)))
            if method == "by"
            else (F.col("p_value") * F.col("__m").cast("double")
                  <= F.col("bh_rank").cast("double") * F.lit(float(alpha)))
        ).cast("int").alias("__ok"),
    )
    suff = prefix_agg(
        staged,
        order_by=[F.col("bh_rank").desc()],
        specs={"__minp": ("min", "__praw"), "__any": ("max", "__ok")},
        exclusive=False,
    )
    return suff.select(
        "id",
        "p_value",
        "bh_rank",
        F.round(F.least(F.lit(1.0), F.col("__minp")), round_to).alias("p_adj"),
        (F.col("__any") == 1).alias("rejected"),
    )


def spearman_corr(
    df: DataFrame,
    x_col: Column,
    y_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Spearman rank correlation with midrank ties (Spearman 1904,
    public) — Pearson on the rank transform; the monotone-association
    readout that survives outliers and nonlinearity (feature screening
    against a quality label, metric-vs-metric sanity checks):

        rho = Σ cx·cy / (sqrt(Σ cx²) · sqrt(Σ cy²))

    over CENTERED DOUBLED midranks cx = 2·r_x − (N+1) — integers (a
    midrank is .5-granular, doubling makes it exact; centering makes
    Σcx = 0 so the covariance form needs no cross terms). Midranks
    come per column from the distinct-value hash aggregate + the
    distributed prefix sum (roc_auc machinery), joined back to rows by
    value — rows pass through two equi-joins, never a global sort.

    Exactness: all three sums accumulate integers in DECIMAL(38,0)
    (|cx| ≤ N, so Σcx² ≤ N³ — exact past N = 10¹²); the final
    expression is two sqrts and one division. Rows with a NULL in
    either column are dropped (pairwise-complete, documented). NULL
    rho when either side is constant. Output one row:
    (spearman_rho, n)."""
    from table_computing_spark.operators.prefix import prefix_agg

    base = df.select(
        x_col.cast("double").alias("__x"), y_col.cast("double").alias("__y")
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    n1 = base.agg(F.count(F.lit(1)).alias("__n"))

    def rank_map(col: str) -> DataFrame:
        per = base.groupBy(col).agg(F.count(F.lit(1)).alias("__c"))
        pre = prefix_agg(
            per, order_by=[col], specs={"__cb": ("sum", "__c")}, exclusive=True
        )
        # doubled midrank 2r = 2·cum_before + c + 1 (exact long)
        return pre.select(
            col,
            (
                F.lit(2) * F.coalesce(F.col("__cb"), F.lit(0))
                + F.col("__c")
                + F.lit(1)
            ).cast("long").alias(f"__r2{col}"),
        )

    withr = (
        base.join(rank_map("__x"), "__x")
        .join(rank_map("__y"), "__y")
        .crossJoin(F.broadcast(n1))
    )
    dec = "decimal(38,0)"
    cx = (F.col("__r2__x") - (F.col("__n") + 1)).cast(dec)
    cy = (F.col("__r2__y") - (F.col("__n") + 1)).cast(dec)
    agg = withr.agg(
        F.sum(cx * cy).alias("__sxy"),
        F.sum(cx * cx).alias("__sxx"),
        F.sum(cy * cy).alias("__syy"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    rho = F.when(
        (F.col("__sxx") > 0) & (F.col("__syy") > 0),
        F.col("__sxy").cast("double")
        / (F.sqrt(F.col("__sxx").cast("double")) * F.sqrt(F.col("__syy").cast("double"))),
    )
    return agg.select(F.round(rho, round_to).alias("spearman_rho"), "n")


def _chi2_cells(
    df: DataFrame, feature_col: str, value_col: Column, label_col: Column
) -> DataFrame:
    """Per-feature Pearson cell sum of a LONG-format (feature, value,
    label) frame: (feature, __t = Σ_cells nano-rounded (O − E)²/E as
    DECIMAL(38,0), __nv = |values|, __nl = |labels|, __nn = n). The
    cell algebra of chi2_screen and cramers_v, documented there."""
    base = df.select(
        F.col(feature_col).alias("feature"),
        value_col.cast("string").alias("__v"),
        label_col.cast("string").alias("__l"),
    ).filter(F.col("__v").isNotNull() & F.col("__l").isNotNull())
    cells = base.groupBy("feature", "__v", "__l").agg(
        F.count(F.lit(1)).alias("__o")
    )
    rowm = cells.groupBy("feature", "__v").agg(F.sum("__o").alias("__r"))
    colm = cells.groupBy("feature", "__l").agg(F.sum("__o").alias("__c"))
    tot = cells.groupBy("feature").agg(F.sum("__o").alias("__n"))
    grid = rowm.join(colm, "feature").join(tot, "feature").join(
        cells, ["feature", "__v", "__l"], "left"
    )
    o = F.coalesce(F.col("__o"), F.lit(0)).cast("double")
    e = F.col("__r").cast("double") * F.col("__c").cast("double") / F.col(
        "__n"
    ).cast("double")
    term = F.round((o - e) * (o - e) / e * 1e9).cast("decimal(38,0)")
    return grid.groupBy("feature").agg(
        F.sum(term).alias("__t"),
        F.count_distinct(F.col("__v")).alias("__nv"),
        F.count_distinct(F.col("__l")).alias("__nl"),
        F.first("__n").alias("__nn"),
    )


def chi2_screen(
    df: DataFrame,
    feature_col: str,
    value_col: Column,
    label_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Chi-square test of independence per feature (Pearson 1900,
    public) — the categorical feature-screening companion to
    mutual_information (which measures the same dependence in bits;
    chi2 adds the classical test statistic and degrees of freedom):

        chi2 = Σ_cells (O − E)² / E,   E = row·col / n

    Input is LONG format (feature name, categorical value, label) so
    one call screens many features. Cells are enumerated from the
    CROSS of the per-feature row/column marginals (an observed-cells-
    only sum would silently drop every O = 0 cell's E contribution),
    so all tables are category-sized, never row-sized. O/row/col/n are
    exact integers from hash aggregates; each cell term is fixed-order
    double arithmetic rounded to a nano DECIMAL(38,0) before the
    per-feature sum (cells ≤ |values|·|labels| — reduce-order-free).
    Unlike most nano stagings the cell term is UNBOUNDED (a strongly
    dependent feature contributes up to ~n·1e9 per cell), so the
    accumulator is DECIMAL, not long — a long would silently wrap past
    ~9e9 effective rows in non-ANSI Spark (r11 ADVICE finding).
    Output: (feature, chi2, dof, n)."""
    agg = _chi2_cells(df, feature_col, value_col, label_col)
    return agg.select(
        "feature",
        F.round(F.col("__t").cast("double") / 1e9, round_to).alias("chi2"),
        ((F.col("__nv") - 1) * (F.col("__nl") - 1)).cast("long").alias("dof"),
        F.col("__nn").cast("long").alias("n"),
    )


def cuped_adjust(
    df: DataFrame,
    arm_col: str,
    metric_col: Column,
    covariate_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """CUPED variance reduction for A/B metrics (Deng, Xu, Kohavi &
    Walker 2013 — public): shrink each arm's metric with a pre-period
    covariate before testing,

        θ  = cov(X, Y) / var(X)            (pooled across arms)
        Y' = Y − θ·(X − mean(X))
        adjusted mean(arm) = mean_Y(arm) − θ·(mean_X(arm) − mean(X))

    — the standard way to make welch_ttest detect smaller lifts at the
    same traffic. Both `metric_col` and `covariate_col` must be
    INTEGER-exact (cents, counts — the welch_ttest contract): the five
    pooled sufficient statistics (ΣX, ΣY, ΣX², ΣXY, n) and the per-arm
    sums stay in DECIMAL(38,0); θ and the adjusted means are fixed-
    order double arithmetic, rounded once. The pooled 1-row aggregate
    joins back broadcast — fully declarative, no driver round-trip.

    Output per arm: (arm, n, mean_raw, mean_adj, theta,
    var_reduction_pct) — the last two are pooled values repeated on
    every row (the readout a dashboard wants next to each arm);
    var_reduction_pct = 100·ρ²(X,Y), the theoretical variance drop.
    Raises ValueError when var(X) = 0 (constant covariate — θ
    undefined; checked with a 1-row probe, the srm_check loud-failure
    discipline)."""
    dec = "decimal(38,0)"
    x = covariate_col.cast(dec)
    yv = metric_col.cast(dec)
    base = df.select(
        F.col(arm_col).alias("arm"), x.alias("__x"), yv.alias("__y")
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    pooled = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
    )
    bad = pooled.filter(
        (F.col("__n") == 0)
        | (F.col("__sxx") * F.col("__n") == F.col("__sx") * F.col("__sx"))
    )
    if bad.take(1):
        raise ValueError(
            "cuped_adjust: covariate has zero variance (or no rows) — "
            "theta is undefined; pick a pre-period signal that varies"
        )
    nd = F.col("__n").cast("double")
    cov = F.col("__sxy").cast("double") - F.col("__sx").cast("double") * F.col(
        "__sy"
    ).cast("double") / nd
    varx = F.col("__sxx").cast("double") - F.col("__sx").cast("double") * F.col(
        "__sx"
    ).cast("double") / nd
    vary = F.col("__syy").cast("double") - F.col("__sy").cast("double") * F.col(
        "__sy"
    ).cast("double") / nd
    scal = pooled.select(
        (cov / varx).alias("__theta"),
        (F.col("__sx").cast("double") / nd).alias("__mx"),
        F.when(vary > 0, F.lit(100.0) * cov * cov / (varx * vary))
        .otherwise(F.lit(0.0))
        .alias("__vr"),
    )
    per = base.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__y").alias("__asy"),
        F.sum("__x").alias("__asx"),
    )
    j = per.crossJoin(F.broadcast(scal))  # 1-row scalar join
    and_ = F.col("n").cast("double")
    mean_raw = F.col("__asy").cast("double") / and_
    mean_adj = mean_raw - F.col("__theta") * (
        F.col("__asx").cast("double") / and_ - F.col("__mx")
    )
    return j.select(
        "arm",
        F.col("n").cast("long").alias("n"),
        F.round(mean_raw, round_to).alias("mean_raw"),
        F.round(mean_adj, round_to).alias("mean_adj"),
        F.round(F.col("__theta"), round_to).alias("theta"),
        F.round(F.col("__vr"), round_to).alias("var_reduction_pct"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Kruskal–Wallis H test (Kruskal & Wallis 1952, public) — the
    k-sample extension of mann_whitney: do k pipeline variants share a
    location, judged on ranks? The one-way-ANOVA-on-ranks every
    multi-arm experiment readout needs when the metric is non-normal:

        H  = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1)
        H' = H / (1 − Σ(t³−t)/(N³−N))        (tie correction)

    Machinery: the roc_auc/mann_whitney distinct-value rank-sum shape.
    Midranks never materialize per row — per (group, value) counts
    join the distinct-value prefix table, so the DOUBLED rank sum
    2·R_g = Σ_v n_gv·(2·cum_before(v) + n_v + 1) is an exact DECIMAL
    per group. The per-group term R_g²/n_g is one fixed-order double
    rounded to a nano DECIMAL before the ≤k-row sum (the chi2_screen
    discipline — reduce-order-free, no long wrap). NULL rows drop;
    h_adj is NULL when every value ties (correction 0) or k < 2.
    Output one row: (h, h_adj, dof, n)."""
    from table_computing_spark.operators.prefix import prefix_agg

    s = df.select(
        F.col(group_col).alias("__g"), value_col.cast("double").alias("__v")
    ).filter(F.col("__g").isNotNull() & F.col("__v").isNotNull())
    dec = "decimal(38,0)"
    # materialize the distinct-value count table once (the
    # cvm/wasserstein pattern): it feeds BOTH the prefix build and the
    # tie-correction aggregate — without the cut the s-scan + __v
    # shuffle executes twice
    per_v = materialize(s.groupBy("__v").agg(F.count(F.lit(1)).alias("__n")), eager=False)
    pre = prefix_agg(
        per_v, order_by=["__v"], specs={"__cb": ("sum", "__n")}, exclusive=True
    )
    per_gv = s.groupBy("__g", "__v").agg(F.count(F.lit(1)).alias("__ngv"))
    j = per_gv.join(pre, "__v")
    cb = F.coalesce(F.col("__cb"), F.lit(0)).cast(dec)
    r2_term = F.col("__ngv").cast(dec) * (
        F.lit(2).cast(dec) * cb + F.col("__n").cast(dec) + F.lit(1).cast(dec)
    )
    per_g = j.groupBy("__g").agg(
        F.sum(r2_term).alias("__r2"), F.sum("__ngv").alias("__ng")
    )
    # per-group nano term: (R2_g/2)²/n_g = R2_g²/(4·n_g) — fixed-order
    # double, nano-rounded BEFORE the ≤k-row decimal sum
    term = F.round(
        F.col("__r2").cast("double") * F.col("__r2").cast("double")
        / (4.0 * F.col("__ng").cast("double")) * 1e9
    ).cast(dec)
    t = F.col("__n").cast(dec)
    ties = per_v.agg(F.sum(t * t * t - t).alias("__tt"))
    agg = per_g.agg(
        F.sum(term).alias("__st"),
        F.count(F.lit(1)).alias("__k"),
        F.sum("__ng").alias("__nn"),
    ).crossJoin(F.broadcast(ties))
    nd = F.col("__nn").cast("double")
    h = 12.0 * (F.col("__st").cast("double") / 1e9) / (nd * (nd + 1.0)) - 3.0 * (
        nd + 1.0
    )
    corr = 1.0 - F.col("__tt").cast("double") / (nd * nd * nd - nd)
    return agg.select(
        F.round(F.when(F.col("__k") >= 2, h), round_to).alias("h"),
        F.round(
            F.when((F.col("__k") >= 2) & (corr > 0), h / corr), round_to
        ).alias("h_adj"),
        (F.col("__k") - 1).cast("long").alias("dof"),
        F.col("__nn").cast("long").alias("n"),
    )


def anova_f(
    df: DataFrame,
    group_col: str,
    value_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """One-way ANOVA F statistic (Fisher 1925, public) — the k-group
    parametric complement of kruskal_wallis and the multi-arm
    extension of welch_ttest's pooled question (equal means across
    arms?), under the classical equal-variance model:

        F = (SSB/(k−1)) / (SSW/(N−k))

    `value_col` must be INTEGER-exact (cents, counts — the
    welch_ttest contract): per-group (n, Σx, Σx²) are exact
    DECIMAL(38,0) hash aggregates; the per-group projection term
    S_g²/n_g is one fixed-order double nano-rounded before the ≤k-row
    decimal sum, so SSB = Σ S_g²/n_g − S²/N and SSW = Σx² − Σ S_g²/n_g
    have no float-reduce order. F is NULL when k < 2, N ≤ k, or
    SSW = 0 (degenerate within-variance). Output one row:
    (f, dof_between, dof_within, n)."""
    dec = "decimal(38,0)"
    x = value_col.cast(dec)
    s = df.select(F.col(group_col).alias("__g"), x.alias("__x")).filter(
        F.col("__g").isNotNull() & F.col("__x").isNotNull()
    )
    per_g = s.groupBy("__g").agg(
        F.count(F.lit(1)).alias("__ng"),
        F.sum("__x").alias("__sg"),
        F.sum(F.col("__x") * F.col("__x")).alias("__qg"),
    )
    proj = F.round(
        F.col("__sg").cast("double") * F.col("__sg").cast("double")
        / F.col("__ng").cast("double") * 1e9
    ).cast(dec)
    agg = per_g.agg(
        F.sum("__ng").alias("__nn"),
        F.sum("__sg").alias("__ss"),
        F.sum("__qg").alias("__qq"),
        F.sum(proj).alias("__pn"),
        F.count(F.lit(1)).alias("__k"),
    )
    nd = F.col("__nn").cast("double")
    kd = F.col("__k").cast("double")
    proj_sum = F.col("__pn").cast("double") / 1e9
    ssb = proj_sum - F.col("__ss").cast("double") * F.col("__ss").cast("double") / nd
    ssw = F.col("__qq").cast("double") - proj_sum
    f_stat = (ssb / (kd - 1.0)) / (ssw / (nd - kd))
    return agg.select(
        F.round(
            F.when(
                (F.col("__k") >= 2) & (F.col("__nn") > F.col("__k")) & (ssw > 0),
                f_stat,
            ),
            round_to,
        ).alias("f"),
        (F.col("__k") - 1).cast("long").alias("dof_between"),
        (F.col("__nn") - F.col("__k")).cast("long").alias("dof_within"),
        F.col("__nn").cast("long").alias("n"),
    )


def levene_bf(
    df: DataFrame,
    group_col: str,
    value_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Brown–Forsythe test for equal variances (Brown & Forsythe 1974
    — Levene's test with the MEDIAN center, the robust form every
    stats package defaults to): one-way ANOVA on the absolute
    deviations z_ij = |x_ij − median_g|. The variance-homogeneity gate
    in front of anova_f — unequal spread across arms is itself drift.

    Exactness: `value_col` must be INTEGER-exact. The per-group exact
    median comes from the distinct-value prefix table (cum_before
    covers rank ⌊(n+1)/2⌋ and ⌊n/2⌋+1), kept DOUBLED (lo+hi) so it is
    an integer even when n is even — and therefore the doubled
    deviation |2x − med2| is an exact integer too. F is computed on
    the doubled deviations (F is scale-invariant, so this is exactly
    the Brown–Forsythe statistic). Output one row:
    (f, dof_between, dof_within, n) — anova_f's shape."""
    from table_computing_spark.operators.prefix import prefix_agg

    dec = "decimal(38,0)"
    s = df.select(
        F.col(group_col).alias("__g"), value_col.cast("long").alias("__x")
    ).filter(F.col("__g").isNotNull() & F.col("__x").isNotNull())
    # per_gv feeds the prefix build AND the group totals (the
    # kruskal/cvm pattern) — materialize once
    per_gv = materialize(s.groupBy("__g", "__x").agg(F.count(F.lit(1)).alias("__c")), eager=False)
    pre = prefix_agg(
        per_gv,
        order_by=["__x"],
        specs={"__cb": ("sum", "__c")},
        exclusive=True,
        partition_by=["__g"],
    )
    ng = per_gv.groupBy("__g").agg(F.sum("__c").alias("__ng"))
    jj = pre.join(ng, "__g")
    cb = F.coalesce(F.col("__cb"), F.lit(0))
    r_lo = F.floor((F.col("__ng") + 1) / 2)
    r_hi = F.floor(F.col("__ng") / 2) + 1
    covers = lambda r: (cb < r) & (r <= cb + F.col("__c"))  # noqa: E731
    med2 = jj.groupBy("__g").agg(
        (
            F.sum(F.when(covers(r_lo), F.col("__x")).otherwise(0))
            + F.sum(F.when(covers(r_hi), F.col("__x")).otherwise(0))
        ).alias("__med2")
    )
    z = s.join(med2, "__g").select(
        "__g",
        F.abs(
            F.lit(2).cast(dec) * F.col("__x").cast(dec)
            - F.col("__med2").cast(dec)
        ).alias("__z"),
    )
    return anova_f(z, "__g", F.col("__z"), round_to=round_to)


def cochran_armitage(
    df: DataFrame,
    score_col: Column,
    label_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Cochran–Armitage trend test (Cochran 1954 / Armitage 1955,
    public): is a binary rate monotone in an ORDERED categorical dose
    (bucketed model score, data-recency tier, document-length band)?
    The dose-response readout a binned rate table can't give you —
    chi2_screen sees dependence, this sees DIRECTION:

        T   = Σ_i c_i (r_i − n_i·R/N)
        Var = R(N−R)/N² · [Σ c_i²n_i − (Σ c_i n_i)²/N]
        z   = T / sqrt(Var)

    `score_col` must be integer (the dose codes). Per-level counts
    (n_i, r_i) are one hash aggregate; N·T = Σ c_i(r_i·N − n_i·R) and
    N²·Var's bracket stay exact in DECIMAL(38,0); z is one fixed-order
    double expression. z is NULL when Var = 0 (one level, or no
    positives/negatives). Positive z = rate RISES with the dose.
    Output one row: (z, n, n_pos, levels)."""
    dec = "decimal(38,0)"
    s = df.select(
        score_col.cast("long").alias("__c"), label_col.cast("long").alias("__y")
    ).filter(F.col("__c").isNotNull() & F.col("__y").isNotNull())
    per = s.groupBy("__c").agg(
        F.count(F.lit(1)).alias("__ni"), F.sum("__y").alias("__ri")
    )
    c = F.col("__c").cast(dec)
    agg = per.agg(
        F.sum("__ni").cast(dec).alias("__nn"),
        F.sum("__ri").cast(dec).alias("__rr"),
        F.sum(c * F.col("__ni").cast(dec)).alias("__cn"),
        F.sum(c * F.col("__ri").cast(dec)).alias("__cr"),
        F.sum(c * c * F.col("__ni").cast(dec)).alias("__ccn"),
        F.count(F.lit(1)).alias("__levels"),
    )
    # N·T = Σc_i·r_i·N − Σc_i·n_i·R ; bracket = N·Σc²n − (Σcn)² — exact
    nt = F.col("__cr") * F.col("__nn") - F.col("__cn") * F.col("__rr")
    bracket = F.col("__nn") * F.col("__ccn") - F.col("__cn") * F.col("__cn")
    nd = F.col("__nn").cast("double")
    # z = (N·T) / sqrt(R(N−R)·bracket)  — the N² factors cancel
    varnum = (
        F.col("__rr").cast("double")
        * (nd - F.col("__rr").cast("double"))
        * bracket.cast("double")
    )
    z = F.when(varnum > 0, nt.cast("double") / F.sqrt(varnum))
    return agg.select(
        F.round(z, round_to).alias("z"),
        F.col("__nn").cast("long").alias("n"),
        F.col("__rr").cast("long").alias("n_pos"),
        F.col("__levels").cast("long").alias("levels"),
    )


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Friedman test (Friedman 1937, public) — the repeated-measures
    complement of kruskal_wallis: k treatments measured on the SAME b
    blocks (the same queries scored by k model versions, the same days
    under k pipeline variants), ranked WITHIN each block so
    between-block level differences cancel:

        Q  = 12/(b·k(k+1)) · Σ_j R_j² − 3·b(k+1)
        Q' = Q / (1 − ΣT_i / (b·k(k²−1))),   T_i = Σ_ties (t³−t)

    COMPLETE-BLOCK CONTRACT: a block enters only if it carries exactly
    one value for EVERY treatment (k = global distinct treatments);
    incomplete blocks are dropped and reported in `n_blocks_dropped` —
    loud in the output, silent in no statistic. Within-block midranks
    use the DOUBLED-rank form (2r = 2·cum_before + t + 1 per tied run,
    exact integers; blocks are k rows, so the within-block window is
    bounded by construction). 2R_j sums in DECIMAL(38,0); the
    per-treatment (2R_j)² term is one fixed-order double nano-rounded
    before the ≤k-row sum. Q' is NULL when every block is fully tied
    (correction 0) or k < 2. Output one row:
    (q, q_adj, dof, n_blocks, n_blocks_dropped)."""
    from pyspark.sql.window import Window as W

    dec = "decimal(38,0)"
    s = df.select(
        F.col(block_col).alias("__b"),
        F.col(treatment_col).alias("__t"),
        value_col.cast("double").alias("__v"),
    ).filter(
        F.col("__b").isNotNull() & F.col("__t").isNotNull() & F.col("__v").isNotNull()
    )
    k_treat = s.select("__t").distinct().count()
    per_b = s.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__n"), F.count_distinct("__t").alias("__nt")
    )
    complete = per_b.filter(
        (F.col("__n") == k_treat) & (F.col("__nt") == k_treat)
    ).select("__b")
    n_total = per_b.count()
    sc = s.join(complete, "__b")
    # within-block doubled midranks from tied-run counts (block = k rows)
    runs = sc.groupBy("__b", "__v").agg(
        F.count(F.lit(1)).alias("__c"),
        F.collect_list("__t").alias("__ts"),
    )
    wb = W.partitionBy("__b").orderBy("__v").rowsBetween(
        W.unboundedPreceding, -1
    )
    ranked = runs.select(
        "__b",
        "__v",
        "__c",
        "__ts",
        F.coalesce(F.sum("__c").over(wb), F.lit(0)).alias("__cb"),
    )
    r2 = (
        F.lit(2).cast(dec) * F.col("__cb").cast(dec)
        + F.col("__c").cast(dec)
        + F.lit(1).cast(dec)
    )
    exploded = ranked.select(
        "__b", F.explode("__ts").alias("__t"), r2.alias("__r2"),
        F.col("__c").cast(dec).alias("__cd"),
    )
    per_t = exploded.groupBy("__t").agg(F.sum("__r2").alias("__r2s"))
    term = F.round(
        F.col("__r2s").cast("double") * F.col("__r2s").cast("double") / 4.0 * 1e9
    ).cast(dec)
    ties = ranked.agg(
        F.sum(
            F.col("__c").cast(dec) * F.col("__c").cast(dec) * F.col("__c").cast(dec)
            - F.col("__c").cast(dec)
        ).alias("__tt")
    )
    nb = sc.select("__b").distinct().count()
    agg = per_t.agg(F.sum(term).alias("__st")).crossJoin(F.broadcast(ties))
    bd = float(nb)
    kd = float(k_treat)
    q = (
        12.0 * (F.col("__st").cast("double") / 1e9) / (bd * kd * (kd + 1.0))
        - 3.0 * bd * (kd + 1.0)
    )
    corr = 1.0 - F.col("__tt").cast("double") / (bd * kd * (kd * kd - 1.0))
    return agg.select(
        F.round(F.when(F.lit(k_treat) >= 2, q), round_to).alias("q"),
        F.round(
            F.when((F.lit(k_treat) >= 2) & (corr > 0), q / corr), round_to
        ).alias("q_adj"),
        F.lit(k_treat - 1).cast("long").alias("dof"),
        F.lit(nb).cast("long").alias("n_blocks"),
        F.lit(n_total - nb).cast("long").alias("n_blocks_dropped"),
    )


def cohens_d(
    df: DataFrame,
    in_group_a: Column,
    metric_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Cohen's d and Hedges' g standardized effect sizes (Cohen 1969 /
    Hedges 1981, public) — the magnitude readout welch_ttest's p-value
    deliberately is not (at 100 TB row counts EVERYTHING is
    significant; d says whether it matters):

        d = (mean_a − mean_b) / s_pooled
        s_pooled² = ((n_a−1)s_a² + (n_b−1)s_b²) / (n_a+n_b−2)
        g = d · (1 − 3/(4ν − 1)),  ν = n_a+n_b−2   (small-sample fix)

    `metric_col` must be INTEGER-exact (cents, counts — the
    welch_ttest contract): per-arm (n, Σx, Σx²) stay DECIMAL(38,0);
    d/g are fixed-order double arithmetic, rounded once. d/g are NULL
    when either arm has < 2 rows or s_pooled = 0; when an arm has ZERO
    rows the output is EMPTY (no confusion-prone half-populated row —
    an absent arm is an upstream filter bug, and n_a/mean_b etc. would
    all be undefined). Output one row:
    (d, g, mean_a, mean_b, n_a, n_b)."""
    dec = "decimal(38,0)"
    s = df.select(
        in_group_a.cast("int").alias("__a"), metric_col.cast(dec).alias("__x")
    ).filter(F.col("__a").isNotNull() & F.col("__x").isNotNull())
    per = s.groupBy("__a").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__s"),
        F.sum(F.col("__x") * F.col("__x")).alias("__q"),
    )
    a = per.filter(F.col("__a") == 1).select(
        F.col("__n").alias("n_a"), F.col("__s").alias("__sa"), F.col("__q").alias("__qa")
    )
    b = per.filter(F.col("__a") == 0).select(
        F.col("__n").alias("n_b"), F.col("__s").alias("__sb"), F.col("__q").alias("__qb")
    )
    j = a.crossJoin(F.broadcast(b))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma = F.col("__sa").cast("double") / na
    mb = F.col("__sb").cast("double") / nb
    ssa = F.col("__qa").cast("double") - F.col("__sa").cast("double") * F.col(
        "__sa"
    ).cast("double") / na
    ssb = F.col("__qb").cast("double") - F.col("__sb").cast("double") * F.col(
        "__sb"
    ).cast("double") / nb
    nu = na + nb - 2.0
    sp = F.sqrt((ssa + ssb) / nu)
    d = F.when(
        (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (sp > 0), (ma - mb) / sp
    )
    g = d * (1.0 - 3.0 / (4.0 * nu - 1.0))
    return j.select(
        F.round(d, round_to).alias("d"),
        F.round(g, round_to).alias("g"),
        F.round(ma, round_to).alias("mean_a"),
        F.round(mb, round_to).alias("mean_b"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
    )


def cramers_v(
    df: DataFrame,
    feature_col: str,
    value_col: Column,
    label_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Cramér's V effect size per feature (Cramér 1946, public) — the
    [0, 1]-normalized companion of chi2_screen's test statistic (chi2
    grows with n; V says how STRONG the dependence is regardless of
    volume):

        V = sqrt( (χ²/n) / (min(r, c) − 1) )

    Same cell algebra and DECIMAL nano accumulation as chi2_screen
    (cells enumerated from the marginal cross so O = 0 cells
    contribute E); V is NULL for degenerate 1×c / r×1 tables. Output:
    (feature, chi2, v, dof, n)."""
    agg = _chi2_cells(df, feature_col, value_col, label_col)
    chi2 = F.col("__t").cast("double") / 1e9
    mind = F.least(F.col("__nv"), F.col("__nl")).cast("double") - 1.0
    v = F.when(
        mind > 0, F.sqrt(chi2 / F.col("__nn").cast("double") / mind)
    )
    return agg.select(
        "feature",
        F.round(chi2, round_to).alias("chi2"),
        F.round(v, round_to).alias("v"),
        ((F.col("__nv") - 1) * (F.col("__nl") - 1)).cast("long").alias("dof"),
        F.col("__nn").cast("long").alias("n"),
    )


def sprt_bernoulli(
    df: DataFrame,
    arm_col: str,
    order_col: Column,
    convert_col: Column,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta_err: float = 0.2,
) -> DataFrame:
    """Wald's sequential probability ratio test per arm (Wald 1945,
    public) — the early-stopping readout for streaming experiments and
    rolling model evals: after each observation, the Bernoulli
    log-likelihood ratio

        LLR_t = k_t·ln(p1/p0) + (t − k_t)·ln((1−p1)/(1−p0))

    is compared to A = ln((1−β)/α) (accept H1) and B = ln(β/(1−α))
    (accept H0); the test stops at the FIRST crossing.

    Engine-exactness: the two ln constants are driver doubles rounded
    to integer nanos ONCE, so every LLR_t is an exact integer
    (k·c1_nano + (t−k)·c2_nano) — no per-row float sum at all; the
    crossing decision compares exact longs against nano thresholds.
    Plan: one arm-partitioned ordered window (running count/sum — the
    max_drawdown bounded-group shape; `order_col` plus the conversion
    value break ties for a total order), then one hash aggregate
    taking the earliest crossing via min_by. Output per arm:
    (arm, n, conversions, llr_final, decision, n_at_decision) —
    decision in {'accept_h1','accept_h0','continue'};
    n_at_decision NULL when the test never stops."""
    import math

    from pyspark.sql.window import Window as W

    c1 = int(round(math.log(p1 / p0) * 1e9))
    c2 = int(round(math.log((1.0 - p1) / (1.0 - p0)) * 1e9))
    a_n = int(round(math.log((1.0 - beta_err) / alpha) * 1e9))
    b_n = int(round(math.log(beta_err / (1.0 - alpha)) * 1e9))
    s = df.select(
        F.col(arm_col).alias("arm"),
        order_col.alias("__o"),
        convert_col.cast("long").alias("__y"),
    ).filter(F.col("__y").isNotNull())
    w = W.partitionBy("arm").orderBy("__o", "__y").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    staged = s.select(
        "arm",
        F.count(F.lit(1)).over(w).alias("__t"),
        F.sum("__y").over(w).alias("__k"),
    ).select(
        "arm",
        "__t",
        "__k",
        (
            F.col("__k") * F.lit(c1)
            + (F.col("__t") - F.col("__k")) * F.lit(c2)
        ).alias("__llr"),
    )
    crossed = F.when(F.col("__llr") >= a_n, F.lit("accept_h1")).when(
        F.col("__llr") <= b_n, F.lit("accept_h0")
    )
    agg = staged.groupBy("arm").agg(
        F.max("__t").alias("n"),
        F.max("__k").alias("conversions"),
        F.max_by("__llr", "__t").alias("__llr_final"),
        F.min(F.when(crossed.isNotNull(), F.col("__t"))).alias("n_at_decision"),
        F.min_by(crossed, F.when(crossed.isNotNull(), F.col("__t"))).alias(
            "__dec"
        ),
    )
    return agg.select(
        "arm",
        F.col("n").cast("long").alias("n"),
        F.col("conversions").cast("long").alias("conversions"),
        F.round(F.col("__llr_final").cast("double") / 1e9, 6).alias("llr_final"),
        F.coalesce(F.col("__dec"), F.lit("continue")).alias("decision"),
        F.col("n_at_decision").cast("long").alias("n_at_decision"),
    )


def sprt_from_counts(
    df: DataFrame,
    arm_col: str,
    n_col: Column,
    k_col: Column,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta_err: float = 0.2,
) -> DataFrame:
    """The read-time half of a MAINTAINED sequential test: given
    per-arm (trials n, successes k) counts — which are
    self-maintainable streaming state — report the current Bernoulli
    SPRT position and the decision the test would take NOW:

        LLR = k·ln(p1/p0) + (n−k)·ln((1−p1)/(1−p0))

    This is sprt_bernoulli's statistic WITHOUT the ordered
    first-crossing semantics (those need the full observation order;
    counts can't recover WHEN a boundary was first touched — the
    q_stream_topk maintained/at-read decomposition says: maintain the
    counts, decide at read). Same exactness: ln constants nano-rounded
    once, LLR an exact integer expression. Output per arm:
    (arm, n, conversions, llr, decision)."""
    import math

    c1 = int(round(math.log(p1 / p0) * 1e9))
    c2 = int(round(math.log((1.0 - p1) / (1.0 - p0)) * 1e9))
    a_n = int(round(math.log((1.0 - beta_err) / alpha) * 1e9))
    b_n = int(round(math.log(beta_err / (1.0 - alpha)) * 1e9))
    base = df.select(
        F.col(arm_col).alias("arm"),
        n_col.cast("long").alias("n"),
        k_col.cast("long").alias("conversions"),
    )
    llr = F.col("conversions") * F.lit(c1) + (
        F.col("n") - F.col("conversions")
    ) * F.lit(c2)
    decision = (
        F.when(llr >= a_n, F.lit("accept_h1"))
        .when(llr <= b_n, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
    )
    return base.select(
        "arm",
        "n",
        "conversions",
        F.round(llr.cast("double") / 1e9, 6).alias("llr"),
        decision.alias("decision"),
    )


def _pooled_counts(
    old: DataFrame, new: DataFrame, value_col: Column, cast: str
) -> DataFrame:
    """The pooled per-value count table (__v, __no, __nn) of two
    samples: `value_col` cast to `cast`, NULLs dropped, one hash
    aggregate per side, full-outer joined on the value and zero-filled
    (a value seen on one side only counts 0 on the other). The
    distinct-value axis the two-sample statistics below walk."""
    o = old.select(value_col.cast(cast).alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    n = new.select(value_col.cast(cast).alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    return (
        o.groupBy("__v").agg(F.count(F.lit(1)).alias("__no"))
        .join(
            n.groupBy("__v").agg(F.count(F.lit(1)).alias("__nn")),
            "__v",
            "full_outer",
        )
        .fillna(0, subset=["__no", "__nn"])
    )


def _sample_sizes(per: DataFrame, fn: str, undefined: str) -> tuple[int, int]:
    """Side totals (N_old, N_new) of a pooled count table, read eagerly
    with one `.first()`; raises ValueError naming `fn` when either side
    has no non-null rows (`undefined` says what that leaves undefined).

    The totals are plain sums over the distinct-value table. Reading
    them from the prefix pass (max of the running sum) re-executed the
    whole prefix window+join chain once per call just for two scalars,
    so callers that go on to a prefix pass materialize `per` once
    first, take the totals here, and only then build the
    prefix over the same materialized rows: one window-chain execution
    per call instead of two, and the empty-side raise never pays for
    the prefix build (r15; output identical, as counts are >= 0 so
    max(running sum) == sum)."""
    tot = per.agg(
        F.sum("__no").alias("__to"), F.sum("__nn").alias("__tn")
    ).first()
    empty = [s for s, v in (("old", tot["__to"]), ("new", tot["__tn"])) if not v]
    if empty:
        raise ValueError(
            f"{fn}: side(s) {empty} have no non-null rows — "
            f"{undefined} is undefined"
        )
    return int(tot["__to"]), int(tot["__tn"])


def _cdf_gap(old_count: str, new_count: str, no: int, nn: int) -> Column:
    """count_old·N_new − count_new·N_old in DECIMAL(38,0): the signed
    gap F_old − F_new of two counts scaled by N_old·N_new to an exact
    integer, so nothing is divided before the final readout."""
    dec = "decimal(38,0)"
    return (
        F.col(old_count).cast(dec) * F.lit(nn).cast(dec)
        - F.col(new_count).cast(dec) * F.lit(no).cast(dec)
    )


def _cdf_steps(per: DataFrame) -> DataFrame:
    """Each pooled value with its inclusive running counts and its
    successor: (__rk, __v, __co, __cn, __v_next). Prefix sums and a
    global dense rank come from prefix.prefix_agg (the distributed
    two-pass prefix, never an unpartitioned window); the successor from
    a rank → rank+1 self-equi-join on the distinct table (one hash
    shuffle on the rank), which drops the last value."""
    from table_computing_spark.operators.prefix import prefix_agg

    pre = prefix_agg(
        per,
        order_by=["__v"],
        specs={
            "__co": ("sum", "__no"),   # inclusive running count, old
            "__cn": ("sum", "__nn"),   # inclusive running count, new
            "__rk0": ("count", "__v"),
        },
        exclusive=False,
    ).select(
        "__v", "__co", "__cn", F.col("__rk0").cast("long").alias("__rk")
    )
    nxt = pre.select(
        (F.col("__rk") - 1).alias("__rk"), F.col("__v").alias("__v_next")
    )
    return pre.join(nxt, "__rk")


def wasserstein_1d(
    old: DataFrame,
    new: DataFrame,
    value_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) distance between two
    samples (Vaserstein 1969 / the classical CDF identity, public):

        W1 = ∫ |F_old(x) − F_new(x)| dx
           = Σ_i |F_old(v_i) − F_new(v_i)| · (v_{i+1} − v_i)

    over the pooled distinct values v_1 < … < v_m. The magnitude-aware
    companion of ks_drift (KS takes the max CDF gap and ignores HOW FAR
    mass moved; W1 is exactly the cost of moving it) — the drift
    readout that answers "by how much", in the metric's own units.

    Engine-exactness: `value_col` must be INTEGER-exact (cents, counts
    — the welch_ttest contract). Then EVERYTHING is exact integers
    until one final division:

        W1 = Σ_i |cum_old(v_i)·N_new − cum_new(v_i)·N_old| · gap_i
             / (N_old · N_new)

    with all products in DECIMAL(38,0) — no nano staging, no float
    sum, bit-identical on any engine and any partitioning.

    Scale shape: one hash aggregate per side to the pooled
    distinct-value table, then _cdf_steps' distributed prefix pass and
    rank → rank+1 successor join. NULL values drop. Raises when either
    side is empty (W1 against an empty distribution is undefined — the
    js_divergence discipline). A NaN value violates the integer-exact
    contract and raises at the ANSI long cast (loud, though the error
    names the cast rather than this function — r14 pass, documented
    contract: NULLs drop, NaN refuses). Output one row:
    (w1, n_old, n_new, n_values)."""
    return wasserstein_from_counts(
        _pooled_counts(old, new, value_col, "long"), round_to=round_to
    )


def wasserstein_from_counts(per: DataFrame, round_to: int = 6) -> DataFrame:
    """The read-time half of wasserstein_1d: W1 from a pooled
    per-value count table (__v long, __no, __nn) — the
    maintained/at-read decomposition (the sprt_from_counts rule):
    per-value counts are self-maintainable streaming state (one
    complete-mode hash aggregate, state is distinct-value-sized), and
    W1 is this bounded read on top. Same exact-integer algebra and
    empty-side contract as wasserstein_1d."""
    dec = "decimal(38,0)"
    per = materialize(per, eager=False)
    no, nn = _sample_sizes(per, "wasserstein", "W1 against an empty distribution")
    gap = (F.col("__v_next") - F.col("__v")).cast(dec)
    num = F.abs(_cdf_gap("__co", "__cn", no, nn)) * gap
    agg = _cdf_steps(per).agg(F.sum(num).alias("__w1n"))
    w1 = F.col("__w1n").cast("double") / (float(no) * float(nn))
    return agg.select(
        # a single pooled value has no successor row: W1 is exactly 0
        F.round(F.coalesce(w1, F.lit(0.0)), round_to).alias("w1"),
        F.lit(no).cast("long").alias("n_old"),
        F.lit(nn).cast("long").alias("n_new"),
    ).crossJoin(
        F.broadcast(per.agg(F.count(F.lit(1)).cast("long").alias("n_values")))
    )


def cvm_2sample(
    old: DataFrame,
    new: DataFrame,
    value_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Two-sample Cramér–von Mises statistic (Anderson 1962, public)
    in the pooled-CDF integral form:

        T = N_o·N_n/N² · Σ_i n_i · (F_old(v_i) − F_new(v_i))²

    summed over the pooled distinct values with pooled counts n_i —
    the whole-distribution companion of ks_drift (KS is the sup of the
    CDF gap, CvM its squared integral: sensitive to many small gaps a
    single max never sees, and to tail differences W1 discounts).

    Engine-exactness: with D_i = cum_old(v_i)·N_n − cum_new(v_i)·N_o
    (exact integers), T = Σ_i n_i·D_i² / (N_o·N_n·N²) — the numerator
    is an exact DECIMAL(38,0) sum (≈ N⁵: fine to ~10⁷ rows; past that
    the per-value nano-staged variant applies), one final division.
    Works for any value type orderable by cast to double — CDF gaps
    only need counts, not gaps in the value metric (unlike
    wasserstein_1d, which is why THIS one has no integer-exact
    contract). Scale shape: the mann_whitney distinct-value machinery
    (hash agg per side + one distributed prefix pass). Raises when
    either side is empty. Output one row: (t, n_old, n_new)."""
    from table_computing_spark.operators.prefix import prefix_agg

    dec = "decimal(38,0)"
    per = materialize(_pooled_counts(old, new, value_col, "double"), eager=False)
    no, nn = _sample_sizes(per, "cvm_2sample", "CvM against an empty distribution")
    pre = prefix_agg(
        per,
        order_by=["__v"],
        specs={"__co": ("sum", "__no"), "__cn": ("sum", "__nn")},
        exclusive=False,
    )
    d = _cdf_gap("__co", "__cn", no, nn)
    num = (F.col("__no") + F.col("__nn")).cast(dec) * d * d
    agg = pre.agg(F.sum(num).alias("__tnum"))
    big_n = float(no + nn)
    t = F.col("__tnum").cast("double") / (
        float(no) * float(nn) * big_n * big_n
    )
    return agg.select(
        F.round(t, round_to).alias("t"),
        F.lit(no).cast("long").alias("n_old"),
        F.lit(nn).cast("long").alias("n_new"),
    )


def cliffs_delta(
    df: DataFrame,
    in_group_a: Column,
    value_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Cliff's delta ordinal effect size (Cliff 1993, public) — the
    nonparametric companion of cohens_d, and the magnitude readout for
    mann_whitney's p-value (at 100 TB row counts EVERYTHING is
    significant; δ says whether the shift matters):

        δ = [#(a > b) − #(a < b)] / (n_a · n_b)   over all cross pairs

    with the conventional |δ| bands (Romano et al. 2006): < 0.147
    negligible, < 0.33 small, < 0.474 medium, else large.

    No pair join: on the distinct-value table, #(a > b) =
    Σ_v n_a(v)·cum_b_before(v) and #(a < b) =
    Σ_v n_a(v)·(N_b − cum_b_before(v) − n_b(v)) — exact DECIMAL
    products via one hash aggregate + one distributed prefix pass (the
    mann_whitney machinery), one final division. NULL value/flag rows
    drop. δ is NULL when either group is empty. Output one row:
    (delta, magnitude, n_a, n_b). INDICATOR CONTRACT (r14 pass):
    `in_group_a` must be 0/1 or boolean — a non-indicator numeric
    silently drives the (1−a) complement counts negative (the
    mantel_haenszel note)."""
    from table_computing_spark.operators.prefix import prefix_agg

    dec = "decimal(38,0)"
    s = df.select(
        value_col.cast("double").alias("__v"),
        in_group_a.cast("int").alias("__a"),
    ).filter(F.col("__v").isNotNull() & F.col("__a").isNotNull())
    per = s.groupBy("__v").agg(
        F.sum("__a").alias("__na"),
        F.sum(F.lit(1) - F.col("__a")).alias("__nb"),
    )
    pre = prefix_agg(
        per, order_by=["__v"], specs={"__cbb": ("sum", "__nb")}, exclusive=True
    )
    cb = F.coalesce(F.col("__cbb"), F.lit(0)).cast(dec)
    na_v = F.col("__na").cast(dec)
    agg = pre.agg(
        F.sum(na_v * cb).alias("__gt"),
        F.sum(na_v * F.col("__nb").cast(dec)).alias("__eq"),
        F.sum("__na").cast("long").alias("n_a"),
        F.sum("__nb").cast("long").alias("n_b"),
    )
    tot_b = F.col("n_b").cast(dec)
    lt = F.col("n_a").cast(dec) * tot_b - F.col("__gt") - F.col("__eq")
    delta = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        (F.col("__gt") - lt).cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
    )
    mag = (
        F.when(delta.isNull(), F.lit(None).cast("string"))
        .when(F.abs(delta) < 0.147, F.lit("negligible"))
        .when(F.abs(delta) < 0.33, F.lit("small"))
        .when(F.abs(delta) < 0.474, F.lit("medium"))
        .otherwise(F.lit("large"))
    )
    return agg.select(
        F.round(delta, round_to).alias("delta"),
        mag.alias("magnitude"),
        "n_a",
        "n_b",
    )


def mantel_haenszel(
    df: DataFrame,
    stratum_col: str,
    exposed_col: Column,
    outcome_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Mantel–Haenszel stratum-adjusted odds ratio (Mantel & Haenszel
    1959, public) — the confounder-adjusted effect estimate next to
    diff_in_diff: pool per-stratum 2×2 tables (a=exposed-outcome,
    b=exposed-no, c=unexposed-outcome, d=unexposed-no) without the
    small-cell instability of per-stratum ORs:

        OR_MH = Σ_i (a_i·d_i/n_i) / Σ_i (b_i·c_i/n_i)

    plus the Cochran–Mantel–Haenszel chi-square (continuity-corrected,
    the classical form):

        CMH = (|Σ a_i − Σ E_i| − ½)² / Σ V_i
        E_i = (a+b)(a+c)/n,  V_i = (a+b)(c+d)(a+c)(b+d)/(n²(n−1))

    Exactness: per-stratum cells are ONE exact-integer hash aggregate;
    each stratum's OR_MH numerator/denominator and E/V terms are
    fixed-order doubles nano-rounded to DECIMAL(38,0) before the
    ≤|strata|-row sum (the chi2_screen discipline). OR_MH is NULL when
    the denominator is 0; CMH is NULL when ΣV = 0. Strata with n < 2
    contribute nothing to CMH (V undefined) but still feed OR_MH.
    INDICATOR CONTRACT (r14 pass): `exposed_col`/`outcome_col` must be
    0/1 (or boolean — the int cast maps true→1); a non-indicator
    numeric (e.g. a count of 2) silently drives cells NEGATIVE via the
    (1−e)/(1−y) complements and corrupts every statistic downstream.
    Output one row: (n_strata, n, or_mh, cmh_chi2)."""
    dec = "decimal(38,0)"
    s = df.select(
        F.col(stratum_col).alias("__s"),
        exposed_col.cast("int").alias("__e"),
        outcome_col.cast("int").alias("__y"),
    ).filter(
        F.col("__s").isNotNull() & F.col("__e").isNotNull() & F.col("__y").isNotNull()
    )
    per = s.groupBy("__s").agg(
        F.sum(F.col("__e") * F.col("__y")).alias("__a"),
        F.sum(F.col("__e") * (F.lit(1) - F.col("__y"))).alias("__b"),
        F.sum((F.lit(1) - F.col("__e")) * F.col("__y")).alias("__c"),
        F.sum((F.lit(1) - F.col("__e")) * (F.lit(1) - F.col("__y"))).alias("__d"),
    )
    a = F.col("__a").cast("double")
    b = F.col("__b").cast("double")
    c = F.col("__c").cast("double")
    d = F.col("__d").cast("double")
    n = a + b + c + d
    num_t = F.round(a * d / n * 1e9).cast(dec)
    den_t = F.round(b * c / n * 1e9).cast(dec)
    e_t = F.round((a + b) * (a + c) / n * 1e9).cast(dec)
    v_t = F.when(
        n > 1.0,
        F.round(
            (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1.0)) * 1e9
        ).cast(dec),
    ).otherwise(F.lit(0).cast(dec))
    agg = per.agg(
        F.sum(num_t).alias("__num"),
        F.sum(den_t).alias("__den"),
        F.sum("__a").alias("__sa"),
        F.sum(e_t).alias("__se"),
        F.sum(v_t).alias("__sv"),
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(F.col("__a") + F.col("__b") + F.col("__c") + F.col("__d")).alias(
            "__nn"
        ),
    )
    or_mh = F.when(
        F.col("__den") > 0,
        F.col("__num").cast("double") / F.col("__den").cast("double"),
    )
    dev = F.abs(
        F.col("__sa").cast("double") - F.col("__se").cast("double") / 1e9
    ) - 0.5
    dev = F.greatest(dev, F.lit(0.0))  # |O−E| < ½: corrected CMH is 0
    cmh = F.when(
        F.col("__sv") > 0,
        dev * dev / (F.col("__sv").cast("double") / 1e9),
    )
    return agg.select(
        F.col("n_strata").cast("long").alias("n_strata"),
        F.col("__nn").cast("long").alias("n"),
        F.round(or_mh, round_to).alias("or_mh"),
        F.round(cmh, round_to).alias("cmh_chi2"),
    )


def tv_distance(
    old: DataFrame,
    new: DataFrame,
    value_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Total variation distance between two CATEGORICAL distributions
    (classical, public): TV = ½·Σ_c |p_c − q_c| ∈ [0, 1] — the
    worst-case probability gap over any event, the categorical
    companion of psi_drift/js_divergence with an actual metric
    interpretation (and no epsilon/binning knobs at all).

    Exact: per-category counts from one hash aggregate per side;
    TV = Σ_c |cnt_old·N_new − cnt_new·N_old| / (2·N_old·N_new) — the
    numerator an exact DECIMAL(38,0) sum over the category table, ONE
    final division. Categories absent on one side contribute their
    full mass (the full-outer join, zero-filled). NULL values drop.
    Raises when either side is empty. Output one row:
    (tv, n_old, n_new, n_categories)."""
    per = _pooled_counts(old, new, value_col, "string")
    no, nn = _sample_sizes(per, "tv_distance", "TV against an empty distribution")
    num = F.abs(_cdf_gap("__no", "__nn", no, nn))
    agg = per.agg(
        F.sum(num).alias("__t"), F.count(F.lit(1)).alias("n_categories")
    )
    tv = F.col("__t").cast("double") / (2.0 * float(no) * float(nn))
    return agg.select(
        F.round(tv, round_to).alias("tv"),
        F.lit(no).cast("long").alias("n_old"),
        F.lit(nn).cast("long").alias("n_new"),
        F.col("n_categories").cast("long").alias("n_categories"),
    )


def energy_distance(
    old: DataFrame,
    new: DataFrame,
    value_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Exact two-sample energy distance in 1-D (Székely & Rizzo 2004,
    public):

        E = 2·E|X−Y| − E|X−X'| − E|Y−Y'|   (≥ 0; 0 iff same dist.)

    — the all-moments distribution metric next to wasserstein_1d (W1
    weighs CDF area; energy distance powers the energy test, sensitive
    to ANY distributional difference, scale included).

    The O(n²) pair expectations collapse to gap algebra on the pooled
    distinct-value axis: pairs straddling the gap (v_k, v_{k+1}) number
    cum_x(k)·(N_y − cum_y(k)) + cum_y(k)·(N_x − cum_x(k)) across
    samples (and 2·cum(k)·(N − cum(k)) within one), so each Σ|·−·| is
    an exact DECIMAL(38,0) gap-weighted sum — the wasserstein_1d
    machinery with a second-moment-free exactness story (no nano
    staging anywhere; three final divisions in fixed order).
    `value_col` must be INTEGER-exact (the welch_ttest contract; NaN
    raises at the ANSI long cast — the wasserstein_1d note). Raises
    when either side is empty. Output one row:
    (e_dist, n_old, n_new)."""
    dec = "decimal(38,0)"
    per = materialize(_pooled_counts(old, new, value_col, "long"), eager=False)
    no, nn = _sample_sizes(
        per, "energy_distance", "the energy distance to an empty distribution"
    )
    gap = (F.col("__v_next") - F.col("__v")).cast(dec)
    co, cn = F.col("__co").cast(dec), F.col("__cn").cast(dec)
    s_xy = gap * (
        co * (F.lit(nn).cast(dec) - cn) + cn * (F.lit(no).cast(dec) - co)
    )
    s_xx = gap * F.lit(2).cast(dec) * co * (F.lit(no).cast(dec) - co)
    s_yy = gap * F.lit(2).cast(dec) * cn * (F.lit(nn).cast(dec) - cn)
    agg = _cdf_steps(per).agg(
        F.sum(s_xy).alias("__axy"),
        F.sum(s_xx).alias("__axx"),
        F.sum(s_yy).alias("__ayy"),
    )
    e = (
        2.0 * F.col("__axy").cast("double") / (float(no) * float(nn))
        - F.col("__axx").cast("double") / (float(no) * float(no))
        - F.col("__ayy").cast("double") / (float(nn) * float(nn))
    )
    return agg.select(
        # a single pooled value: all three sums empty (NULL) -> E = 0
        F.round(F.coalesce(e, F.lit(0.0)), round_to).alias("e_dist"),
        F.lit(no).cast("long").alias("n_old"),
        F.lit(nn).cast("long").alias("n_new"),
    )


def kuiper_2sample(
    old: DataFrame,
    new: DataFrame,
    value_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Two-sample Kuiper statistic (Kuiper 1960, public):

        V = D⁺ + D⁻ = max(F_old − F_new) + max(F_new − F_old)

    — the KS variant with EQUAL sensitivity at the distribution tails
    and center (KS's single sup under-weights tail shifts; V sums the
    worst gap in each direction, and is invariant to cyclic shifts for
    circular data like hour-of-day). Completes the distance wing next
    to ks_drift/cvm/W1/energy/tv.

    Exact: signed CDF gaps as integers D_i = cum_old·N_new −
    cum_new·N_old on the pooled distinct-value axis (the mann_whitney
    machinery), D⁺/D⁻ from one max aggregate each (clamped at 0 — one
    sample everywhere-dominant puts the opposite max below zero), ONE
    final division each. Raises when either side is empty. Output one
    row: (v, d_plus, d_minus, n_old, n_new)."""
    from table_computing_spark.operators.prefix import prefix_agg

    dec = "decimal(38,0)"
    per = materialize(_pooled_counts(old, new, value_col, "double"), eager=False)
    no, nn = _sample_sizes(per, "kuiper_2sample", "Kuiper against an empty distribution")
    pre = prefix_agg(
        per,
        order_by=["__v"],
        specs={"__co": ("sum", "__no"), "__cn": ("sum", "__nn")},
        exclusive=False,
    )
    d = _cdf_gap("__co", "__cn", no, nn)
    agg = pre.agg(
        F.greatest(F.max(d), F.lit(0).cast(dec)).alias("__dp"),
        F.greatest(F.max(-d), F.lit(0).cast(dec)).alias("__dm"),
    )
    scale = float(no) * float(nn)
    dp = F.col("__dp").cast("double") / scale
    dm = F.col("__dm").cast("double") / scale
    return agg.select(
        F.round(dp + dm, round_to).alias("v"),
        F.round(dp, round_to).alias("d_plus"),
        F.round(dm, round_to).alias("d_minus"),
        F.lit(no).cast("long").alias("n_old"),
        F.lit(nn).cast("long").alias("n_new"),
    )
