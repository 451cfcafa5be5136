"""Survival analysis: the Kaplan–Meier product-limit estimator
(Kaplan & Meier 1958 — the standard non-parametric survival curve,
public statistics).

Pipelines use it far beyond clinical data: time-to-churn, time-to-
conversion with right-censoring (users still active at the snapshot
are censored, not converted), hardware time-to-failure. The estimator
at time t is

    S(t) = Π_{t_i ≤ t} (1 − d_i / n_i)

over the distinct EVENT times t_i, with d_i = events at t_i and
n_i = subjects still at risk at t_i (neither evented nor censored
before t_i).

Engine-exactness: d_i and n_i are exact integers (one hash aggregate +
one suffix count via total − running prefix); the product is
exp(Σ ln(1 − d/n)) accumulated by a RUNNING window sum in event-time
order — a sequential, deterministic summation order that DuckDB's
running window reproduces term for term, and ln/exp match libm
bit-for-bit across both engines (the repo-wide `ln` rule). One final
round.

Plan shape: one hash aggregate keyed by (group, t), one partitioned
running window per group ordered by t — the window input is the
DISTINCT TIME table (≤ |distinct durations| rows per group), never the
subject rows.

The reference has no survival operator; this family exists because
time-to-event curves are a standard step in retention/conversion
analytics at scale.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from table_computing_spark.operators._util import materialize


def kaplan_meier(
    df: DataFrame,
    keys: Sequence[str],
    time_col: str,
    event_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Per-group Kaplan–Meier curve: one row per distinct observed
    time (event or censoring) with (keys..., t, n_risk, n_event,
    n_censor, survival). `event_col` is a boolean Column — true means
    the event occurred at `time_col`, false means the subject was
    censored there. Censored subjects leave the risk set AFTER t (the
    standard convention: a subject censored at t was at risk at t).

    survival only steps down at event times; censoring rows keep the
    running value (they're reported for the at-risk bookkeeping).

    With keys=[] the running window is global over the DISTINCT-TIME
    table — fine for discretized durations (days, buckets), but
    ms-precision times make that table data-sized: pass group keys or
    discretize t first (the same rule as every global-order path)."""
    keys = list(keys)
    per_t = df.groupBy(*keys, F.col(time_col).alias("t")).agg(
        F.sum(event_col.cast("long")).alias("n_event"),
        F.sum((~event_col).cast("long")).alias("n_censor"),
    )
    w_all = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    w_run = w_all.orderBy(F.col("t").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = F.sum(F.col("n_event") + F.col("n_censor")).over(w_all)
    left_through_t = F.sum(F.col("n_event") + F.col("n_censor")).over(w_run)
    # at risk AT t = everyone minus those who left strictly before t;
    # materialized BEFORE the running-product window (windows can't nest)
    risked = per_t.select(
        *keys, "t", "n_event", "n_censor",
        (total - left_through_t + F.col("n_event") + F.col("n_censor"))
        .alias("n_risk"),
    )
    # ln(1 - d/n) term; d == n (the whole risk set events) sends the
    # curve to exactly 0 — encode as a -1e18 sentinel so exp() returns
    # 0.0 instead of ln(0)'s engine-dependent null/-inf
    term = (
        F.when(F.col("n_event") >= F.col("n_risk"), F.lit(-1e18))
        .when(
            F.col("n_event") > 0,
            F.log(
                F.lit(1.0)
                - F.col("n_event").cast("double") / F.col("n_risk").cast("double")
            ),
        )
        .otherwise(F.lit(0.0))
    )
    stepped = risked.withColumn("__lnS", F.sum(term).over(w_run))
    return stepped.select(
        *keys, "t", "n_risk", "n_event", "n_censor",
        F.round(F.exp("__lnS"), round_to).alias("survival"),
    )


def nelson_aalen(
    df: DataFrame,
    keys: Sequence[str],
    time_col: str,
    event_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Per-group Nelson–Aalen cumulative-hazard estimator (Nelson
    1972 / Aalen 1978 — the standard nonparametric hazard companion to
    kaplan_meier above, public statistics):

        H(t) = Σ_{t_i ≤ t} d_i / n_i

    with the same d_i (events at t_i) / n_i (at risk at t_i) risk-set
    bookkeeping as kaplan_meier — one hash aggregate keyed by
    (group, t), at-risk via total − running prefix, censoring leaves
    the risk set AFTER t. Where KM's survival needs ln/exp (a product
    limit), the hazard is a plain SUM — so here each d/n term rounds
    to a nano long and the running sum is pure integer arithmetic:
    bit-identical across engines with no transcendental at all.

    Same window contract as KM: the running window's input is the
    DISTINCT-TIME table per group; with keys=[] discretize t first.
    Output: (keys..., t, n_risk, n_event, n_censor, cumhazard)."""
    keys = list(keys)
    per_t = df.groupBy(*keys, F.col(time_col).alias("t")).agg(
        F.sum(event_col.cast("long")).alias("n_event"),
        F.sum((~event_col).cast("long")).alias("n_censor"),
    )
    w_all = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    w_run = w_all.orderBy(F.col("t").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = F.sum(F.col("n_event") + F.col("n_censor")).over(w_all)
    left_through_t = F.sum(F.col("n_event") + F.col("n_censor")).over(w_run)
    risked = per_t.select(
        *keys, "t", "n_event", "n_censor",
        (total - left_through_t + F.col("n_event") + F.col("n_censor"))
        .alias("n_risk"),
    )
    term = F.when(
        F.col("n_event") > 0,
        F.round(
            F.col("n_event").cast("double")
            / F.col("n_risk").cast("double")
            * 1e9
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    stepped = risked.withColumn("__hn", F.sum(term).over(w_run))
    return stepped.select(
        *keys, "t", "n_risk", "n_event", "n_censor",
        F.round(F.col("__hn").cast("double") / 1e9, round_to).alias("cumhazard"),
    )


def logrank_test(
    df: DataFrame,
    in_group_a: Column,
    time_col: str,
    event_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Two-sample log-rank test (Mantel 1966 / Peto 1972, public) —
    the hypothesis test that completes the survival wing: kaplan_meier
    draws the two curves, nelson_aalen their hazards, THIS says
    whether they differ:

        O_a = Σ_t d_at                     (observed events, group a)
        E_a = Σ_t d_t · n_at / n_t         (expected under H0)
        V   = Σ_t d_t (n_at/n_t)(1 − n_at/n_t)(n_t − d_t)/(n_t − 1)
        z   = (O_a − E_a)/√V,   chi2 = z²

    Risk-set bookkeeping is the kaplan_meier machinery on a GRID: the
    distinct-time axis crossed with both groups (zero-filled), so the
    per-group running prefix yields n_g(t) at EVERY event time even
    where that group has no row. O is an exact long; each E/V term is
    fixed-order double arithmetic nano-rounded to DECIMAL(38,0) before
    the distinct-time sum (reduce-order-free). Censoring leaves the
    risk set AFTER t (the KM convention); times with no event
    contribute nothing. Same contract as KM: the grid is the
    distinct-time table — discretize ms-precision durations first.
    z/chi2 are NULL when V = 0 (no events, or every subject events at
    one time with n_t = 1). Output one row:
    (o_a, e_a, z, chi2, n_a, n_b)."""
    dec = "decimal(38,0)"
    s = df.select(
        in_group_a.cast("int").alias("__g"),
        F.col(time_col).alias("t"),
        event_col.cast("long").alias("__e"),
    ).filter(
        F.col("__g").isNotNull() & F.col("t").isNotNull() & F.col("__e").isNotNull()
    )
    per_gt = s.groupBy("__g", "t").agg(
        F.sum("__e").alias("n_event"),
        F.sum(F.lit(1) - F.col("__e")).alias("n_censor"),
    )
    times = per_gt.select("t").distinct()
    groups = s.sparkSession.range(2).select(F.col("id").cast("int").alias("__g"))
    grid = (
        times.crossJoin(F.broadcast(groups))
        .join(per_gt, ["__g", "t"], "left")
        .fillna(0, subset=["n_event", "n_censor"])
    )
    w_all = Window.partitionBy("__g")
    w_run = w_all.orderBy(F.col("t").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = F.sum(F.col("n_event") + F.col("n_censor")).over(w_all)
    left_through = F.sum(F.col("n_event") + F.col("n_censor")).over(w_run)
    # risked feeds BOTH per-group slices (the __g filters push below
    # the windows, so a/b are separate executions of the whole
    # grid + window chain without a cut) — materialize once (guide §6)
    risked = grid.select(
        "__g", "t", "n_event",
        (total - left_through + F.col("n_event") + F.col("n_censor"))
        .alias("n_risk"),
    ).transform(materialize, eager=False)
    a = risked.filter(F.col("__g") == 1).select(
        "t", F.col("n_event").alias("__da"), F.col("n_risk").alias("__na")
    )
    b = risked.filter(F.col("__g") == 0).select(
        "t", F.col("n_event").alias("__db"), F.col("n_risk").alias("__nb")
    )
    j = a.join(b, "t").filter((F.col("__da") + F.col("__db")) > 0)
    dt = (F.col("__da") + F.col("__db")).cast("double")
    nt = (F.col("__na") + F.col("__nb")).cast("double")
    pa = F.col("__na").cast("double") / nt
    e_term = F.round(dt * pa * 1e9).cast(dec)
    v_term = F.round(
        F.when(
            nt > 1.0,
            dt * pa * (1.0 - pa) * (nt - dt) / (nt - 1.0),
        ).otherwise(F.lit(0.0))
        * 1e9
    ).cast(dec)
    agg = j.agg(
        F.sum("__da").alias("o_a"),
        F.sum(e_term).alias("__en"),
        F.sum(v_term).alias("__vn"),
    )
    totals = s.groupBy().agg(
        F.sum(F.col("__g")).alias("__cnt_a"),
        F.sum(F.lit(1) - F.col("__g")).alias("__cnt_b"),
    )
    out = agg.crossJoin(F.broadcast(totals))
    e_a = F.col("__en").cast("double") / 1e9
    v = F.col("__vn").cast("double") / 1e9
    z = F.when(v > 0, (F.col("o_a").cast("double") - e_a) / F.sqrt(v))
    return out.select(
        F.col("o_a").cast("long").alias("o_a"),
        F.round(e_a, round_to).alias("e_a"),
        F.round(z, round_to).alias("z"),
        F.round(F.when(v > 0, z * z), round_to).alias("chi2"),
        F.col("__cnt_a").cast("long").alias("n_a"),
        F.col("__cnt_b").cast("long").alias("n_b"),
    )
