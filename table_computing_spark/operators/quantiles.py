"""Exact GLOBAL quantiles by distributed selection — no single-reducer
sort, no full-column state on any one node.

The existing ladder: per-group exact `percentile()` (state bounded by
group size) and mergeable Greenwald-Khanna `percentile_approx` for
scale. This module completes it: EXACT order statistics of a column of
any size, via classic iterative histogram refinement (selection in
rounds):

  round k: one scan computes a B-bucket count histogram of each still-
  open rank need; the bucket containing the rank narrows the candidate
  set by ~B×. After ceil(log_B(distinct)) rounds (2-3 in practice for
  B=8192) the candidate set holds <= `slice_limit` rows; one final scan
  sorts just those rows and reads the exact order statistics.

Float-safety: a need's membership is NEVER an open-coded value-range
filter (float rounding at bucket edges would let the histogram and the
refinement disagree about edge rows). Membership is a conjunction of
clamped bucket-index equalities — the exact expression the histogram
grouped by — so the count bookkeeping is consistent by construction.
The clamp also makes the bucket index a total, monotone function of
the value, which is all selection needs.

Driver traffic per round: B longs per open need. Scan work per round:
one full pass with pure-codegen bucket arithmetic — the cost profile
of an ordinary aggregate, repeated 3-4 times. Nothing is globally
sorted; no executor ever holds more than `slice_limit` values.

Quantile positions use the linear-interpolation convention shared by
Spark `percentile()` and DuckDB `quantile_cont`: pos = q*(n-1);
result = v[floor(pos)] + frac*(v[floor(pos)+1] - v[floor(pos)]).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from table_computing_spark.operators._util import materialize


def _order_stats(
    vals: DataFrame,
    ks: "list[int]",
    buckets: int,
    slice_limit: int,
    max_rounds: int,
    bounds: "tuple[int, float, float] | None" = None,
) -> "dict[int, float]":
    """Exact 0-indexed order statistics of the sorted `vals.v`.
    State per rank: (signature of bucket picks, ranks below the set).

    Batched selection (r08 rework, two iterations measured on 6M rows
    x 21 quantiles): every open rank at round r sits at the SAME depth
    r-1, and a row's candidate chain is identified by its own bucket
    path — grid origins are functions of the ancestor picks
    (lo_l = lo_{l-1} + b_{l-1}*bw_{l-1}, bw_l = bw_{l-1}/B), so the
    path columns b_0..b_d compute in ONE projection with no per-chain
    expressions at all. Chain dispatch is a broadcast join against the
    open-signature table (a deep CASE WHEN cascade defeated codegen:
    35 branches cost 4.2 s where this join costs 1.7 s), child counts
    come from the parent histogram (no per-chain stats pass), and a
    picked bucket with min == max resolves its ranks for free. A
    21-quantile call is ~3 full scans where the per-chain version paid
    ~3 scans PER CHAIN (~60).

    Float-safety is unchanged: membership is bucket-index equality on
    the exact expressions the histograms grouped by (clamped, total,
    monotone); the driver never open-codes a value-range filter.
    """
    if bounds is None:
        row = vals.agg(
            F.count("v").alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi")
        ).first()
        n, lo0, hi0 = int(row["n"]), float(row["lo"]), float(row["hi"])
    else:
        n, lo0, hi0 = bounds
    needs: "dict[int, tuple[tuple, int]]" = {k: ((), 0) for k in ks}
    out: "dict[int, float]" = {}
    width0 = hi0 - lo0
    if width0 == 0.0:
        return {k: lo0 for k in ks}
    counts: "dict[tuple, int]" = {(): n}
    spark = vals.sparkSession

    for _ in range(max_rounds):
        open_by_sig: "dict[tuple, list[int]]" = {}
        for k, (sig, _off) in needs.items():
            if k not in out:
                open_by_sig.setdefault(sig, []).append(k)
        if not open_by_sig:
            return out
        depth = len(next(iter(open_by_sig)))  # uniform: +1 per round
        # path columns b0..b{depth}: b{depth} is the next-split bucket
        bws = []
        bw = width0 / buckets
        for _l in range(depth + 1):
            bws.append(bw)
            bw = bw / buckets
        base = vals
        for l in range(depth + 1):
            lo_col = F.lit(lo0)
            for m in range(l):
                lo_col = lo_col + F.col(f"b{m}") * F.lit(bws[m])
            raw = F.floor((F.col("v") - lo_col) / F.lit(bws[l])).cast("int")
            base = base.select(
                "*",
                F.greatest(F.lit(0), F.least(raw, F.lit(buckets - 1))).alias(f"b{l}"),
            )
        sig_cols = [f"b{l}" for l in range(depth)]
        sigs = list(open_by_sig)
        small = [s_ for s_ in sigs if counts[s_] <= slice_limit]
        big = [s_ for s_ in sigs if counts[s_] > slice_limit]

        def dispatch(sig_list):
            if depth == 0:
                return base  # single root chain — every row is in it
            m = spark.createDataFrame(
                [tuple(int(b) for b in s_) for s_ in sig_list],
                ", ".join(f"b{l} int" for l in range(depth)),
            )
            return base.join(F.broadcast(m), sig_cols)

        if small:
            arrs = {
                tuple(r[c] for c in sig_cols): r["vs"]
                for r in dispatch(small)
                .groupBy(*sig_cols)
                .agg(F.sort_array(F.collect_list("v")).alias("vs"))
                .collect()
            }
            for s_ in small:
                kk = open_by_sig[s_]
                off = needs[kk[0]][1]
                vs = arrs[s_]
                for k in kk:
                    out[k] = float(vs[k - off])
        if big:
            hrows = (
                dispatch(big)
                .groupBy(*sig_cols, f"b{depth}")
                .agg(
                    F.count(F.lit(1)).alias("c"),
                    F.min("v").alias("mn"),
                    F.max("v").alias("mx"),
                )
                .collect()
            )
            hists: "dict[tuple, dict[int, tuple[int, float, float]]]" = {
                s_: {} for s_ in big
            }
            for r in hrows:
                s_ = tuple(r[c] for c in sig_cols)
                if s_ in hists:
                    hists[s_][r[f"b{depth}"]] = (r["c"], r["mn"], r["mx"])
            for s_ in big:
                kk = open_by_sig[s_]
                off = needs[kk[0]][1]
                hist = hists[s_]
                cums, cum = [], 0
                for b in range(buckets):
                    cums.append(cum)
                    cum += hist.get(b, (0,))[0]
                for k in kk:
                    rank_in = k - off
                    bi = 0
                    for b in range(buckets):
                        if hist.get(b, (0,))[0] and cums[b] <= rank_in:
                            bi = b
                    cnt_b, mn_b, mx_b = hist[bi]
                    if mn_b == mx_b:
                        out[k] = float(mn_b)  # picked bucket is constant
                        continue
                    nsig = s_ + (bi,)
                    counts[nsig] = cnt_b
                    needs[k] = (nsig, off + cums[bi])
    missing = [k for k in ks if k not in out]
    if missing:
        raise RuntimeError(f"selection did not converge for ranks {missing}")
    return out


def exact_quantiles(
    df: DataFrame,
    col: str,
    qs: Sequence[float],
    buckets: int = 8192,
    slice_limit: int = 65536,
    max_rounds: int = 12,
) -> DataFrame:
    """Exact global quantiles of `df[col]` (nulls dropped) as (q,
    value) rows with quantile_cont interpolation. Exact because the
    answer is always read from actual data values in a final sorted
    slice, never from a bucket midpoint."""
    qs = list(qs)
    vals = df.select(F.col(col).cast("double").alias("v")).where(
        F.col("v").isNotNull()
    )
    # the candidate-set scans re-read this subtree once per round —
    # pin it so an expensive upstream runs once
    vals = vals.transform(materialize, eager=False)
    row = vals.agg(
        F.count("v").alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi")
    ).first()
    n = int(row["n"])
    spark = df.sparkSession
    if n == 0:
        return spark.createDataFrame(
            [(float(q), None) for q in qs], "q double, value double"
        )
    ks: "set[int]" = set()
    pos = {}
    for q in qs:
        p = q * (n - 1)
        lo = int(math.floor(p))
        pos[q] = (lo, p - lo)
        ks.add(lo)
        if p - lo > 0:
            ks.add(lo + 1)
    stats = _order_stats(
        vals, sorted(ks), buckets, slice_limit, max_rounds,
        bounds=(n, float(row["lo"]), float(row["hi"])),
    )
    rows = []
    for q in qs:
        lo, frac = pos[q]
        v = stats[lo] if frac == 0 else stats[lo] + frac * (stats[lo + 1] - stats[lo])
        rows.append((float(q), float(v)))
    return spark.createDataFrame(rows, "q double, value double")


def winsorize(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Clip `col` to its per-group exact [p_lo, p_hi] percentile band —
    the standard outlier-robust feature squash (winsorization), grouped
    so heavy-tailed segments clip against their OWN distribution.

    Engine-exact: the cut points are Spark's exact `percentile`
    (quantile_cont interpolation — the same convention DuckDB uses),
    and the clip is two comparisons; no float accumulation anywhere.

    Shape: one hash aggregate for the per-group band (state bounded by
    group count), joined back (AQE broadcasts small band tables), then
    a pure-codegen least/greatest projection. Output schema == input
    schema with `col` clipped. Groups too small for a meaningful band
    still get exact percentiles of whatever they hold; NULL values
    pass through unclipped (SQL percentile ignores them), and NULL
    group KEYS clip against the NULL group's own band (the join is
    null-safe — a plain equi-join would silently DROP those rows).
    `keys=[]` clips globally: the 1-row band table is broadcast
    cross-joined (an explicit path — `df.join(other, None, "left")`
    would otherwise degenerate into condition-less-join semantics;
    r08 ADVICE fix)."""
    keys = list(keys)
    band = df.groupBy(*keys).agg(
        F.expr(f"percentile({col}, array({lo}, {hi}))").alias("__band")
    )
    clipped = F.when(
        F.col(col).isNotNull() & F.col("__band").isNotNull(),
        F.least(
            F.greatest(F.col(col), F.col("__band")[0]), F.col("__band")[1]
        ),
    ).otherwise(F.col(col))
    if not keys:
        out = df.crossJoin(F.broadcast(band))
        return out.withColumn(col, clipped).select(*df.columns)
    for k in keys:
        band = band.withColumnRenamed(k, f"__bk_{k}")
    cond = None
    for k in keys:
        c = df[k].eqNullSafe(band[f"__bk_{k}"])
        cond = c if cond is None else cond & c
    out = df.join(band, cond, "left")
    return out.withColumn(col, clipped).select(*df.columns)


def global_percent_rank(
    df: DataFrame,
    col: str,
    out_col: str = "percent_rank",
    round_to: int = 9,
) -> DataFrame:
    """`percent_rank() OVER (ORDER BY col)` — the global quantile
    transform (uniformize a feature, score-to-percentile maps) —
    WITHOUT the single-task global window Spark would plan for it.

    Decomposition: rows collapse to per-VALUE counts (one hash
    aggregate), the exclusive prefix sum over the distinct-value order
    gives each value its "rows strictly below" (prefix_agg's
    partition-decomposed running sum — no unpartitioned window), and a
    join on the value carries the rank back to every row:

        percent_rank(v) = rows_below(v) / (n − 1)

    which is exactly SQL's ties-share rank()-based definition. The
    division is one op on exact integers → engine-identical doubles.

    NULLs: engines disagree on NULL placement in ORDER BY (Spark
    nulls-first vs DuckDB nulls-last), so NULL values get a NULL rank
    here — filter or impute first if NULLs must participate. n == 1
    yields 0.0 (SQL convention).

    Scale shape: shuffle on the value for the count, prefix over
    DISTINCT values only, then a value-keyed join back (AQE broadcasts
    small value tables). Nothing global-sorts the data."""
    from table_computing_spark.operators.prefix import prefix_agg

    vals = df.select(F.col(col).alias("__v")).where(F.col("__v").isNotNull())
    # the per-value count table feeds the prefix build AND the total
    # aggregate — materialize once (the kruskal/cvm pattern)
    counts = materialize(vals.groupBy("__v").agg(F.count(F.lit(1)).alias("__c")), eager=False)
    cum = prefix_agg(
        counts,
        order_by=["__v"],
        specs={"__below": ("sum", "__c")},
        exclusive=True,
    ).select("__v", F.coalesce(F.col("__below"), F.lit(0)).alias("__below"))
    total = counts.agg(F.sum("__c").alias("__n"))
    ranked = cum.crossJoin(F.broadcast(total)).select(
        "__v",
        F.when(F.col("__n") > 1,
               F.round(F.col("__below").cast("double")
                       / (F.col("__n") - F.lit(1)).cast("double"), round_to))
        .otherwise(F.lit(0.0))
        .alias(out_col),
    )
    return df.join(ranked, df[col] == ranked["__v"], "left").drop("__v")


def weighted_quantiles(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    weight_col: str,
    qs: Sequence[float],
    q_scale: int = 1_000_000,
) -> DataFrame:
    """Exact weighted quantiles per group (weighted median and
    friends): the q-quantile is the SMALLEST value v whose cumulative
    weight reaches q·W — the standard lower weighted quantile, the
    right notion when rows carry multiplicities (token counts,
    importance weights, sampled-up rows).

    Engine-exact: weights must be integers; the threshold test is the
    cross-multiplied integer comparison

        cum(v) · q_scale >= round(q·q_scale) · W

    in DECIMAL — no float boundary anywhere, so every engine picks the
    identical v. Values collapse to per-(group, value) weight sums,
    cumulative weights come from prefix_agg's partition-decomposed
    running sum (grouped or global — never an unpartitioned window),
    and each (group, q) answer is one min() aggregate over the
    satisfying values.

    Output: (keys..., q, value). NULL values and NULL/non-positive
    weights are ignored (a NULL weight is not a multiplicity)."""
    from table_computing_spark.operators.prefix import prefix_agg

    keys = list(keys)
    dec = "decimal(38,0)"
    base = df.where(
        F.col(col).isNotNull()
        & F.col(weight_col).isNotNull()
        & (F.col(weight_col) > 0)
    ).select(*keys, F.col(col).alias("__v"), F.col(weight_col).cast("long").alias("__w"))
    # the per-(group, value) weight table feeds the prefix build AND
    # the totals aggregate — materialize once (the kruskal/cvm pattern)
    counts = materialize(base.groupBy(*keys, "__v").agg(F.sum("__w").alias("__wi")), eager=False)
    cum = prefix_agg(
        counts,
        order_by=["__v"],
        specs={"__cw": ("sum", "__wi")},
        partition_by=keys or None,
    )
    if keys:
        totals = counts.groupBy(*keys).agg(F.sum("__wi").alias("__W"))
        cum = cum.join(F.broadcast(totals), keys)
    else:
        cum = cum.crossJoin(F.broadcast(counts.agg(F.sum("__wi").alias("__W"))))
    qrows = df.sparkSession.createDataFrame(
        [(float(x), int(round(x * q_scale))) for x in qs], "q double, __num long"
    )
    hit = (
        cum.crossJoin(F.broadcast(qrows))
        .filter(
            F.col("__cw").cast(dec) * F.lit(int(q_scale)).cast(dec)
            >= F.col("__num").cast(dec) * F.col("__W").cast(dec)
        )
    )
    return hit.groupBy(*keys, "q").agg(F.min("__v").alias("value"))


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    col: str,
    id_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Quantile normalization (the bioinformatics / feature-alignment
    standard, Bolstad et al. 2003): each group's value at within-group
    rank r is replaced by the MEAN across groups of the values at rank
    r — after which every group has an identical distribution.

    Contract for unequal group sizes (documented, matches the common
    implementation): rank is `row_number` over (value, id tiebreak)
    per group, and the rank-r reference is the mean over the groups
    that HAVE a rank-r value. Integer-exact mean: values aggregate as
    DECIMAL sums and divide once in fixed order, so the normalized
    value is engine-exact before the round.

    Shape: the within-group rank comes from ONE distributed global
    rank (ids.dense_ids range shuffle over (group, value, id)) minus
    the group's broadcast base offset — a `row_number` window
    partitioned by group would funnel each group through a single task,
    and quantile normalization's groups are exactly the few-and-huge
    kind (3 return flags of 2 TB each at scale). Then one hash
    aggregate keyed by rank and one join back."""
    from table_computing_spark.operators.ids import dense_ids

    gid = dense_ids(
        df.select(F.col(id_col), F.col(group_col), F.col(col)),
        order_by=[F.col(group_col).asc(), F.col(col).asc(), F.col(id_col).asc()],
        id_col="__gid",
    )
    base = gid.groupBy(group_col).agg(F.min("__gid").alias("__base"))
    # __rank stays LONG: it only feeds a groupBy key and a join, and the
    # operator's own target shape (few huge groups, multi-TB each) puts
    # per-group ranks past 2^31 where an int cast would wrap (r09 advice)
    ranked = gid.join(F.broadcast(base), group_col).select(
        F.col(id_col), F.col(group_col), F.col(col),
        (F.col("__gid") - F.col("__base") + 1).alias("__rank"),
    )
    ref = ranked.groupBy("__rank").agg(
        (
            F.sum(F.col(col).cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("__ref")
    )
    return (
        ranked.join(ref, "__rank")
        .select(
            id_col,
            group_col,
            F.col(col),
            F.col("__rank").alias("rank"),
            F.round("__ref", round_to).alias("normalized"),
        )
    )


def trimmed_mean(
    df: DataFrame,
    keys: "Sequence[str]",
    value_col: Column,
    trim_pct: float = 0.1,
    round_to: int = 6,
) -> DataFrame:
    """Per-key symmetric trimmed mean (Tukey's robust location,
    public): drop the k = floor(trim_pct·n) lowest and highest values
    BY RANK and average the rest — the outlier-proof aggregate between
    the mean (trim 0) and the median (trim → 0.5), for metrics where
    winsorize's clamping is too gentle and the median too coarse.

    `value_col` must be INTEGER-exact (cents, counts — the welch_ttest
    contract): the kept slice's sum stays in DECIMAL and the mean is
    one division. Trimming is by row_number over (value) per key —
    ties order arbitrarily but equal values are interchangeable, so
    the KEPT MULTISET (hence the mean) is deterministic. One key-
    partitioned rank window over data rows (the bounded-group caveat:
    keys must be entity-sized) + one hash aggregate. For trim_pct <
    0.5 the kept slice is never empty (n − 2·floor(n·t) > 0); at
    trim_pct ≥ 0.5 a fully-trimmed key is ABSENT from the output, not
    NULL. Output: (keys..., n, n_trimmed_each_side, trimmed_mean)."""
    from pyspark.sql.window import Window as W

    keys = list(keys)
    v = value_col.cast("decimal(38,0)")
    w = W.partitionBy(*keys).orderBy(F.col("__v").asc())
    wall = W.partitionBy(*keys)
    staged = df.select(*keys, v.alias("__v")).filter(
        F.col("__v").isNotNull()
    ).select(
        "*",
        F.row_number().over(w).alias("__r"),
        F.count(F.lit(1)).over(wall).alias("__n"),
    )
    k = F.floor(F.col("__n") * F.lit(float(trim_pct))).cast("long")
    kept = staged.filter(
        (F.col("__r") > k) & (F.col("__r") <= F.col("__n") - k)
    )
    agg = kept.groupBy(*keys).agg(
        F.max("__n").cast("long").alias("n"),
        F.max(k).cast("long").alias("n_trimmed_each_side"),
        F.sum("__v").alias("__s"),
        F.count(F.lit(1)).alias("__kc"),
    )
    return agg.select(
        *keys,
        "n",
        "n_trimmed_each_side",
        F.round(
            F.col("__s").cast("double") / F.col("__kc").cast("double"), round_to
        ).alias("trimmed_mean"),
    )
