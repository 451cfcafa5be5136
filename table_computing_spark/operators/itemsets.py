"""Frequent-itemset mining: pairwise co-occurrence support and
association rules (support / confidence / lift) — the market-basket
analysis classic (Agrawal & Srikant 1994, public), and the same shape
that powers co-occurrence features for recommenders and data-mixture
diagnostics ("which sources co-occur in a training shard").

Scale design: the pair generation is a self-equi-join ON THE BASKET
KEY — each basket only pairs with itself, so the shuffle is one hash
partition by basket and the blow-up is per-basket |b|², bounded by
`max_basket_items` (a handful of pathological mega-baskets would
otherwise dominate; dropping them is the standard practice and is an
explicit, logged contract here, not a silent cap). Supports and counts
are exact integers; confidence/lift are fixed-order integer divisions
rounded once — engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from table_computing_spark.operators._util import materialize


def basket_items(
    df: DataFrame, basket_col: str, item_col: str,
    max_basket_items: "int | None" = None,
) -> DataFrame:
    """Distinct (basket, item) pairs; baskets with more than
    `max_basket_items` distinct items are DROPPED entirely (the
    documented mega-basket guard — at scale a single 1M-item basket
    would emit 10¹² pairs)."""
    bi = df.select(
        F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
    ).distinct()
    if max_basket_items is None:
        return bi
    # the distinct set feeds both the size aggregate and the guard
    # join; materialize once so the upstream (often a join + distinct)
    # doesn't execute per branch
    bi = materialize(bi, eager=False)
    sizes = bi.groupBy("basket").agg(F.count(F.lit(1)).alias("__n"))
    return (
        bi.join(sizes.filter(F.col("__n") <= max_basket_items), "basket")
        .select("basket", "item")
    )


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket_items: "int | None" = 1000,
) -> DataFrame:
    """(item_a < item_b, support) for every item pair co-occurring in
    at least `min_support` baskets. One basket-key self-join, one hash
    aggregate."""
    bi = basket_items(df, basket_col, item_col, max_basket_items)
    a = bi.select("basket", F.col("item").alias("item_a"))
    b = bi.select("basket", F.col("item").alias("item_b"))
    return (
        a.join(b, "basket")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    min_confidence: float = 0.0,
    max_basket_items: "int | None" = 1000,
    round_to: int = 6,
) -> DataFrame:
    """Directed rules a → b with
        support    = |baskets with a and b|
        confidence = support / |baskets with a|
        lift       = confidence / (|baskets with b| / |baskets|)
    All counts are exact longs from two hash aggregates (pair supports
    + item supports); the two divisions run in a fixed order on doubles
    and round once, so the output is engine-exact. Item supports are
    broadcast back onto the (filtered, min_support-bounded) pair set.

    The (basket, item) set is materialized ONCE (`materialize`) and feeds
    all three consumers — the pair self-join, the item supports, and
    the basket total; the basket total itself is a lazy one-row
    aggregate broadcast into the lift division rather than a
    construction-time driver count() (which re-executed the whole
    basket chain once per call before the query ran it 3x more)."""

    bi = materialize(basket_items(df, basket_col, item_col, max_basket_items), eager=False)
    # exact distinct-basket total as a broadcastable one-row frame;
    # cast to double HERE so the lift division below is the same
    # double/double division the lit(float(n)) form ran
    n_b = bi.agg(
        F.countDistinct("basket").cast("double").alias("__nbask")
    )
    a = bi.select("basket", F.col("item").alias("item_a"))
    b = bi.select("basket", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "basket")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )
    item_n = bi.groupBy("item").agg(F.count(F.lit(1)).alias("__n"))
    # both directions of every surviving pair
    directed = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "support",
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("antecedent"),
            F.col("item_a").alias("consequent"),
            "support",
        )
    )
    out = (
        directed.join(
            F.broadcast(item_n.withColumnRenamed("item", "antecedent")
                        .withColumnRenamed("__n", "__na")),
            "antecedent",
        )
        .join(
            F.broadcast(item_n.withColumnRenamed("item", "consequent")
                        .withColumnRenamed("__n", "__nb")),
            "consequent",
        )
        .crossJoin(F.broadcast(n_b))
        .select(
            "antecedent",
            "consequent",
            "support",
            F.round(
                F.col("support").cast("double") / F.col("__na").cast("double"),
                round_to,
            ).alias("confidence"),
            F.round(
                (F.col("support").cast("double") / F.col("__na").cast("double"))
                / (F.col("__nb").cast("double") / F.col("__nbask")),
                round_to,
            ).alias("lift"),
        )
    )
    if min_confidence > 0.0:
        out = out.filter(F.col("confidence") >= min_confidence)
    return out


def sequence_pairs(
    df: DataFrame,
    session_col: str,
    item_col: str,
    t_col: str,
    min_support: int = 2,
) -> DataFrame:
    """Sequential-pattern pairs (GSP/PrefixSpan's length-2 core,
    Srikant & Agrawal 1996): (antecedent → consequent, support) where
    support counts sessions in which the antecedent's FIRST occurrence
    strictly precedes the consequent's. The ordered complement of
    frequent_pairs — "view before purchase" is a different fact from
    "view and purchase together".

    Shape: one hash aggregate to first occurrences (state: one row per
    (session, item)), one session-key self-equi-join (sessions pair
    only with themselves), one count aggregate. Simultaneous first
    occurrences (t_a == t_b) carry no order and are excluded — the
    deterministic contract any engine reproduces."""
    first = df.groupBy(
        F.col(session_col).alias("session"), F.col(item_col).alias("item")
    ).agg(F.min(t_col).alias("__t"))
    a = first.select(
        "session", F.col("item").alias("antecedent"), F.col("__t").alias("__ta")
    )
    b = first.select(
        "session", F.col("item").alias("consequent"), F.col("__t").alias("__tb")
    )
    return (
        a.join(b, "session")
        .filter(F.col("__ta") < F.col("__tb"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )
