"""Recommender primitives: item-item collaborative filtering over a
(user, item) interaction table.

The classic "customers who bought X also bought Y" kernel (Sarwar et
al. 2001 / the Amazon item-to-item paper, Linden et al. 2003 — public):
item similarity is the cosine over the binary user-interaction
vectors,

    sim(i, j) = |U_i ∩ U_j| / sqrt(|U_i| · |U_j|)

computed from exact co-occurrence counts — never a dense matrix.

Scale shape: the co-occurrence self-join is keyed on the USER, so a
power user with b items emits b² pairs — the mega-basket cliff the
itemsets family already guards. `max_user_items` (default 1,000) drops
those users from pair GENERATION (their item counts still count toward
|U_i|): the standard truncation, honest because a 1k-item user says
almost nothing about any specific pair while costing 10⁶ rows.

Engine-exactness: counts are exact integers over DISTINCT (user, item)
pairs; cosine is one sqrt + one division, rounded once. Top-k ranking
breaks ties by neighbor item id — total order, engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from table_computing_spark.operators._util import materialize


def item_cf(
    interactions: DataFrame,
    user_col: str,
    item_col: str,
    k: int = 5,
    min_common: int = 2,
    max_user_items: int = 1_000,
    round_to: int = 6,
) -> DataFrame:
    """Top-k most similar items per item by co-occurrence cosine:
    (item, neighbor, n_common, cos_sim, rank). Pairs below
    `min_common` shared users are pruned BEFORE ranking (support
    pruning — rare coincidences are noise and most of the volume).

    The distinct (user, item) set feeds FOUR branches (item supports,
    basket sizes, both self-join sides) at different partitionings —
    materialize it once so the upstream interaction build
    (often a join + distinct) runs once, not per branch."""

    ui = interactions.select(
        F.col(user_col).alias("__u"), F.col(item_col).alias("__i")
    ).distinct().transform(materialize, eager=False)
    item_n = ui.groupBy(F.col("__i").alias("item")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    basket_sz = ui.groupBy("__u").agg(F.count(F.lit(1)).alias("__b"))
    bounded = ui.join(
        basket_sz.filter(F.col("__b") <= max_user_items).select("__u"), "__u"
    )
    a = bounded.select("__u", F.col("__i").alias("item"))
    b = bounded.select("__u", F.col("__i").alias("neighbor"))
    co = (
        a.join(b, "__u")
        .filter(F.col("item") != F.col("neighbor"))
        .groupBy("item", "neighbor")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    scored = (
        co.join(item_n, "item")
        .join(
            item_n.select(
                F.col("item").alias("neighbor"), F.col("__n").alias("__nn")
            ),
            "neighbor",
        )
        .select(
            "item", "neighbor", "n_common",
            F.round(
                F.col("n_common").cast("double")
                / F.sqrt((F.col("__n") * F.col("__nn")).cast("double")),
                round_to,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def als_rank1(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    round_to: int = 6,
) -> DataFrame:
    """One exact alternation of rank-1 ALS (Zhou et al. 2008 — the
    classic Netflix-prize alternating-least-squares, public), the
    engine-portable core of matrix factorization: with all item
    factors initialized to 1.0,

        u_i = Σ_j r_ij · v_j / Σ_j v_j²  =  Σ_j r_ij / n_i   (v ≡ 1)
        v_j = Σ_i r_ij · u_i / Σ_i u_i²

    u_i is a single division of exact integers (pass INTEGER-UNIT
    ratings — cents, stars); the second step's float sums go through
    nano fixed-point longs (round(term·1e9)) so the reduce order can
    never flip a digit — one final division per item, rounded once.
    More alternations refine the same shapes; one is the documented
    oracle-pinned contract (every extra round is two more joins of the
    identical pattern).

    Scale shape: two equi-join + hash-aggregate rounds, shuffled on
    user then item — the map-side-combinable ALS step; no matrices, no
    driver state, skew bounded by the max user/item degree (AQE skew
    split applies). Output: (item, v, n_raters)."""
    r = ratings.select(
        F.col(user_col).alias("__u"),
        F.col(item_col).alias("__i"),
        F.col(rating_col).cast("long").alias("__r"),
    ).filter(F.col("__r").isNotNull())
    users = r.groupBy("__u").agg(
        (F.sum("__r").cast("double") / F.count(F.lit(1)).cast("double"))
        .alias("__uf")
    )
    ru = r.join(users, "__u")
    num = F.sum(
        F.round(F.col("__r").cast("double") * F.col("__uf") * 1e9).cast("long")
    )
    den = F.sum(F.round(F.col("__uf") * F.col("__uf") * 1e9).cast("long"))
    per_item = ru.groupBy("__i").agg(
        num.alias("__num"), den.alias("__den"), F.count(F.lit(1)).alias("n_raters")
    )
    return per_item.select(
        F.col("__i").alias("item"),
        F.round(
            F.col("__num").cast("double") / F.col("__den").cast("double"), round_to
        ).alias("v"),
        "n_raters",
    )
