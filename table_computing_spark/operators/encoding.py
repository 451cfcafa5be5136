"""Leakage-safe categorical feature encoding.

Mean-target encoding (replace a high-cardinality category with the
mean of the label over that category) is the strongest simple encoder
for tree models — and the easiest way to leak the label into training
if a row's own label contributes to its own feature. The standard fix
is K-fold out-of-fold encoding: row r in fold f gets the category mean
computed from every fold EXCEPT f.

Distributed form, no per-fold scans: one aggregation keyed
(category, fold) produces per-cell (sum, count); the per-category
totals come from re-aggregating those cells; the out-of-fold statistic
is total − own cell. Fold assignment is the repo's md5 hash-split
(deterministic, partition-stable), smoothing is the usual
(sum + prior·alpha) / (count + alpha) shrinkage toward the out-of-fold
global mean, so rare categories fall back to the prior instead of
memorizing their few labels.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from table_computing_spark.operators._util import materialize
from table_computing_spark.operators.sampling import _HEX_DIGITS


def fold_of(key: Column, k: int) -> Column:
    """Deterministic fold in [0, k): md5-based, engine-portable,
    stable under repartitioning and appends (same key → same fold)."""
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, _HEX_DIGITS), 16, 10)
    return F.pmod(h.cast("long"), F.lit(k)).cast("int")


def target_encode(
    df: DataFrame,
    cat_col: str,
    target: Column,
    key_col: str,
    k_folds: int = 5,
    smoothing: float = 20.0,
    out_col: str = "te",
) -> DataFrame:
    """Out-of-fold mean-target encoding:

        te(row) = (oof_sum + oof_prior·α) / (oof_cnt + α)

    where oof_* exclude the row's own fold entirely (its category cell
    AND its contribution to the prior). Rows keep all columns, plus
    `__fold` and `out_col`.

    Plan: one hash aggregation of (category, fold) cells, a tiny
    re-aggregation to category totals, a broadcast-sized join back —
    the label of a row can never reach its own feature."""

    t = target.cast("double")
    tagged = df.withColumn("__fold", fold_of(F.col(key_col), k_folds)).withColumn(
        "__t", t
    )
    # the (category, fold) cell table feeds FOUR branches (category
    # totals, fold totals, the global total, the enriched join) —
    # materialize once so the corpus aggregate runs once (guide §6)
    cells = tagged.groupBy(cat_col, "__fold").agg(
        F.sum("__t").alias("__s"), F.count(F.lit(1)).alias("__c")
    ).transform(materialize, eager=False)
    cat_tot = cells.groupBy(cat_col).agg(
        F.sum("__s").alias("__cat_s"), F.sum("__c").alias("__cat_c")
    )
    fold_tot = cells.groupBy("__fold").agg(
        F.sum("__s").alias("__fold_s"), F.sum("__c").alias("__fold_c")
    )
    glob = cells.agg(
        F.sum("__s").alias("__g_s"), F.sum("__c").alias("__g_c")
    )
    enriched = (
        cells.join(cat_tot, cat_col)
        .join(F.broadcast(fold_tot), "__fold")
        .crossJoin(F.broadcast(glob))
        .select(
            cat_col,
            "__fold",
            (F.col("__cat_s") - F.col("__s")).alias("__oof_s"),
            (F.col("__cat_c") - F.col("__c")).alias("__oof_c"),
            (
                (F.col("__g_s") - F.col("__fold_s"))
                / (F.col("__g_c") - F.col("__fold_c"))
            ).alias("__oof_prior"),
        )
        .select(
            cat_col,
            "__fold",
            (
                (F.col("__oof_s") + F.col("__oof_prior") * F.lit(smoothing))
                / (F.col("__oof_c") + F.lit(smoothing))
            ).alias(out_col),
        )
    )
    return tagged.join(enriched, [cat_col, "__fold"], "left").drop("__t")


def hashed_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1024,
) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009 — public algorithm):
    project each document's token counts into a FIXED dim-dimensional
    sparse vector without a vocabulary table — bucket = hash(token)
    mod dim, sign = a second hash bit, weight = signed count sum. The
    fastText-style input prep for the logreg_gd quality classifier:
    no vocab build, no OOV, bounded feature width at any corpus size.

    Returns sparse rows (id, bucket, weight), zero weights dropped
    (sign cancellation). Hashes are md5-derived like the count-min
    sketch (frequency._cms_slots) so the DuckDB oracle reproduces
    every bucket and sign exactly — not xxhash64, which DuckDB lacks.

    Scale shape: one explode + one (id, bucket) hash aggregation with
    map-side combine; output is at most min(tokens, dim) rows per doc.
    """
    from table_computing_spark.operators.text import tokens

    h = F.md5(F.col("__tok"))
    bucket = F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % dim
    sign = (
        F.when(F.conv(F.substring(h, 16, 1), 16, 10).cast("long") % 2 == 0, 1)
        .otherwise(-1)
    )
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__tok")
    )
    return (
        toks.select(F.col(id_col), bucket.alias("bucket"), sign.alias("__s"))
        .groupBy(id_col, "bucket")
        .agg(F.sum("__s").cast("long").alias("weight"))
        .where(F.col("weight") != 0)
    )
