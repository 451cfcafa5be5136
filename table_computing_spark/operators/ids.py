"""Dense global ID assignment — contiguous start..start+n-1 ids in a
given total order, WITHOUT the single-reducer global sort that
`row_number() OVER (ORDER BY ...)` plans (Spark moves the whole dataset
to one partition for an unpartitioned window — the canonical 100 TB
cliff).

A training pipeline needs this constantly: stable integer ids for
documents before sharding, example indices for curriculum order,
contiguous vector ids for an ANN index. The reference has no analog
(its Table API stops at sort+limit, sp/Table.java:sort); this is part
of the repo's pipeline extension surface.

Shape — ONE data shuffle, all JVM:
  1. range-repartition on the order key (parallel, sampled boundaries)
     and sort within partitions;
  2. `monotonically_increasing_id()` on the sorted rows encodes
     (partition id << 33 | position-in-partition) — both recoverable
     with two bit ops, so the partition-local rank costs NO window and
     NO second shuffle;
  3. per-partition row counts (map-side partial aggregation: one tiny
     row per partition crosses the wire), cumulative offsets over the
     numPartitions-row table, broadcast back.
The only single-partition step is the offset cumsum over one row per
partition. Data rows are shuffled exactly once and never leave the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from table_computing_spark.operators._util import materialize

# monotonically_increasing_id() packs the partition id above bit 33
_MID_SHIFT = 33


def dense_ids(
    df: DataFrame,
    order_by: "list[Column | str]",
    id_col: str = "dense_id",
    start: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add `id_col` = start + global 0-based rank of the row under
    `order_by`. The order must be TOTAL (include a unique tiebreak
    column) or ids are nondeterministic across runs — the same
    contract as any distributed rank.

    The sorted+tagged partitions are pinned with an eager
    checkpoint (`materialize`) before fan-out: the per-partition counts and the
    final join must observe the SAME physical partitioning, and range
    boundary sampling is not guaranteed stable across plan branches.
    (With a total order the IDS are boundary-independent either way —
    the pin only protects the pid↔offset bookkeeping.)"""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    part = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    )
    tagged = (
        part.sortWithinPartitions(*cols)
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn("__pid", F.shiftright(F.col("__mid"), _MID_SHIFT))
        .withColumn(
            "__local", F.col("__mid").bitwiseAND(F.lit((1 << _MID_SHIFT) - 1))
        )
        .drop("__mid")
        .transform(materialize, eager=True)
    )
    counts = tagged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    offsets = counts.select(
        "__pid",
        F.coalesce(
            F.sum("__n").over(
                Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__off"),
    )
    out = tagged.join(F.broadcast(offsets), "__pid").withColumn(
        id_col,
        (F.lit(start).cast("long") + F.col("__off") + F.col("__local")).cast("long"),
    )
    return out.drop("__pid", "__local", "__off")


def ntile_distributed(
    df: DataFrame,
    order_by: "list[Column | str]",
    n: int,
    out_col: str = "ntile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact `ntile(n) OVER (ORDER BY order_by)` without the
    single-task global window (`Window.orderBy` with no partitionBy
    moves the ENTIRE input to one partition — the canonical 100 TB
    cliff this module exists to remove).

    Semantics are bit-identical to SQL ntile: with N rows, the first
    N mod n buckets get floor(N/n)+1 rows, the rest floor(N/n) — so
    any ntile-based oracle keeps hash-matching. The order must be
    TOTAL (include a unique tiebreak) for cross-engine determinism,
    same contract as `dense_ids`.

    Shape: one range shuffle for the global rank (dense_ids), a 1-row
    count aggregate broadcast back, and a pure closed-form bucket
    expression — no window over data rows at any point.
    """
    ranked = dense_ids(df, order_by, id_col="__rn", num_partitions=num_partitions)
    total = ranked.agg(F.count(F.lit(1)).alias("__N"))
    out = ranked.join(F.broadcast(total))
    q = (F.col("__N") / n).cast("long")  # floor: __N >= 0
    r = F.col("__N") % n
    threshold = r * (q + 1)
    rn = F.col("__rn")
    bucket = F.when(
        rn < threshold, (rn / (q + 1)).cast("long") + 1
    ).otherwise(r + ((rn - threshold) / F.greatest(q, F.lit(1))).cast("long") + 1)
    return out.withColumn(out_col, bucket.cast("int")).drop("__rn", "__N")
