"""Distributed prefix (running) aggregates over a TOTAL order.

`SUM(x) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)` is the canonical
single-task cliff: Spark plans an unpartitioned Window and moves the
ENTIRE table through one partition. This module computes the same
running aggregates with the dense_ids decomposition (operators/ids.py):

  1. range-repartition on the order key and sort within partitions —
     the only data shuffle, fully parallel;
  2. per-partition running aggregate — a window PARTITIONED by the
     physical partition id, so every task scans only its own slice;
  3. per-partition TOTALS (one tiny row per partition) → exclusive
     cumulative combine over that numPartitions-row table → broadcast
     back and merged into the local running value.

Any aggregate with an associative combine fits: sum, count, min, max.
The reference's OverWindowBySize/Duration (sp/.../OverWindowBySize*)
keep bounded trailing state per key; this is the UNBOUNDED-prefix
complement a batch engine needs for cumulative revenue, balances and
skyline scans at 100 TB.

The same trick underpins ids.dense_ids (global rank) and
ids.ntile_distributed (exact quantile buckets); prefix_agg generalizes
it from rank to arbitrary running aggregates.
"""

from __future__ import annotations

from typing import Mapping, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from table_computing_spark.operators._util import materialize

# monotonically_increasing_id packs the partition id above bit 33
_MID_SHIFT = 33

_KINDS = ("sum", "min", "max", "count")


def prefix_agg(
    df: DataFrame,
    order_by: "Sequence[Column | str]",
    specs: "Mapping[str, Tuple[str, Column | str]]",
    exclusive: bool = False,
    num_partitions: int | None = None,
    partition_by: "Sequence[str] | None" = None,
) -> DataFrame:
    """Add running aggregates in the global `order_by` order without an
    unpartitioned window.

    specs: {out_col: (kind, expr)} with kind in sum|min|max|count.
    exclusive=True computes the strict-prefix aggregate (all rows
    BEFORE this one; over an empty frame sum/min/max are NULL and
    count is 0, exactly as in SQL) — the form dominance/skyline scans
    need.

    partition_by restarts the running aggregate per key — the
    `SUM(x) OVER (PARTITION BY key ORDER BY ...)` shape for keys whose
    HISTORY exceeds one task: unlike the plain partitioned window
    (which funnels each key's entire history through one task — the
    temporal.bounded_running_balance BOUNDED-GROUP caveat), the range
    shuffle here runs on (key, order), so one hot key spreads over many
    partitions and only its per-(key, partition) totals are combined.

    The order must be TOTAL within a key (include a unique tiebreak
    column) or results are nondeterministic across runs, same contract
    as dense_ids."""
    for name, (kind, _) in specs.items():
        if kind not in _KINDS:
            raise ValueError(f"{name}: unknown kind {kind!r}; use one of {_KINDS}")
    keys = list(partition_by or [])
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    range_cols = [F.col(k) for k in keys] + cols
    part = (
        df.repartitionByRange(num_partitions, *range_cols)
        if num_partitions
        else df.repartitionByRange(*range_cols)
    )
    # pin the physical partitioning: the totals aggregate and the final
    # merge join must observe the SAME pid assignment (see dense_ids)
    tagged = (
        part.sortWithinPartitions(*range_cols)
        .withColumn("__pid", F.shiftright(F.monotonically_increasing_id(), _MID_SHIFT))
        .transform(materialize, eager=True)
    )
    end = -1 if exclusive else 0
    local_w = (
        Window.partitionBy("__pid", *keys)
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    local_fn = {"sum": F.sum, "min": F.min, "max": F.max, "count": F.count}
    with_local = tagged
    for name, (kind, expr) in specs.items():
        e = F.col(expr) if isinstance(expr, str) else expr
        with_local = with_local.withColumn(f"__loc_{name}", local_fn[kind](e).over(local_w))
    # one tiny row per (partition, key-slice); the EXCLUSIVE cumulative
    # combine over it is the only cross-partition ordered window —
    # global (bounded __pid rows, plan-gate-whitelisted) when ungrouped,
    # key-partitioned over per-key pid rows when grouped
    totals = tagged.groupBy("__pid", *keys).agg(
        *[
            local_fn[kind](F.col(expr) if isinstance(expr, str) else expr).alias(
                f"__tot_{name}"
            )
            for name, (kind, expr) in specs.items()
        ]
    )
    off_w = (
        Window.partitionBy(*keys).orderBy("__pid")
        if keys
        else Window.orderBy("__pid")
    ).rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid",
        *keys,
        *[
            {
                "sum": F.sum(f"__tot_{name}"),
                "count": F.sum(f"__tot_{name}"),
                "min": F.min(f"__tot_{name}"),
                "max": F.max(f"__tot_{name}"),
            }[kind]
            .over(off_w)
            .alias(f"__off_{name}")
            for name, (kind, _) in specs.items()
        ],
    )
    # ungrouped: offsets is numPartitions rows — always broadcast.
    # grouped: offsets is ~(#keys + #pids) rows; few-hot-keys (the case
    # this mode exists for) stays tiny, but an unbounded key count must
    # not force a driver-sized broadcast — let AQE pick the join side.
    off_side = F.broadcast(offsets) if not keys else offsets
    out = with_local.join(off_side, ["__pid", *keys])
    for name, (kind, _) in specs.items():
        loc, off = F.col(f"__loc_{name}"), F.col(f"__off_{name}")
        if kind == "count":
            merged = F.coalesce(loc, F.lit(0)) + F.coalesce(off, F.lit(0))
        elif kind == "sum":
            # SQL SUM over an empty frame is NULL (exclusive first row)
            merged = F.when(
                loc.isNull() & off.isNull(), F.lit(None)
            ).otherwise(F.coalesce(loc, F.lit(0)) + F.coalesce(off, F.lit(0)))
        elif kind == "min":
            merged = F.least(loc, off)  # least/greatest skip nulls
        else:
            merged = F.greatest(loc, off)
        out = out.withColumn(name, merged)
    drop = ["__pid"] + [f"__loc_{n}" for n in specs] + [f"__off_{n}" for n in specs]
    return out.drop(*drop)
