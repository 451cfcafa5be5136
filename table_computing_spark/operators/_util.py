"""Shared operator helpers (r14 ADVICE: `_spread` had drifted into three
verbatim copies across bootstrap.py, dedup.py and spatial.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def _spread(df: DataFrame) -> DataFrame:
    """Ensure the narrow per-row compute that follows can use every
    core: small local inputs often arrive as ONE parquet split (the
    testdata files are single row groups, so byte-range splitting
    cannot help), which would pin an explode/hash/serialize stage to a
    single task. One round-robin shuffle of the narrow input rows is
    far cheaper than running the fanned-out stage serially. No-op when
    the scan already has enough splits (the 100 TB case).

    Note: `df.rdd.getNumPartitions()` compiles the physical plan once
    per call — acceptable for the handful of hot-path call sites, so
    apply it where the downstream fan-out is measured to pay for the
    exchange (grid_radius_join documents a measured negative)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def is_local_master(master: str) -> bool:
    """True for `local` and `local[...]`: the only executor is the
    driver's own JVM, so no executor can be lost on its own. False for
    `local-cluster[...]` (separate executor JVMs), `spark://`, `yarn`
    and `k8s://`."""
    return master == "local" or master.startswith("local[")


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize `df` and truncate its lineage: the one policy for a
    subtree that several branches reuse (grid_dbscan's pairs/sym/flagged,
    simhash_pairs' fingerprints) or that an iterative loop re-reads
    (graph rounds, BPE vocab).

    On a local master this is ``localCheckpoint`` — cheapest (no file
    I/O, blocks freed by the context cleaner) and safe, because the
    blocks live in the only executor there is. On any other master it is
    a reliable ``checkpoint`` into Spark's ``spark.checkpoint.dir``, so
    losing an executor cannot lose the truncated data; Spark raises when
    that dir is unset. Use ``df.transform(materialize, eager=...)``
    inside method chains."""
    if is_local_master(df.sparkSession.sparkContext.master):
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=eager)


def _broadcast_threshold_bytes(spark) -> int:
    """spark.sql.autoBroadcastJoinThreshold in bytes (handles the
    '64m'-style suffixed form; -1 disables => 0)."""
    raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10m")).lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    try:
        if raw and raw[-1] in mult:
            n = int(float(raw[:-1]) * mult[raw[-1]])
        elif raw.endswith("b") and len(raw) > 1 and raw[-2] in mult:
            n = int(float(raw[:-2]) * mult[raw[-2]])
        else:
            n = int(raw)
    except ValueError:
        return 0
    return max(n, 0)
