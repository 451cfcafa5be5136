"""Physical-plan pre-flight audit — ask Spark what it WILL do before
burning a 100 TB pass on it.

The test suite enforces these rules over every shipped query
(tests/test_plans.py); this module makes the same checks a first-class
operator a user can run on their OWN DataFrame before submitting:

    from table_computing_spark.plans import plan_report
    report = plan_report(df)
    assert report.ok, report.findings

Checks (each one is a measured scale-killer from this repo's history):

  cartesian          CartesianProduct — |A|x|B| work, always flagged.
  python_row_udf     BatchEvalPython — row-at-a-time Python in the hot
                     path (~10-100x slower than Arrow; use pandas
                     UDFs / mapInPandas).
  unpartitioned_window  a Window with an empty partition spec sorting
                     data-sized input — Spark funnels the ENTIRE input
                     through one task. Use ids.dense_ids /
                     ids.ntile_distributed / prefix.prefix_agg /
                     quantiles.global_percent_rank, which decompose
                     the global order.
  wide_scan          a parquet scan reading >= `wide_scan_cols`
                     columns — usually a missing projection before a
                     cache/join (column pruning is free if you select
                     first).

Warnings (reported, but do not flip `ok`):

  nested_loop_join   BroadcastNestedLoopJoin — the plan for non-equi
                     joins and cross joins. Legitimate when the built
                     side is tiny (1-row totals, bands); quadratic
                     when it is not — the plan text carries no size,
                     so this is surfaced for the reader to judge.

The report also carries counts (exchanges, scans) so a before/after
diff of a rewrite is one subtraction. (Codegen coverage is not
reported: AQE formatted plans omit codegen ids until the final plan.)
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def plan_of(df: DataFrame, mode: str = "formatted") -> str:
    """The formatted physical plan as a string.

    Uses the explainString JVM API directly instead of capturing
    `df.explain()` prints with redirect_stdout: byte-identical output
    (explain() prints exactly this string), and THREAD-SAFE — process-
    global stdout redirection races when plans are built from a pool
    (r15: tests/test_plans.py builds its 342-plan fixture concurrently)."""
    s = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )
    return s + "\n"


def plan_fingerprint(df: DataFrame) -> str:
    """Stable 12-hex fingerprint of a DataFrame's physical plan
    (r09 verdict task 2): hash of the pre-execution plan simpleString
    with every session-dependent token normalized away — expression
    ids (#123 counts up across the session), plan ids, filesystem
    paths (sf dirs, tempdirs, checkpoint state dirs), Python object
    addresses (mapInPandas function reprs), and the partition counts
    Spark derives from the core count. Same code + same data layout →
    same fingerprint across sessions, rounds and `local[N]`, so "plan
    unchanged, timing swung" is a one-line host-noise check instead of
    a same-boot re-run study.

    Core-count tokens: a partition count N equal to the session's
    `defaultParallelism` is replaced by `<dp>` in three forms —
    `RoundRobinPartitioning(N), REPARTITION_BY_NUM` (`_spread`'s
    `repartition(defaultParallelism)`),
    `hashpartitioning(..., N), REPARTITION_BY_NUM`
    (`repartition(defaultParallelism, cols)`), and
    `Range (..., splits=N)` (`spark.range(n)` without `numPartitions`).
    Every other count is kept: `spark.sql.shuffle.partitions`'
    ENSURE_REQUIREMENTS exchanges, `coalesce(k)`, and a literal
    `repartition(k)` with k not equal to the core count still change
    the fingerprint.

    Limit: `_spread` adds its Exchange only when the scan has fewer
    splits than the core count, so on a host whose core count crosses
    a scan's split count the Exchange itself appears or disappears
    and the fingerprint changes with it. Invariance of every shipped
    query was checked at sf0.1 with 4, 8 and 32 cores only."""
    import hashlib

    try:
        spark = df.sparkSession
        # FileScan metadata (DataFilters, ReadSchema...) is truncated at
        # spark.sql.maxMetadataStringLength CHARS — counted on the
        # PRE-normalization text, so longer expression ids (a session
        # counter) shift the cut point and change the visible prefix.
        # Lift the cap while rendering so the fingerprint sees the whole
        # string, then restore.
        key = "spark.sql.maxMetadataStringLength"
        prev = spark.conf.get(key, None)
        try:
            spark.conf.set(key, "100000")
            s = df._jdf.queryExecution().simpleString()
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        dp = spark.sparkContext.defaultParallelism
    except Exception:  # noqa: BLE001 — fingerprinting is advisory
        return "na"
    s = re.sub(
        rf"\b(RoundRobinPartitioning\(|hashpartitioning\([^\n]*?, ){dp}\), REPARTITION_BY_NUM",
        r"\1<dp>), REPARTITION_BY_NUM",
        s,
    )
    s = re.sub(rf"\bsplits={dp}\)", "splits=<dp>)", s)
    s = re.sub(r"#\d+", "#", s)
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    s = re.sub(r"0x[0-9a-fA-F]+", "0x", s)
    s = re.sub(r"(file:)?/[^\s,\)\]]+", "<path>", s)
    s = re.sub(r"\[id=#?\d*\]", "", s)
    # higher-order-function lambda variables carry a SESSION-global
    # counter (x_1, x_3, ...) — same query, different session, new name
    s = re.sub(r"\b([A-Za-z]\w*)_\d+#", r"\1_#", s)
    s = _canonicalize_distinct_rewrite(s)
    return hashlib.sha1(s.encode()).hexdigest()[:12]


def _split_top_commas(s: str) -> "list[str]":
    items, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append(s[start:i])
            start = i + 1
    items.append(s[start:])
    return items


def _canon_groups(s: str) -> str:
    """Within every balanced ()/[] group, sort the top-level
    comma-separated items (recursing into each item first), with every
    BARE-INTEGER item blanked to G before the sort. Applied ONLY to
    gid# lines, where every list is semantically a SET (hash grouping
    keys, Expand projection rows, filtered partial aggs) and every
    bare integer is a session-assigned gid tag: RewriteDistinctAggregates
    renders the tag at a POSITION that depends on the aggregate shape
    (q21's rows carry it last — the r10 fix; q_chi2_screen's
    2-distinct + non-distinct-first shape carries it FIRST, found when
    two same-code r11b captures disagreed), so positional regexes
    cannot enumerate it. Blanking all top-level bare ints on gid lines
    trades a sliver of sensitivity (a literal function arg on a gid
    line no longer distinguishes plans) for session invariance — the
    same trade the item sort already makes."""
    out, i, n = [], 0, len(s)
    while i < n:
        ch = s[i]
        if ch in "([":
            close = ")" if ch == "(" else "]"
            depth, j = 0, i
            while j < n:
                if s[j] in "([":
                    depth += 1
                elif s[j] in ")]":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if j >= n:  # unbalanced — leave the tail untouched
                out.append(s[i:])
                break
            items = sorted(
                "G" if it.strip().isdigit() else it
                for it in (
                    _canon_groups(raw).strip()
                    for raw in _split_top_commas(s[i + 1 : j])
                )
            )
            out.append(ch + ", ".join(items) + close)
            i = j + 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _canonicalize_distinct_rewrite(s: str) -> str:
    """RewriteDistinctAggregates renders as a function of the
    session-global expression-id counter, not of the physical
    strategy: gid values are assigned by absolute exprId order, so a
    plan with 2+ count_distinct aggregates permutes its gid pairing,
    its Expand projection-row order, and the column order of the
    gid grouping keys with how many frames were built earlier in the
    session (found on q_count_distinct in r10; bit q_tpch_q21 when
    the driver's capture shifted the counter — r10 verdict task 1).
    Canonicalize instead of name-exempting: on every line that
    mentions gid#, erase the arbitrary gid literals and sort each
    bracket/paren group's top-level items — those lists are hash
    grouping-key sets, Expand row sets, and per-gid filtered partial
    aggregates, all order-insensitive by construction. Non-gid lines
    (ordered projections, sort specs) are untouched."""
    if "gid#" not in s:
        return s
    lines = []
    for ln in s.split("\n"):
        if "gid#" in ln:
            ln = re.sub(r"(gid#\s*=\s*)\d+", r"\1G", ln)
            if "Expand" in ln:
                # each projection row carries its gid literal last
                ln = re.sub(r", \d+\]", ", G]", ln)
            ln = _canon_groups(ln)
        lines.append(ln)
    return "\n".join(lines)


def _top_level_bracket_groups(s: str) -> "list[str]":
    groups, depth, start = [], 0, None
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(s[start + 1 : i])
    return groups


def unpartitioned_windows(plan: str) -> "list[str]":
    """Window nodes whose partition spec is empty AND that sort their
    input (the single-task global-sort cliff). Partition-only windows
    (no sort dirs) and the ids.py __pid offset cumsum (orders a
    one-row-per-partition count table) are allowed."""
    bad = []
    for blk in re.split(r"\n\n", plan):
        m = re.match(r"\(\d+\) (Window|WindowGroupLimit)\b", blk)
        if not m:
            continue
        arg = next((l for l in blk.splitlines() if l.startswith("Arguments:")), "")
        groups = _top_level_bracket_groups(arg)
        if m.group(1) == "WindowGroupLimit":
            if groups and groups[0].strip() == "":
                bad.append(arg[:120])
            continue
        if len(groups) <= 1:
            bad.append(arg[:120])  # agg OVER () — global, unordered
        elif len(groups) == 2 and re.search(r" (ASC|DESC)", groups[1]):
            if not groups[1].lstrip().startswith("__pid#"):
                bad.append(groups[1][:120])
    return bad


def _scan_blocks(plan: str) -> "list[str]":
    return [
        b
        for b in re.split(r"\n\n", plan)
        if "Scan parquet" in b and "ReadSchema" in b
    ]


def _read_schema_width(block: str) -> int:
    m = re.search(r"ReadSchema: struct<(.*)>", block)
    if not m:
        return 0
    body = m.group(1)
    depth, cols = 0, 1 if body else 0
    for ch in body:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            cols += 1
    return cols


@dataclass
class PlanReport:
    findings: "dict[str, list[str]]" = field(default_factory=dict)
    warnings: "dict[str, list[str]]" = field(default_factory=dict)
    exchanges: int = 0
    scans: int = 0

    @property
    def ok(self) -> bool:
        return not any(self.findings.values())


def plan_report(df: DataFrame, wide_scan_cols: int = 12) -> PlanReport:
    """Audit `df`'s physical plan for the known scale-killers. Returns
    a PlanReport; `report.ok` is False when any finding fired, and
    `report.findings` names each offender with a plan snippet. Purely
    driver-side: nothing executes."""
    plan = plan_of(df)
    findings: "dict[str, list[str]]" = {
        "cartesian": [],
        "python_row_udf": [],
        "unpartitioned_window": [],
        "wide_scan": [],
    }
    warnings: "dict[str, list[str]]" = {"nested_loop_join": []}
    for blk in re.split(r"\n\n", plan):
        if not blk.strip():
            continue
        head = blk.strip().splitlines()[0]
        if re.match(r"\(\d+\) CartesianProduct", head):
            findings["cartesian"].append(head[:120])
        if re.match(r"\(\d+\) BatchEvalPython", head):
            findings["python_row_udf"].append(head[:120])
        if re.match(r"\(\d+\) BroadcastNestedLoopJoin", head):
            warnings["nested_loop_join"].append(head[:120])
    findings["unpartitioned_window"] = unpartitioned_windows(plan)
    wide = [
        b.strip().splitlines()[0][:120]
        for b in _scan_blocks(plan)
        if _read_schema_width(b) >= wide_scan_cols
    ]
    findings["wide_scan"] = wide
    return PlanReport(
        findings=findings,
        warnings=warnings,
        exchanges=len(re.findall(r"\(\d+\) (?:Exchange|BroadcastExchange)", plan)),
        scans=len(re.findall(r"\(\d+\) Scan ", plan)),
    )


def join_cardinality_estimate(
    a, b, keys, exact: bool = True, sample: float = 0.01
):
    """Pre-flight EXACT (or sampled) equi-join output cardinality
    WITHOUT running the join: |A ⋈ B| = Σ_k cnt_A(k)·cnt_B(k). Two
    hash aggregates + one join on the (much smaller) distinct-key
    tables + one sum — the cost profile of a COUNT, never the join's
    own shuffle of data rows. The pre-flight companion to
    `plan_report`: run it before a 100 TB join to learn whether the
    output explodes (skewed hot keys multiply) while the change is
    still cheap.

    `exact=False` estimates from a Bernoulli sample of each side
    (unbiased for the product-sum up to 1/sample² scaling) — for when
    even the per-key count pass must be cheap.

    Returns a 1-row DataFrame: (join_rows, top_key_rows) where
    top_key_rows is the single hottest key's contribution — the skew
    headline."""
    from pyspark.sql import functions as F

    keys = list(keys)
    if not exact:
        a = a.sample(fraction=sample, seed=7)
        b = b.sample(fraction=sample, seed=11)
    ca = a.groupBy(*keys).agg(F.count(F.lit(1)).alias("__ca"))
    cb = b.groupBy(*keys).agg(F.count(F.lit(1)).alias("__cb"))
    prod = ca.join(cb, keys).select(
        (F.col("__ca").cast("decimal(28,0)") * F.col("__cb").cast("decimal(28,0)"))
        .alias("__p")
    )
    if exact:
        # straight DECIMAL -> long: a double detour would silently lose
        # exactness above 2^53, precisely at the scale this tool targets.
        # Past long range the cast would return NULL for exactly the
        # explosive joins this exists to flag — saturate instead.
        lmax = F.lit((1 << 63) - 1).cast("decimal(38,0)")

        def sat(c):
            return F.least(c, lmax).cast("long")

        return prod.agg(
            sat(F.coalesce(F.sum("__p"), F.lit(0).cast("decimal(38,0)")))
            .alias("join_rows"),
            sat(
                F.coalesce(F.max("__p"), F.lit(0).cast("decimal(28,0)"))
                .cast("decimal(38,0)")
            ).alias("top_key_rows"),
        )
    scale = 1.0 / (sample * sample)
    return prod.agg(
        (F.coalesce(F.sum("__p"), F.lit(0).cast("decimal(38,0)")).cast("double")
         * F.lit(scale)).cast("long").alias("join_rows"),
        (F.coalesce(F.max("__p"), F.lit(0).cast("decimal(28,0)")).cast("double")
         * F.lit(scale)).cast("long").alias("top_key_rows"),
    )
