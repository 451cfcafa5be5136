"""Model/retrieval evaluation operators — the readout side of the
training-data pipeline (classifier quality, ranking quality, summary
overlap). Complements classify.py (the models) and text.py (BM25/TF-IDF
retrieval) the way drift.py complements the ingest ops.

All engine-exact by the house discipline: exact integer counts from
hash aggregates, fixed-point nano/micro longs wherever a float SUM
would be order-dependent, one final double division, one round.

Reference parity note: the reference engine (alibaba/table-computing)
has no evaluation library — these are the pipeline-completing additions
the build brief asks for beyond `SURVEY.md §2`, in the same spirit as
dedup.py/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from table_computing_spark.operators._util import materialize


def roc_auc(
    df: DataFrame,
    label_col: Column,
    score_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Exact ROC AUC via the Mann–Whitney rank-sum identity (public,
    Hanley & McNeil 1982):

        AUC = (R⁺ − P(P+1)/2) / (P·N⁻)

    with R⁺ the sum of average ranks of the positives under ascending
    score (ties get the midrank). Everything stays in integers until
    one division: per distinct score s with n rows (n⁺ positive), the
    tied group's midrank is cum_before + (n+1)/2, so

        2·R⁺ = Σ_s n⁺ · (2·cum_before(s) + n + 1)

    — exact longs (DECIMAL past 2^63), then AUC = (2R⁺ − P(P+1)) /
    (2·P·N⁻) as a single double division.

    Scale shape: one hash aggregate onto DISTINCT scores, then the
    running count in score order via prefix.prefix_agg — the
    distributed two-pass prefix sum, never an unpartitioned window
    over data rows. Returns one row (auc, n_pos, n_neg)."""
    from table_computing_spark.operators.prefix import prefix_agg

    s = df.select(
        score_col.cast("double").alias("__s"),
        label_col.cast("int").alias("__y"),
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    per = s.groupBy("__s").agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__y").alias("__np")
    )
    pre = prefix_agg(
        per, order_by=["__s"], specs={"__cb": ("sum", "__n")}, exclusive=True
    )
    dec = "decimal(38,0)"
    cb = F.coalesce(F.col("__cb"), F.lit(0)).cast(dec)
    r2 = (F.col("__np").cast(dec) * (F.lit(2).cast(dec) * cb
          + F.col("__n").cast(dec) + F.lit(1).cast(dec)))
    out = pre.agg(
        F.sum(r2).alias("__r2"),
        F.sum("__np").cast("long").alias("n_pos"),
        (F.sum("__n") - F.sum("__np")).cast("long").alias("n_neg"),
    )
    p = F.col("n_pos").cast(dec)
    u2 = F.col("__r2") - p * (p + F.lit(1).cast(dec))
    den = F.lit(2).cast(dec) * p * F.col("n_neg").cast(dec)
    return out.select(
        F.round(u2.cast("double") / den.cast("double"), round_to).alias("auc"),
        "n_pos",
        "n_neg",
    )


def classification_report(
    df: DataFrame,
    label_col: Column,
    pred_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Per-class precision / recall / F1 + supports, plus one
    `__macro__` row with the unweighted class means — the standard
    classifier readout next to calibration_bins.

    Exact counts from ONE (label, pred) hash aggregate (classes =
    labels ∪ predictions, so a class never predicted and a hallucinated
    class both still get their row). Ratios are single double
    divisions; F1 is fixed-point micro (round(f1·1e6) as long) so the
    macro mean is an exact long sum with one final division —
    engine-portable where a float sum of per-class F1s would be
    order-dependent. Zero denominators (no predictions / no support /
    p+r = 0) yield 0.0, the scikit-learn zero_division=0 convention."""
    pairs = df.select(
        label_col.cast("string").alias("__l"), pred_col.cast("string").alias("__p")
    ).groupBy("__l", "__p").agg(F.count(F.lit(1)).alias("__n"))
    return classification_report_from_counts(
        pairs, F.col("__l"), F.col("__p"), F.col("__n"), round_to=round_to
    )


def classification_report_from_counts(
    df: DataFrame,
    label_col: Column,
    pred_col: Column,
    count_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """classification_report over a PRE-AGGREGATED (label, pred, count)
    confusion table instead of row-level data — the read-time half of
    a MAINTAINED streaming evaluation (streaming/matview keeps the
    per-(label, pred) counts, which are self-maintainable; the
    precision/recall/F1 arithmetic is rank-at-read, never maintained —
    the q_stream_topk decomposition applied to model monitoring).
    Identical output contract and fixed-point discipline as
    classification_report."""
    pairs = df.select(
        label_col.cast("string").alias("__l"),
        pred_col.cast("string").alias("__p"),
        count_col.cast("long").alias("__n"),
    ).groupBy("__l", "__p").agg(F.sum("__n").alias("__n"))
    classes = (
        pairs.select(F.col("__l").alias("clazz"))
        .union(pairs.select(F.col("__p").alias("clazz")))
        .distinct()
    )
    stats = classes.join(
        pairs.groupBy(F.col("__l").alias("clazz")).agg(
            F.sum("__n").alias("__support")
        ),
        "clazz", "left",
    ).join(
        pairs.groupBy(F.col("__p").alias("clazz")).agg(
            F.sum("__n").alias("__predicted")
        ),
        "clazz", "left",
    ).join(
        pairs.filter(F.col("__l") == F.col("__p"))
        .select(F.col("__l").alias("clazz"), F.col("__n").alias("__tp")),
        "clazz", "left",
    ).fillna(0, subset=["__support", "__predicted", "__tp"])
    tp = F.col("__tp").cast("double")
    prec = F.when(F.col("__predicted") > 0, tp / F.col("__predicted")).otherwise(0.0)
    rec = F.when(F.col("__support") > 0, tp / F.col("__support")).otherwise(0.0)
    f1 = F.when(prec + rec > 0, F.lit(2.0) * prec * rec / (prec + rec)).otherwise(0.0)
    per = stats.withColumn(
        "__f1u", F.round(f1 * 1e6).cast("long")
    ).select(
        "clazz",
        F.col("__support").alias("support"),
        F.round(prec, round_to).alias("precision"),
        F.round(rec, round_to).alias("recall"),
        F.round(F.col("__f1u").cast("double") / 1e6, round_to).alias("f1"),
        "__f1u",
        F.round(prec * 1e6).cast("long").alias("__pu"),
        F.round(rec * 1e6).cast("long").alias("__ru"),
    )
    macro = per.agg(
        F.lit("__macro__").alias("clazz"),
        F.sum("support").cast("long").alias("support"),
        F.round(F.sum("__pu").cast("double") / F.count(F.lit(1)) / 1e6,
                round_to).alias("precision"),
        F.round(F.sum("__ru").cast("double") / F.count(F.lit(1)) / 1e6,
                round_to).alias("recall"),
        F.round(F.sum("__f1u").cast("double") / F.count(F.lit(1)) / 1e6,
                round_to).alias("f1"),
    )
    return per.select("clazz", "support", "precision", "recall", "f1").unionByName(
        macro
    )


def ndcg_at_k(
    df: DataFrame,
    query_col: str,
    item_col: str,
    score_col: Column,
    rel_col: Column,
    k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """NDCG@k per query (Järvelin & Kekäläinen 2002, public) with the
    natural-log discount variant (ln(pos+1) instead of log2 — ln is the
    one transcendental measured bit-identical across engines here,
    BASELINE.md portability notes; the constant factor cancels in the
    DCG/IDCG ratio anyway):

        DCG@k  = Σ_{pos≤k} (2^rel − 1) / ln(pos + 1)
        IDCG@k = the same over the query's rel values sorted desc
        NDCG   = DCG / IDCG   (1.0 when IDCG is 0 — all-zero rel)

    Ranking order is (score desc, item asc) — the deterministic-tiebreak
    contract. Per-position terms go to nano longs before summing (float
    sums are order-dependent); one final division. All windows are
    PARTITIONED by query. Output: (query, ndcg, n_rated)."""
    from pyspark.sql.window import Window as W

    base = df.select(
        F.col(query_col).alias("query"),
        F.col(item_col).alias("__item"),
        score_col.cast("double").alias("__score"),
        rel_col.cast("int").alias("__rel"),
    )
    gain = F.pow(F.lit(2.0), F.col("__rel").cast("double")) - F.lit(1.0)
    run = W.partitionBy("query").orderBy(
        F.col("__score").desc(), F.col("__item").asc()
    )
    ideal = W.partitionBy("query").orderBy(
        F.col("__rel").desc(), F.col("__item").asc()
    )
    ranked = base.select(
        "query",
        F.row_number().over(run).alias("__pos"),
        F.row_number().over(ideal).alias("__ipos"),
        gain.alias("__g"),
    )
    dterm = F.when(
        F.col("__pos") <= k,
        F.round(F.col("__g") / F.log(F.col("__pos").cast("double") + 1.0) * 1e9)
        .cast("long"),
    ).otherwise(F.lit(0))
    iterm = F.when(
        F.col("__ipos") <= k,
        F.round(F.col("__g") / F.log(F.col("__ipos").cast("double") + 1.0) * 1e9)
        .cast("long"),
    ).otherwise(F.lit(0))
    agg = ranked.groupBy("query").agg(
        F.sum(dterm).alias("__dcg"),
        F.sum(iterm).alias("__idcg"),
        F.count(F.lit(1)).alias("n_rated"),
    )
    return agg.select(
        "query",
        F.round(
            F.when(F.col("__idcg") > 0,
                   F.col("__dcg").cast("double") / F.col("__idcg").cast("double"))
            .otherwise(F.lit(1.0)),
            round_to,
        ).alias("ndcg"),
        "n_rated",
    )


def rouge_n(
    pairs: DataFrame,
    cand_col: str,
    ref_col: str,
    pair_col: str,
    n: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """ROUGE-N recall and precision per (candidate, reference) pair
    (Lin 2004, public): clipped n-gram overlap

        recall    = Σ_g min(cnt_cand(g), cnt_ref(g)) / Σ_g cnt_ref(g)
        precision = the same over Σ_g cnt_cand(g)

    — the summarization / dedup-quality readout. Tokenization is the
    repo-standard lowercase non-alphanumeric split; n-grams assemble
    from a posexplode + partitioned lead window (per-document — never
    global). Counts are exact; two divisions; pairs whose reference (or
    candidate) has < n tokens get NULL recall (resp. precision) —
    explicit, not silent 0. Output: (pair, n_overlap, n_ref, n_cand,
    rouge_recall, rouge_precision)."""
    from pyspark.sql.window import Window as W

    # the pair table feeds three branches (candidate grams, reference
    # grams, the all-pairs keep join) — materialize the projected input
    # once so an expensive upstream (a corpus self-join at the q_rouge2
    # call site) doesn't execute per branch (the bleu_n fix)
    pairs = materialize(pairs.select(pair_col, cand_col, ref_col), eager=False)

    def grams(col: str, side: str) -> DataFrame:
        toks = pairs.select(
            F.col(pair_col).alias("pair"),
            F.posexplode(
                F.split(F.lower(F.col(col)), r"[^a-z0-9]+")
            ).alias("__pos", "__tok"),
        ).filter(F.col("__tok") != "")
        w = W.partitionBy("pair").orderBy("__pos")
        parts = [F.col("__tok")] + [
            F.lead("__tok", i).over(w) for i in range(1, n)
        ]
        g = toks.select(
            "pair", F.concat_ws(" ", *parts).alias("__g"),
            parts[-1].isNotNull().alias("__full"),
        ).filter(F.col("__full"))
        return g.groupBy("pair", "__g").agg(F.count(F.lit(1)).alias(f"__c_{side}"))

    c = grams(cand_col, "cand")
    r = grams(ref_col, "ref")
    joined = c.join(r, ["pair", "__g"], "full")
    agg = joined.groupBy("pair").agg(
        F.sum(
            F.least(F.coalesce(F.col("__c_cand"), F.lit(0)),
                    F.coalesce(F.col("__c_ref"), F.lit(0)))
        ).alias("n_overlap"),
        F.sum(F.coalesce(F.col("__c_ref"), F.lit(0))).alias("n_ref"),
        F.sum(F.coalesce(F.col("__c_cand"), F.lit(0))).alias("n_cand"),
    )
    # pairs can drop out entirely when BOTH sides have < n tokens; keep
    # them with NULL metrics via a left join from the pair list
    all_pairs = pairs.select(F.col(pair_col).alias("pair")).distinct()
    agg = all_pairs.join(agg, "pair", "left").fillna(
        0, subset=["n_overlap", "n_ref", "n_cand"]
    )
    rec = F.when(
        F.col("n_ref") > 0,
        F.col("n_overlap").cast("double") / F.col("n_ref").cast("double"),
    )
    prec = F.when(
        F.col("n_cand") > 0,
        F.col("n_overlap").cast("double") / F.col("n_cand").cast("double"),
    )
    return agg.select(
        "pair", "n_overlap", "n_ref", "n_cand",
        F.round(rec, round_to).alias("rouge_recall"),
        F.round(prec, round_to).alias("rouge_precision"),
    )


def rrf_fuse(
    rankings: "list[DataFrame]",
    id_col: str = "id",
    rank_col: str = "rank",
    k: int = 60,
    top: int = 20,
    round_to: int = 9,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009, public)
    of bounded ranked lists:  rrf(d) = Σ_lists 1/(k + rank_list(d)),
    items absent from a list contribute 0. THE standard way to merge a
    lexical (BM25) and a dense (cosine) retrieval run without score
    calibration.

    Inputs are already-bounded top-X lists (the TakeOrderedAndProject
    contract — each list is orderBy().limit() output, so every join
    here is broadcast-sized regardless of corpus size). Per-list ranks
    are 1/(k+r) doubles; the cross-list sum goes through nano longs so
    list order never flips a near-tie. Output: the global top-`top` by
    (rrf desc, id asc) with a dense final rank."""
    from functools import reduce

    from pyspark.sql.window import Window as W

    contribs = [
        r.select(
            F.col(id_col).alias("id"),
            F.round(F.lit(1e9) / (F.lit(k) + F.col(rank_col)).cast("double"))
            .cast("long")
            .alias("__nano"),
        )
        for r in rankings
    ]
    allc = reduce(lambda a, b: a.unionByName(b), contribs)
    fused = allc.groupBy("id").agg(F.sum("__nano").alias("__s"))
    topd = fused.orderBy(F.col("__s").desc(), F.col("id").asc()).limit(top)
    w = W.orderBy(F.col("__s").desc(), F.col("id").asc())  # top rows only
    return topd.select(
        "id",
        F.round(F.col("__s").cast("double") / 1e9, round_to).alias("rrf"),
        F.row_number().over(w).alias("fused_rank"),
    )


def average_precision(
    df: DataFrame,
    label_col: Column,
    score_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Exact average precision (area under the precision-recall curve,
    the step-wise estimator scikit-learn uses — Zhu 2004, public):

        AP = Σ_t (R_t − R_{t−1}) · P_t
           = (1/P) Σ_groups p_g · cumP_g / cumN_g

    over DISTINCT scores in descending order, where p_g is the number
    of positives at score group g and cumP/cumN are the inclusive
    prefix sums (rows at or above the threshold). Ties are handled as
    one threshold group — the unambiguous convention (a per-row order
    would make AP depend on the tiebreak).

    Exactness: integer group counts from one hash aggregate; the
    descending prefix sums come from prefix.prefix_agg (distributed
    two-pass — never an unpartitioned window over data rows); each
    group term is one double division rounded to a nano long and the
    term sum accumulates in DECIMAL(38,0), so engines agree bit-for-bit
    at any scale. Two final divisions (1e9 and P).

    Returns one row (average_precision, n_pos, n)."""
    from table_computing_spark.operators.prefix import prefix_agg

    s = df.select(
        score_col.cast("double").alias("__s"),
        label_col.cast("int").alias("__y"),
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    per = s.groupBy("__s").agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__y").alias("__np")
    )
    pre = prefix_agg(
        per,
        order_by=[F.col("__s").desc()],
        specs={"__cn": ("sum", "__n"), "__cp": ("sum", "__np")},
        exclusive=False,
    )
    term = F.round(
        F.col("__np").cast("double")
        * F.col("__cp").cast("double")
        / F.col("__cn").cast("double")
        * 1e9
    ).cast("decimal(38,0)")
    out = pre.agg(
        F.sum(term).alias("__t"),
        F.sum("__np").cast("long").alias("n_pos"),
        F.sum("__n").cast("long").alias("n"),
    )
    return out.select(
        F.round(
            F.col("__t").cast("double") / 1e9 / F.col("n_pos").cast("double"),
            round_to,
        ).alias("average_precision"),
        "n_pos",
        "n",
    )


def cohens_kappa(
    df: DataFrame,
    rater_a: Column,
    rater_b: Column,
    round_to: int = 6,
) -> DataFrame:
    """Cohen's kappa inter-annotator agreement (Cohen 1960, public) —
    THE labeling-pipeline QA readout (two human raters, or a model
    judge against a gold rater):

        kappa = (p_o − p_e) / (1 − p_e)
              = (n·Σdiag − Σ_k row_k·col_k) / (n² − Σ_k row_k·col_k)

    Everything is exact integers from ONE (a, b) hash aggregate plus
    two marginal re-aggregations of that tiny table (≤ classes² rows):
    no float enters until the single final division (DECIMAL(38,0)
    numerator/denominator). Perfect-chance degenerate input (both
    raters constant, p_e = 1) yields NULL kappa — undefined, reported
    explicitly rather than as 0. Returns one row
    (kappa, po, pe, n_items)."""
    pairs = df.select(
        rater_a.cast("string").alias("__a"), rater_b.cast("string").alias("__b")
    ).groupBy("__a", "__b").agg(F.count(F.lit(1)).alias("__n"))
    dec = "decimal(38,0)"
    marg = (
        pairs.groupBy("__a").agg(F.sum("__n").alias("__ra"))
        .join(
            pairs.groupBy("__b").agg(F.sum("__n").alias("__rb")),
            F.col("__a") == F.col("__b"),
            "inner",
        )
        .agg(F.sum(F.col("__ra").cast(dec) * F.col("__rb").cast(dec)).alias("__pe_num"))
    )
    tot = pairs.agg(
        F.sum("__n").cast(dec).alias("__nn"),
        F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__n")).otherwise(0))
        .cast(dec)
        .alias("__po_num"),
    )
    j = tot.crossJoin(F.broadcast(marg))  # 1-row x 1-row scalar join
    pe_num = F.coalesce(F.col("__pe_num"), F.lit(0).cast(dec))
    num = F.col("__nn") * F.col("__po_num") - pe_num
    den = F.col("__nn") * F.col("__nn") - pe_num
    return j.select(
        F.round(
            F.when(den != 0, num.cast("double") / den.cast("double")),
            round_to,
        ).alias("kappa"),
        F.round(
            F.col("__po_num").cast("double") / F.col("__nn").cast("double"), round_to
        ).alias("po"),
        F.round(
            pe_num.cast("double")
            / (F.col("__nn") * F.col("__nn")).cast("double"),
            round_to,
        ).alias("pe"),
        F.col("__nn").cast("long").alias("n_items"),
    )


def bleu_n(
    pairs: DataFrame,
    cand_col: str,
    ref_col: str,
    pair_col: str,
    max_n: int = 4,
    round_to: int = 6,
) -> DataFrame:
    """Sentence BLEU (Papineni 2002, public; no smoothing) per
    (candidate, reference) pair — the generation-eval complement of
    rouge_n:

        BLEU = BP · (Π_{i=1..N} p_i)^(1/N)
        p_i  = clipped i-gram overlap / candidate i-gram count
        BP   = min(1, exp(1 − ref_len/cand_len))

    Tokenization and n-gram assembly are the rouge_n machinery
    (lowercase non-alphanumeric split, posexplode + per-document lead
    windows — one pass per order i, unioned with an `n` tag, so counts
    for all orders flow through ONE clipped full join + hash
    aggregate). Counts are exact integers; the per-pair combination is
    a single scalar expression (≤ max_n divisions, one pow, one exp —
    both libm-portable per the repo transcendental rule), so no
    float-sum order exists to diverge.

    Conventions (explicit, not silent): candidate shorter than max_n
    tokens → NULL bleu (undefined p_N); any p_i = 0 → bleu = 0.0 (the
    unsmoothed definition); missing/empty reference with non-empty
    candidate → bleu 0.0 via zero overlap.

    ONE-ROW-PER-PAIR CONTRACT (the seq_pairs/rouge_n bounded-group
    class of documented contract): `pair_col` must uniquely identify
    an input row. With duplicate pair ids the posexplode token
    positions of the duplicated texts interleave inside one window
    partition and the assembled n-grams are garbage — silently, since
    nothing downstream can tell a crossed n-gram from a real one.
    Dedupe (or disambiguate the id) upstream; the operator will not
    pay a per-call duplicate scan for well-formed inputs.

    Output: (pair, cand_len, ref_len, bleu)."""
    from functools import reduce

    from pyspark.sql.window import Window as W

    # the pair table feeds three branches (candidate tokens, reference
    # tokens, the all-pairs keep join) — materialize the projected
    # input once so an expensive upstream (a self-join of the corpus)
    # doesn't execute per branch
    pairs = materialize(pairs.select(pair_col, cand_col, ref_col), eager=False)

    def toks(col: str) -> DataFrame:
        return pairs.select(
            F.col(pair_col).alias("pair"),
            F.posexplode(
                F.split(F.lower(F.col(col)), r"[^a-z0-9]+")
            ).alias("__pos", "__tok"),
        ).filter(F.col("__tok") != "")

    def grams(t: DataFrame, side: str) -> DataFrame:
        w = W.partitionBy("pair").orderBy("__pos")
        per_n = []
        for i in range(1, max_n + 1):
            parts = [F.col("__tok")] + [F.lead("__tok", j).over(w) for j in range(1, i)]
            per_n.append(
                t.select(
                    "pair",
                    F.lit(i).alias("__i"),
                    F.concat_ws(" ", *parts).alias("__g"),
                    parts[-1].isNotNull().alias("__full"),
                ).filter(F.col("__full"))
            )
        allg = reduce(lambda a, b: a.unionByName(b), per_n)
        return allg.groupBy("pair", "__i", "__g").agg(
            F.count(F.lit(1)).alias(f"__c_{side}")
        )

    c = grams(toks(cand_col), "cand")
    r = grams(toks(ref_col), "ref")
    j = c.join(r, ["pair", "__i", "__g"], "full")
    per_i = j.groupBy("pair", "__i").agg(
        F.sum(
            F.least(
                F.coalesce(F.col("__c_cand"), F.lit(0)),
                F.coalesce(F.col("__c_ref"), F.lit(0)),
            )
        ).alias("__o"),
        F.sum(F.coalesce(F.col("__c_cand"), F.lit(0))).alias("__c"),
        F.sum(F.coalesce(F.col("__c_ref"), F.lit(0))).alias("__r"),
    )
    agg = per_i.groupBy("pair").agg(
        *[
            F.sum(F.when(F.col("__i") == i, F.col("__o")).otherwise(0)).alias(f"__o{i}")
            for i in range(1, max_n + 1)
        ],
        *[
            F.sum(F.when(F.col("__i") == i, F.col("__c")).otherwise(0)).alias(f"__c{i}")
            for i in range(1, max_n + 1)
        ],
        F.sum(F.when(F.col("__i") == 1, F.col("__r")).otherwise(0)).alias("__rl"),
    )
    # keep pairs whose sides produced no grams at all (empty texts)
    all_pairs = pairs.select(F.col(pair_col).alias("pair")).distinct()
    agg = all_pairs.join(agg, "pair", "left").fillna(
        0,
        subset=[f"__o{i}" for i in range(1, max_n + 1)]
        + [f"__c{i}" for i in range(1, max_n + 1)]
        + ["__rl"],
    )
    cl = F.col("__c1").cast("double")
    rl = F.col("__rl").cast("double")
    prod = reduce(
        lambda a, i: a
        * (F.col(f"__o{i}").cast("double") / F.col(f"__c{i}").cast("double")),
        range(1, max_n + 1),
        F.lit(1.0),
    )
    bp = F.when(F.col("__c1") >= F.col("__rl"), F.lit(1.0)).otherwise(
        F.exp(F.lit(1.0) - rl / cl)
    )
    any_zero = reduce(
        lambda a, i: a | (F.col(f"__o{i}") == 0), range(1, max_n + 1), F.lit(False)
    )
    bleu = (
        F.when(F.col(f"__c{max_n}") == 0, F.lit(None).cast("double"))
        .when(any_zero, F.lit(0.0))
        .otherwise(bp * F.pow(prod, F.lit(1.0 / max_n)))
    )
    return agg.select(
        "pair",
        F.col("__c1").cast("long").alias("cand_len"),
        F.col("__rl").cast("long").alias("ref_len"),
        F.round(bleu, round_to).alias("bleu"),
    )


def pass_at_k(
    df: DataFrame,
    problem_col: str,
    correct_col: Column,
    k: int,
    round_to: int = 6,
) -> DataFrame:
    """The unbiased pass@k estimator for code/program-synthesis evals
    (Chen et al. 2021, the Codex paper — public):

        pass@k = 1 − C(n−c, k) / C(n, k)
               = 1 − Π_{j=0..k−1} (n−c−j) / (n−j)

    per problem with n sampled attempts of which c are correct. The
    product form avoids factorial overflow; each factor is one double
    division and the fold order is the fixed j sequence, so the value
    is bit-identical across engines (plain IEEE arithmetic, no libm).

    Conventions: n < k → NULL (k draws are impossible — reported, not
    silently clamped); n − c < k → exactly 1.0 (every size-k draw
    contains a pass). One hash aggregate per problem; the scalar fold
    is F.aggregate over the literal 0..k−1 sequence. Output:
    (problem, n_samples, n_correct, pass_at_k)."""
    if k < 1:
        raise ValueError(f"pass_at_k: k must be >= 1, got {k}")
    g = df.groupBy(F.col(problem_col).alias("problem")).agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum(correct_col.cast("long")).alias("n_correct"),
    )
    n = F.col("n_samples").cast("double")
    c = F.col("n_correct").cast("double")
    prod = F.aggregate(
        F.sequence(F.lit(0), F.lit(k - 1)),
        F.lit(1.0),
        lambda acc, j: acc * (n - c - j.cast("double")) / (n - j.cast("double")),
    )
    val = (
        F.when(F.col("n_samples") < k, F.lit(None).cast("double"))
        .when(F.col("n_samples") - F.col("n_correct") < k, F.lit(1.0))
        .otherwise(F.lit(1.0) - prod)
    )
    return g.select(
        "problem",
        "n_samples",
        "n_correct",
        F.round(val, round_to).alias("pass_at_k"),
    )


def bradley_terry(
    df: DataFrame,
    winner_col: str,
    loser_col: str,
    iters: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Bradley–Terry preference-strength fitting (Bradley & Terry
    1952; the minorization–maximization update of Hunter 2004 —
    public). THE model behind pairwise human/LLM preference data
    (RLHF reward baselines, chat-arena leaderboards): from (winner,
    loser) outcome rows, fit strengths p_i with

        p_i ← W_i / Σ_{j≠i} n_ij / (p_i + p_j)

    (W_i = wins of i, n_ij = games between i and j), renormalized to
    mean 1 each sweep, for a FIXED `iters` sweeps (bounded lineage,
    like pagerank_nano / als_rank1 — no data-dependent convergence
    loop).

    Engine-exactness: strengths live as nano longs between sweeps; the
    per-opponent terms n_ij/(p_i+p_j) round to nano longs before the
    per-item sum (reduce-order-free); the mean normalizer is a long
    nano sum over items via a 1-row broadcast scalar join. Items that
    never win converge to strength 0; an item whose denominator
    rounds to zero nanos (astronomically mismatched opponents) keeps
    its previous strength rather than dividing by zero — both
    conventions explicit below.

    Scale shape per sweep: games ⋈ strengths (on i) ⋈ strengths (on j)
    — two shuffles on item keys — then one hash aggregate. Games and
    strengths are |items|/|pairs|-sized, never outcome-row-sized. The
    games/wins inputs and each sweep's strengths are materialize()d
    (the pagerank_nano lineage rule — the twice-joined iterate
    otherwise doubles the analyzed plan per sweep).
    Output: (item, strength, wins, n_games)."""
    # the ONE data-sized reduce: outcome rows -> per-pair win counts.
    # Checkpointed so games/wins/sweeps all derive from it without
    # re-running the (possibly expensive) upstream pair build.
    w = (
        df.select(
            F.col(winner_col).alias("__i"), F.col(loser_col).alias("__j")
        )
        .groupBy("__i", "__j")
        .agg(F.count(F.lit(1)).alias("__w"))
        .transform(materialize, eager=False)
    )
    games = (
        w.select("__i", "__j", "__w")
        .unionByName(
            w.select(
                F.col("__j").alias("__i"), F.col("__i").alias("__j"),
                F.col("__w"),
            )
        )
        .groupBy("__i", "__j")
        .agg(F.sum("__w").alias("__n"))
        .transform(materialize, eager=False)  # joined twice per sweep
    )
    wins = games.join(
        w.groupBy("__i").agg(F.sum("__w").alias("__wins")), "__i", "left"
    ).groupBy("__i").agg(
        F.coalesce(F.first("__wins"), F.lit(0)).alias("wins"),
        F.sum("__n").alias("n_games"),
    ).transform(materialize, eager=False)
    p = wins.select("__i", F.lit(10**9).cast("long").alias("__pn"))
    for _ in range(iters):
        joined = (
            games.join(F.broadcast(p.withColumnRenamed("__i", "__j").withColumnRenamed("__pn", "__pj")), "__j")
            .join(F.broadcast(p), "__i")
        )
        term = F.round(
            F.col("__n").cast("double")
            * 1e9
            / ((F.col("__pn") + F.col("__pj")).cast("double") / 1e9)
        ).cast("long")
        den = joined.groupBy("__i").agg(F.sum(term).alias("__dn"))
        # raw feeds BOTH the mean normalizer and the update — without a
        # materialize-once cut the games⋈p⋈p join + aggregate chain
        # executes twice per sweep (the hits_nano normalize shape)
        raw = wins.join(den, "__i").join(p, "__i").select(
            "__i",
            "__pn",
            F.when(
                F.col("__dn") > 0,
                F.col("wins").cast("double") * 1e9 * 1e9 / F.col("__dn").cast("double"),
            ).alias("__praw"),
        ).transform(materialize, eager=False)
        norm = raw.agg(
            F.sum(F.round(F.coalesce(F.col("__praw"), F.col("__pn").cast("double"))).cast("long")).alias("__sn"),
            F.count(F.lit(1)).alias("__cnt"),
        )
        p = raw.crossJoin(F.broadcast(norm)).select(
            "__i",
            F.round(
                F.coalesce(F.col("__praw"), F.col("__pn").cast("double"))
                * 1e9
                / (F.col("__sn").cast("double") / F.col("__cnt").cast("double"))
            ).cast("long").alias("__pn"),
        ).transform(materialize, eager=False)  # cut lineage (pagerank rule);
        # lazy: the whole sweep chain materializes in the final action
        # instead of paying one scheduled job per sweep
    return wins.join(p, "__i").select(
        F.col("__i").alias("item"),
        F.round(F.col("__pn").cast("double") / 1e9, round_to).alias("strength"),
        F.col("wins").cast("long").alias("wins"),
        F.col("n_games").cast("long").alias("n_games"),
    )


def _count_strict_inversions(ranks, u: int) -> int:
    """Count pairs i<j with ranks[i] > ranks[j] — the Knight (1966)
    merge-counting inversion number — in O(n log² n) FULLY VECTORIZED
    numpy (bottom-up merge rounds; no per-element Python).

    `ranks` is an int64 dense-rank array with values in [0, u). The
    trick that keeps each round one numpy call: offset every block
    into a disjoint value range (block b shifted by b·(u+1)), so one
    GLOBAL np.searchsorted answers every per-block "how many left-half
    elements strictly exceed this right-half element" query at once.
    Tail padding uses the sentinel u (greater than every real rank):
    pads start as a contiguous suffix and per-block sorts keep them
    suffix-heavy, so a left half containing pads implies an all-pad
    right half — pads never contribute a strict inversion."""
    import numpy as np

    n = int(ranks.shape[0])
    if n < 2:
        return 0
    size = 1
    while size < n:
        size *= 2
    a = np.full(size, u, dtype=np.int64)
    a[:n] = ranks
    inv = 0
    width = 1
    while width < size:
        nblk = size // (2 * width)
        blocks = a.reshape(nblk, 2 * width)
        off = np.arange(nblk, dtype=np.int64) * np.int64(u + 1)
        flat_left = (blocks[:, :width] + off[:, None]).ravel()
        queries = (blocks[:, width:] + off[:, None]).ravel()
        pos = np.searchsorted(flat_left, queries, side="right")
        block_end = np.repeat(
            (np.arange(nblk, dtype=np.int64) + 1) * width, width
        )
        inv += int((block_end - pos).sum())
        a = np.sort(blocks, axis=1).ravel()
        width *= 2
    return inv


def kendall_tau_grouped(
    df: DataFrame,
    group_col: str,
    item_col: str,
    x_col: Column,
    y_col: Column,
    round_to: int = 6,
    method: str = "sort",
) -> DataFrame:
    """Kendall tau-b rank agreement per group (Kendall 1945 tie
    variant — public): classify every unordered item pair within a
    group as concordant / discordant / tied-on-x-only / tied-on-y-only
    (pairs tied on both count in neither tie term), then

        tau_b = (C − D) / sqrt((C + D + Tx)(C + D + Ty))

    The judge-agreement readout for per-prompt candidate rankings
    (two LLM judges, or judge vs human) — the grouped complement of
    the global spearman_corr. Rows with NULL x or y are dropped first
    (the spearman_corr/mann_whitney convention).

    method="sort" (default): the Knight (1966) O(g log g)-class path —
    one Arrow applyInPandas per group sorts by (x asc, y asc) and
    counts strict y-inversions with vectorized merge rounds (x-tied
    pairs sort y-ascending, so inversions are EXACTLY the discordant
    pairs); tie terms come from run-length counts, and
    C = n(n−1)/2 − D − Tx' − Ty' + Txy. A million-row group costs
    ~g log² g vectorized ops instead of the pair join's 10¹² pairs —
    the contract is only that one group's rows fit one task (the
    over_apply/UDAF bounded-group shape).

    method="pairs": the exact all-pairs classification via an
    item<item self-equi-join — O(Σ g²) over group sizes, the fast path
    for per-prompt candidate lists (k ≤ a few dozen) and the oracle-
    mirrored reference semantics. Both methods produce bit-identical
    counts (pytest-pinned), so tau is identical too.

    Counts are exact longs; one sqrt + one division per group row.
    Groups with no untied pair (denominator 0, e.g. a single item)
    report NULL tau. Output: (group, n_items, concordant, discordant,
    tau_b)."""
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(item_col).alias("__it"),
        x_col.cast("double").alias("__x"),
        y_col.cast("double").alias("__y"),
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    if method == "sort":
        j = _kendall_counts_sorted(base)
    elif method == "pairs":
        j = _kendall_counts_pairs(base)
    else:
        raise ValueError(f"kendall_tau_grouped: unknown method {method!r}")
    cd = (F.col("concordant") + F.col("discordant")).cast("double")
    den = F.sqrt(cd + F.col("__tx").cast("double")) * F.sqrt(
        cd + F.col("__ty").cast("double")
    )
    tau = F.when(
        den > 0,
        (F.col("concordant") - F.col("discordant")).cast("double") / den,
    )
    return j.select(
        F.col("__g").alias("group"),
        "n_items",
        "concordant",
        "discordant",
        F.round(tau, round_to).alias("tau_b"),
    )


def _kendall_counts_pairs(base: DataFrame) -> DataFrame:
    """Pair-join path: classify each unordered within-group pair."""
    a = base.select("__g", F.col("__it").alias("__ia"), F.col("__x").alias("__xa"), F.col("__y").alias("__ya"))
    b = base.select("__g", F.col("__it").alias("__ib"), F.col("__x").alias("__xb"), F.col("__y").alias("__yb"))
    pairs = a.join(b, "__g").filter(F.col("__ia") < F.col("__ib"))
    sx = F.signum(F.col("__xa") - F.col("__xb"))
    sy = F.signum(F.col("__ya") - F.col("__yb"))
    cls = (
        F.when((sx != 0) & (sy != 0) & (sx == sy), F.lit("c"))
        .when((sx != 0) & (sy != 0), F.lit("d"))
        .when((sx == 0) & (sy != 0), F.lit("tx"))
        .when((sx != 0) & (sy == 0), F.lit("ty"))
        .otherwise(F.lit("txy"))
    )
    counted = pairs.groupBy("__g").agg(
        F.sum((cls == "c").cast("long")).alias("concordant"),
        F.sum((cls == "d").cast("long")).alias("discordant"),
        F.sum((cls == "tx").cast("long")).alias("__tx"),
        F.sum((cls == "ty").cast("long")).alias("__ty"),
    )
    n_items = base.groupBy("__g").agg(F.count(F.lit(1)).alias("n_items"))
    return n_items.join(counted, "__g", "left").fillna(
        0, subset=["concordant", "discordant", "__tx", "__ty"]
    )


def _kendall_counts_sorted(base: DataFrame, n_buckets: int = 256) -> DataFrame:
    """Inversion-count path: Arrow group passes, numpy merge rounds.

    Per group: sort by (x asc, y asc); strict y-inversions = D exactly
    (x-tied pairs are y-ascending so they never invert); tie-pair
    counts Tx' / Ty' / Txy from run lengths; the rest by complement:
    C = n(n−1)/2 − D − Tx' − Ty' + Txy. All counts exact int64 — the
    downstream tau expression is shared with the pairs path, so the
    two methods are bit-identical.

    Batching: a plain groupBy(group).applyInPandas pays one Arrow
    round-trip PER GROUP — measured 19× the pair join on 15k ten-row
    groups (.scale/audit_r12.json first cut). The shuffle therefore
    keys on a 256-bucket hash of the group (every group still lands
    whole in one bucket) and the function loops the bucket's groups
    in numpy — thousands of tiny groups per Arrow call, while a huge
    group still gets its O(g log² g) merge count. The hash is internal
    partitioning only (never in the output), so engine portability is
    unaffected."""
    import pandas as pd  # noqa: F401 — applyInPandas contract

    gtype = base.schema["__g"].dataType.simpleString()
    out_schema = (
        f"__g {gtype}, n_items long, concordant long, discordant long, "
        "__tx long, __ty long"
    )

    def counts(pdf):
        import numpy as np
        import pandas as pd

        out = {
            "__g": [], "n_items": [], "concordant": [], "discordant": [],
            "__tx": [], "__ty": [],
        }
        for g, sub in pdf.groupby("__g", sort=False):
            x = sub["__x"].to_numpy(dtype="float64")
            y = sub["__y"].to_numpy(dtype="float64")
            n = len(x)
            n0 = n * (n - 1) // 2
            order = np.lexsort((y, x))
            ys = y[order]
            xs = x[order]
            uniq, ranks = np.unique(ys, return_inverse=True)
            d = _count_strict_inversions(ranks.astype(np.int64), len(uniq))

            def tie_pairs(counts_arr):
                c = counts_arr.astype(np.int64)
                return int((c * (c - 1) // 2).sum())

            _, cx = np.unique(x, return_counts=True)
            _, cy = np.unique(y, return_counts=True)
            tx_prime = tie_pairs(cx)
            ty_prime = tie_pairs(cy)
            # both-tied pairs from run lengths of the (x, y)-sorted stream
            if n:
                brk = np.flatnonzero((xs[1:] != xs[:-1]) | (ys[1:] != ys[:-1]))
                runs = np.diff(np.concatenate(([0], brk + 1, [n])))
                txy = tie_pairs(runs)
            else:
                txy = 0
            out["__g"].append(g)
            out["n_items"].append(n)
            out["concordant"].append(n0 - d - tx_prime - ty_prime + txy)
            out["discordant"].append(d)
            out["__tx"].append(tx_prime - txy)
            out["__ty"].append(ty_prime - txy)
        return pd.DataFrame(out)

    bucketed = base.withColumn(
        "__gb", F.pmod(F.xxhash64("__g"), F.lit(int(n_buckets)))
    )
    return (
        bucketed.groupBy("__gb")
        .applyInPandas(
            lambda pdf: counts(pdf.drop(columns=["__gb"])), schema=out_schema
        )
    )


def cumulative_gains(
    df: DataFrame,
    id_col: str,
    label_col: Column,
    score_col: Column,
    n_buckets: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Cumulative-gains / lift table (the decile readout under every
    'top-k% capture' targeting decision — standard scoring-model
    diagnostics, public): rank rows by score descending, cut into
    `n_buckets` exact ntiles, and per bucket report how much of the
    total positive mass the cumulative head has captured and its lift
    over the base rate:

        capture(b) = cum_pos(1..b) / total_pos
        lift(b)    = (pos_b / n_b) / (total_pos / N)

    Scale shape: the global ranking is ids.ntile_distributed (range
    shuffle + closed form — never a global window over data rows);
    bucket statistics are ONE hash aggregate; the cumulative pass and
    the totals run on the ≤ n_buckets-row bucket table (bounded window
    — the plan-gate whitelist class). Order is (score desc, id asc) —
    the deterministic-tiebreak contract, bit-identical to SQL
    ntile(n) OVER (ORDER BY score DESC, id). Exact integer counts;
    single divisions; one round. Output: (bucket, n, n_pos, cum_pos,
    capture_rate, lift)."""
    from pyspark.sql.window import Window as W

    from table_computing_spark.operators.ids import ntile_distributed

    base = df.select(
        F.col(id_col).alias("__id"),
        label_col.cast("long").alias("__y"),
        score_col.cast("double").alias("__s"),
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    tiled = ntile_distributed(
        base,
        order_by=[F.col("__s").desc(), F.col("__id").asc()],
        n=n_buckets,
        out_col="bucket",
    )
    per = tiled.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"), F.sum("__y").alias("n_pos")
    )
    # global windows over the <= n_buckets-row bucket table — bounded
    # input by construction (whitelisted with a measured bound in the
    # plan gate, the q_psi_drift fixed-bin-table class)
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.partitionBy(F.lit(1))
    staged = per.select(
        "bucket",
        "n",
        "n_pos",
        F.sum("n_pos").over(w).alias("cum_pos"),
        F.sum("n_pos").over(wall).alias("__tp"),
        F.sum("n").over(wall).alias("__tn"),
    )
    rate_all = F.col("__tp").cast("double") / F.col("__tn").cast("double")
    rate_b = F.col("n_pos").cast("double") / F.col("n").cast("double")
    return staged.select(
        "bucket",
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("cum_pos").cast("long").alias("cum_pos"),
        F.round(
            F.when(
                F.col("__tp") > 0,
                F.col("cum_pos").cast("double") / F.col("__tp").cast("double"),
            ),
            round_to,
        ).alias("capture_rate"),
        F.round(F.when(F.col("__tp") > 0, rate_b / rate_all), round_to).alias("lift"),
    )


def matthews_corr(
    df: DataFrame,
    label_col: Column,
    pred_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Matthews correlation coefficient (Matthews 1975, public) — the
    single-number binary-classifier score that stays honest under
    class imbalance (accuracy and F1 both inflate on skewed labels;
    MCC is the φ coefficient of the confusion matrix):

        MCC = (TP·TN − FP·FN) / sqrt((TP+FP)(TP+FN)(TN+FP)(TN+FN))

    One (label, pred) hash aggregate; the four products stay in
    DECIMAL(38,0) (n⁴ magnitude — a long wraps past n ≈ 55k), one
    sqrt + one division. NULL when any marginal is 0 (a degenerate
    classifier or degenerate labels — the undefined-by-convention
    case, reported as NULL rather than the sometimes-seen 0). Rows
    with NULL label or pred drop. Output one row:
    (n, tp, tn, fp, fn, mcc)."""
    dec = "decimal(38,0)"
    s = df.select(
        label_col.cast("boolean").alias("__y"),
        pred_col.cast("boolean").alias("__p"),
    ).filter(F.col("__y").isNotNull() & F.col("__p").isNotNull())
    agg = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("__y") & F.col("__p")).cast("long")).alias("tp"),
        F.sum((~F.col("__y") & ~F.col("__p")).cast("long")).alias("tn"),
        F.sum((~F.col("__y") & F.col("__p")).cast("long")).alias("fp"),
        F.sum((F.col("__y") & ~F.col("__p")).cast("long")).alias("fn"),
    )
    tp, tn = F.col("tp").cast(dec), F.col("tn").cast(dec)
    fp, fn = F.col("fp").cast(dec), F.col("fn").cast(dec)
    num = tp * tn - fp * fn
    d1, d2, d3, d4 = tp + fp, tp + fn, tn + fp, tn + fn
    den2 = d1 * d2 * d3 * d4
    mcc = F.when(
        den2 > 0, num.cast("double") / F.sqrt(den2.cast("double"))
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        "tp", "tn", "fp", "fn",
        F.round(mcc, round_to).alias("mcc"),
    )


def krippendorff_alpha(
    df: DataFrame,
    unit_col: str,
    rater_col: str,
    value_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Krippendorff's alpha for NOMINAL data (Krippendorff 1970,
    public) — the annotator-agreement statistic that, unlike
    cohens_kappa, handles ANY number of raters per unit and missing
    ratings (real labeling jobs never have two complete annotators):

        α = 1 − D_o/D_e
          = 1 − (n−1)·O / (n² − Σ_c n_c²)

    where, over units with m_u ≥ 2 ratings, O = Σ_u (m_u² − Σ_c m_uc²)
    / (m_u − 1) is the observed-disagreement numerator, n_c = Σ_u m_uc
    the coincidence marginal (an exact integer), and n = Σ_u m_u.

    Shape: one (unit, value) hash aggregate → per-unit disagreement
    term (a rational with denominator m_u − 1, nano-rounded to
    DECIMAL(38,0) before the unit sum — reduce-order-free), plus
    category-sized marginal aggregates. No pair join at all — the
    coincidence algebra collapses it. NULL-valued ratings drop;
    single-rating units are excluded (they carry no agreement
    information). alpha is NULL when D_e = 0 (every pairable rating
    is one category). Output one row:
    (n_units, n_ratings, n_categories, alpha)."""
    dec = "decimal(38,0)"
    s = df.select(
        F.col(unit_col).alias("__u"),
        F.col(rater_col).alias("__r"),
        value_col.cast("string").alias("__c"),
    ).filter(
        F.col("__u").isNotNull() & F.col("__r").isNotNull() & F.col("__c").isNotNull()
    )
    uc = s.groupBy("__u", "__c").agg(F.count(F.lit(1)).alias("__muc"))
    per_u = uc.groupBy("__u").agg(
        F.sum("__muc").alias("__mu"),
        F.sum(F.col("__muc").cast(dec) * F.col("__muc").cast(dec)).alias("__mq"),
    ).filter(F.col("__mu") >= 2)
    # observed-disagreement nano term: (m_u² − Σ m_uc²)/(m_u − 1)
    mu = F.col("__mu").cast("double")
    o_term = F.round(
        (mu * mu - F.col("__mq").cast("double")) / (mu - 1.0) * 1e9
    ).cast(dec)
    totals = per_u.agg(
        F.sum(o_term).alias("__on"),
        F.sum("__mu").alias("__n"),
        F.count(F.lit(1)).alias("n_units"),
    )
    # coincidence marginals over PAIRABLE units only
    nc = (
        uc.join(per_u.select("__u"), "__u")
        .groupBy("__c")
        .agg(F.sum("__muc").alias("__nc"))
    )
    marg = nc.agg(
        F.sum(F.col("__nc").cast(dec) * F.col("__nc").cast(dec)).alias("__nc2"),
        F.count(F.lit(1)).alias("n_categories"),
    )
    j = totals.crossJoin(F.broadcast(marg))
    nd = F.col("__n").cast("double")
    de = nd * nd - F.col("__nc2").cast("double")
    alpha = F.when(
        de > 0, 1.0 - (nd - 1.0) * (F.col("__on").cast("double") / 1e9) / de
    )
    return j.select(
        F.col("n_units").cast("long").alias("n_units"),
        F.col("__n").cast("long").alias("n_ratings"),
        F.col("n_categories").cast("long").alias("n_categories"),
        F.round(alpha, round_to).alias("alpha"),
    )


def fleiss_kappa(
    df: DataFrame,
    unit_col: str,
    value_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971, public) — multi-rater agreement for
    the FIXED-PANEL design: every unit rated by exactly n raters into
    k nominal categories (krippendorff_alpha is the
    missing-data/variable-panel generalization; when the panel IS
    fixed, Fleiss is the number reviewers expect):

        P_i  = (Σ_j n_ij² − n) / (n(n−1))
        κ    = (P̄ − P̄_e) / (1 − P̄_e),   P̄_e = Σ_j p_j²,
               p_j = Σ_i n_ij / (N·n)

    Exactness: everything is a ratio of exact integers —
    P̄ = (Σ_i Σ_j n_ij² − N·n) / (N·n(n−1)) and
    P̄_e = Σ_j (Σ_i n_ij)² / (N·n)² — so κ is a few fixed-order double
    operations on DECIMAL(38,0) sums, no nano staging needed at all.

    FIXED-PANEL CONTRACT (validated loudly, the srm_check discipline):
    every unit must carry the same rating count; a 1-row probe raises
    ValueError naming the deviant count rather than silently averaging
    a malformed panel. NULL ratings drop BEFORE the probe, so a
    partially-null unit is a contract violation, not silent data loss.
    κ is NULL when P̄_e = 1 (every rating one category). Output one
    row: (n_units, n_raters, n_categories, kappa)."""
    dec = "decimal(38,0)"
    s = df.select(
        F.col(unit_col).alias("__u"), value_col.cast("string").alias("__c")
    ).filter(F.col("__u").isNotNull() & F.col("__c").isNotNull())
    uc = s.groupBy("__u", "__c").agg(F.count(F.lit(1)).alias("__nij"))
    per_u = uc.groupBy("__u").agg(
        F.sum("__nij").alias("__n"),
        F.sum(F.col("__nij").cast(dec) * F.col("__nij").cast(dec)).alias("__q"),
    )
    counts = per_u.select("__n").distinct()
    bad = counts.take(2)
    if len(bad) > 1:
        raise ValueError(
            "fleiss_kappa: units carry different rating counts "
            f"({sorted(r['__n'] for r in bad)}…) — the fixed-panel contract; "
            "use krippendorff_alpha for variable panels / missing ratings"
        )
    tot = per_u.agg(
        F.count(F.lit(1)).alias("n_units"),
        F.first("__n").alias("__nr"),
        F.sum("__q").alias("__sq"),
    )
    cat = uc.groupBy("__c").agg(F.sum("__nij").cast(dec).alias("__cj"))
    marg = cat.agg(
        F.sum(F.col("__cj") * F.col("__cj")).alias("__c2"),
        F.count(F.lit(1)).alias("n_categories"),
    )
    j = tot.crossJoin(F.broadcast(marg))
    nu = F.col("n_units").cast("double")
    nr = F.col("__nr").cast("double")
    p_bar = (F.col("__sq").cast("double") - nu * nr) / (nu * nr * (nr - 1.0))
    p_e = F.col("__c2").cast("double") / ((nu * nr) * (nu * nr))
    kappa = F.when(p_e < 1.0, (p_bar - p_e) / (1.0 - p_e))
    return j.select(
        F.col("n_units").cast("long").alias("n_units"),
        F.col("__nr").cast("long").alias("n_raters"),
        F.col("n_categories").cast("long").alias("n_categories"),
        F.round(kappa, round_to).alias("kappa"),
    )


def rbo_overlap(
    a: DataFrame,
    b: DataFrame,
    query_col: str,
    item_col: str,
    rank_col: str,
    k: int = 10,
    p: float = 0.9,
    round_to: int = 6,
    validate: bool = False,
) -> DataFrame:
    """Rank-biased overlap between two top-k rankings per query
    (Webber, Moffat & Zobel 2010, public) — the ranking-similarity
    readout RRF/NDCG can't give: how much do two retrieval systems (or
    two model versions) AGREE, weighted toward the top:

        RBO@k = (1−p)/(1−p^k)·… — here the standard truncated form
        RBO@k = (Σ_{d=1..k} p^{d−1} · |A_d ∩ B_d| / d) · (1−p) / (1−p^k)

    (normalized so identical k-deep lists score exactly 1.0).

    Shape: inputs are already top-k lists (TakeOrdered-sized), so
    everything is k-bounded per query: the A⋈B item join finds each
    item's rank pair, the overlap-at-depth d counts pairs with
    max(rank_a, rank_b) ≤ d via one k-row depth join (broadcast range
    table), and the weighted sum is a ≤k-row aggregate with
    fixed-order double terms (p^d from a broadcast constant table —
    reduce-order-free after the nano round). Queries present in only
    one input score the defined overlap 0 at every depth.

    ONE-ROW-PER-(query, item) CONTRACT (the bleu_n pair-id rule): each
    input must carry each item at most once per query — a duplicated
    item fans out in the rank join and inflates the overlap count at
    every depth ≥ its max rank, silently pushing RBO past 1. Rankings
    produced by top_n/TakeOrdered satisfy this by construction; dedupe
    anything else upstream — or pass validate=True to enforce the
    contract for one extra early-out hash aggregate per side (r13
    verdict task 6; default off, so the default plan is unchanged).
    Output: (query, n_common, rbo)."""
    dec = "decimal(38,0)"
    spark = a.sparkSession
    if validate:
        from table_computing_spark.operators.contracts import check_unique

        check_unique(a, [query_col, item_col], "rbo_overlap(side=a)")
        check_unique(b, [query_col, item_col], "rbo_overlap(side=b)")
    ra = a.select(
        F.col(query_col).alias("__q"),
        F.col(item_col).alias("__it"),
        F.col(rank_col).cast("int").alias("__ra"),
    ).filter(F.col("__ra") <= k)
    rb = b.select(
        F.col(query_col).alias("__q"),
        F.col(item_col).alias("__it"),
        F.col(rank_col).cast("int").alias("__rb"),
    ).filter(F.col("__rb") <= k)
    pairs = ra.join(rb, ["__q", "__it"]).select(
        "__q", F.greatest("__ra", "__rb").alias("__d0")
    )
    depths = spark.range(1, k + 1).select(F.col("id").cast("int").alias("__d"))
    # overlap at depth d = pairs with max-rank <= d; weight p^{d-1}/d
    counted = (
        pairs.join(F.broadcast(depths), pairs["__d0"] <= depths["__d"])
        .groupBy("__q", "__d")
        .agg(F.count(F.lit(1)).alias("__x"))
    )
    term = F.round(
        F.pow(F.lit(float(p)), F.col("__d") - 1)
        * F.col("__x").cast("double")
        / F.col("__d").cast("double")
        * 1e9
    ).cast(dec)
    per_q = counted.groupBy("__q").agg(
        F.sum(term).alias("__tn"), F.max("__x").alias("n_common")
    )
    queries = ra.select("__q").union(rb.select("__q")).distinct()
    out = queries.join(per_q, "__q", "left")
    norm = (1.0 - float(p)) / (1.0 - float(p) ** k)
    rbo = F.coalesce(F.col("__tn").cast("double"), F.lit(0.0)) / 1e9 * F.lit(norm)
    return out.select(
        F.col("__q").alias("query"),
        F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("n_common"),
        F.round(rbo, round_to).alias("rbo"),
    )


def err_at_k(
    df: DataFrame,
    query_col: str,
    item_col: str,
    score_col: Column,
    rel_col: Column,
    k: int = 10,
    max_rel: int = 4,
    round_to: int = 6,
) -> DataFrame:
    """Expected Reciprocal Rank at k per query (Chapelle, Metlzer,
    Zhang & Grinspan 2009, public) — the cascade-model ranking metric
    next to ndcg_at_k: a simulated user scans down the list and stops
    at the first satisfying result, so one great hit at rank 1
    dominates in a way DCG's independent-position discounts can't
    express:

        R_r  = (2^rel_r − 1) / 2^max_rel          (stop probability)
        ERR  = Σ_{r≤k} (1/r) · R_r · Π_{i<r} (1 − R_i)

    Ranking order is (score desc, item asc) — the deterministic-
    tiebreak contract. The prefix product makes this a SEQUENTIAL fold
    per query: positions sort into an array (k-bounded) and ONE
    row-local F.aggregate replays the cascade in fixed rank order —
    the exact sequence of IEEE double ops a recursive-CTE oracle
    replays (the q_running_balance/holt precedent), so results are
    bit-identical across engines. rel is clamped to [0, max_rel].
    NULL-score and NULL-relevance rows are DROPPED up front (the
    cohens_d/cliffs_delta sibling discipline; r13 ADVICE — greatest()
    skips NULLs, so an un-dropped NULL rel would silently read as 0
    and a NULL score would rank last while still inflating n_rated);
    n_rated counts only fully-rated rows. All windows PARTITIONED by
    query. Output: (query, err, n_rated)."""
    from pyspark.sql.window import Window as W

    base = (
        df.select(
            F.col(query_col).alias("query"),
            F.col(item_col).alias("__item"),
            score_col.cast("double").alias("__score"),
            rel_col.cast("int").alias("__rel0"),
        )
        .filter(F.col("__score").isNotNull() & F.col("__rel0").isNotNull())
        .select(
            "query",
            "__item",
            "__score",
            F.least(
                F.greatest(F.col("__rel0"), F.lit(0)), F.lit(int(max_rel))
            ).alias("__rel"),
        )
    )
    run = W.partitionBy("query").orderBy(
        F.col("__score").desc(), F.col("__item").asc()
    )
    rprob = (
        F.pow(F.lit(2.0), F.col("__rel").cast("double")) - F.lit(1.0)
    ) / F.lit(float(2 ** int(max_rel)))
    ranked = base.select(
        "query",
        F.row_number().over(run).alias("__pos"),
        rprob.alias("__r"),
    )
    per_q = ranked.groupBy("query").agg(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("__pos") <= k,
                    F.struct(F.col("__pos").alias("pos"), F.col("__r").alias("r")),
                )
            )
        ).alias("__steps"),
        F.count(F.lit(1)).alias("n_rated"),
    )
    # cascade fold: acc = (err, p_continue); err += p·r/pos; p *= (1−r)
    fold = F.aggregate(
        F.col("__steps"),
        F.struct(
            F.lit(0.0).alias("err"), F.lit(1.0).alias("p")
        ),
        lambda acc, s: F.struct(
            (
                acc["err"]
                + acc["p"] * s["r"] / s["pos"].cast("double")
            ).alias("err"),
            (acc["p"] * (F.lit(1.0) - s["r"])).alias("p"),
        ),
    )
    return per_q.select(
        "query",
        F.round(fold["err"], round_to).alias("err"),
        F.col("n_rated").cast("long").alias("n_rated"),
    )


def brier_decomposition(
    df: DataFrame,
    prob_col: Column,
    label_col: Column,
    n_bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Murphy decomposition of the Brier score (Murphy 1973, public)
    over `n_bins` equal-width forecast bins — the WHY behind
    brier_logloss's single number: is a bad score mis-CALIBRATION
    (reliability: bin mean forecast vs bin base rate) or lack of
    RESOLUTION (bins don't separate outcomes)?

        REL = Σ_b n_b·(f̄_b − ȳ_b)² / N      (lower is better)
        RES = Σ_b n_b·(ȳ_b − ȳ)² / N        (higher is better)
        UNC = ȳ·(1 − ȳ)
        brier_binned = REL − RES + UNC       (exact identity when the
                                              forecast is replaced by
                                              its bin mean)

    Exactness: probabilities quantize to integer NANOS on ingest (the
    calibration-table rule), so per-bin (n, Σp_nano, Σy) are exact
    integer aggregates; each bin's REL/RES term is fixed-order double
    arithmetic nano-rounded before the ≤n_bins-row sum. Probabilities
    outside [0, 1] — and NaN, which would otherwise die at the ANSI
    long cast with an opaque executor error — raise at the contract
    gate, which is FOLDED into the main per-bin aggregate (r13 ADVICE:
    the old standalone count() gate cost one extra full scan of the
    input per call; bad rows now land in a NULL pseudo-bin counted by
    the same action that totals the data). p = 1.0 lands in the top
    bin. Output one row: (reliability, resolution, uncertainty,
    brier_binned, n, n_bins_used)."""
    dec = "decimal(38,0)"
    pd_ = prob_col.cast("double")
    # NaN / ±Inf / |p| beyond any plausible probability would die at
    # the ANSI long cast before the contract gate — route them to the
    # gate instead of the cast
    uncastable = F.isnan(pd_) | (F.abs(pd_) > F.lit(1e9))
    s = df.select(
        F.when(uncastable, F.lit(None))
        .otherwise(F.round(pd_ * 1e9))
        .cast("long")
        .alias("__pn"),
        F.coalesce(uncastable, F.lit(False)).alias("__nan"),
        label_col.cast("long").alias("__y"),
    ).filter(
        (F.col("__pn").isNotNull() | F.col("__nan")) & F.col("__y").isNotNull()
    )
    b = int(n_bins)
    bad_cond = (
        F.col("__nan")
        | (F.col("__pn") < 0)
        | (F.col("__pn") > 1_000_000_000)
    )
    # contract-violating rows fall into the NULL pseudo-bin; one action
    # both gates and totals (no separate gate scan)
    binned = s.withColumn(
        "__b",
        F.when(
            ~bad_cond,
            F.least(
                F.floor(F.col("__pn") * b / F.lit(1_000_000_000)).cast("int"),
                F.lit(b - 1),
            ),
        ),
    )
    per_b = binned.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("__pn").cast(dec)).alias("__sp"),
        F.sum("__y").alias("__sy"),
    )
    tot = per_b.agg(
        F.sum(F.when(F.col("__b").isNotNull(), F.col("__n"))).alias("__nn"),
        F.sum(F.when(F.col("__b").isNotNull(), F.col("__sy"))).alias("__yy"),
        F.sum(F.when(F.col("__b").isNull(), F.col("__n"))).alias("__bad"),
    ).first()
    if int(tot["__bad"] or 0):
        raise ValueError(
            f"brier_decomposition: {int(tot['__bad'])} probabilities outside "
            "[0, 1] (or NaN) — scores must be calibrated probabilities, not "
            "raw margins"
        )
    per_b = per_b.filter(F.col("__b").isNotNull())
    n_total, y_total = int(tot["__nn"] or 0), int(tot["__yy"] or 0)
    if not n_total:
        raise ValueError("brier_decomposition: no valid (prob, label) rows")
    ybar = y_total / n_total
    nb = F.col("__n").cast("double")
    fbar = F.col("__sp").cast("double") / 1e9 / nb
    ybar_b = F.col("__sy").cast("double") / nb
    rel_t = F.round(nb * (fbar - ybar_b) * (fbar - ybar_b) * 1e9).cast(dec)
    res_t = F.round(
        nb * (ybar_b - F.lit(ybar)) * (ybar_b - F.lit(ybar)) * 1e9
    ).cast(dec)
    agg = per_b.agg(
        F.sum(rel_t).alias("__rel"),
        F.sum(res_t).alias("__res"),
        F.count(F.lit(1)).alias("n_bins_used"),
    )
    rel = F.col("__rel").cast("double") / 1e9 / n_total
    res = F.col("__res").cast("double") / 1e9 / n_total
    unc = ybar * (1.0 - ybar)
    return agg.select(
        F.round(rel, round_to).alias("reliability"),
        F.round(res, round_to).alias("resolution"),
        F.round(F.lit(unc), round_to).alias("uncertainty"),
        F.round(rel - res + F.lit(unc), round_to).alias("brier_binned"),
        F.lit(n_total).cast("long").alias("n"),
        F.col("n_bins_used").cast("long").alias("n_bins_used"),
    )


def qini_uplift(
    df: DataFrame,
    id_col: str,
    treat_col: Column,
    label_col: Column,
    score_col: Column,
    n_buckets: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Qini / uplift decile table (Radcliffe 2007, public) — the
    targeting readout for treatment-effect models (cumulative_gains
    for INCREMENTAL conversions): rank the population by predicted
    uplift descending, cut into `n_buckets` exact ntiles, and per
    cumulative head report the incremental conversions over the
    treated-scaled control baseline:

        qini(b)   = cumY_T(b) − cumY_C(b) · cumN_T(b)/cumN_C(b)
        uplift(b) = cumY_T(b)/cumN_T(b) − cumY_C(b)/cumN_C(b)

    Scale shape: the cumulative_gains machinery — ids.ntile_distributed
    for the global ranking (range shuffle + closed form, never a
    global window over data rows), ONE hash aggregate to the bucket
    table, cumulative pass on the ≤n_buckets-row table (bounded
    window, the plan-gate whitelist class). Order is
    (score desc, id asc) — the deterministic-tiebreak contract. Exact
    integer counts; fixed-order double divisions; qini/uplift NULL
    while a cumulative head has no control (or no treated) rows yet.
    INDICATOR CONTRACT (r14 pass): `treat_col`/`label_col` must be 0/1
    or boolean — a non-indicator numeric silently drives the (1−t)
    complements negative (the mantel_haenszel note).
    Output: (bucket, n_treat, n_ctrl, conv_treat, conv_ctrl, qini,
    uplift_cum)."""
    from pyspark.sql.window import Window as W

    from table_computing_spark.operators.ids import ntile_distributed

    base = df.select(
        F.col(id_col).alias("__id"),
        treat_col.cast("int").alias("__t"),
        label_col.cast("long").alias("__y"),
        score_col.cast("double").alias("__s"),
    ).filter(
        F.col("__t").isNotNull() & F.col("__y").isNotNull() & F.col("__s").isNotNull()
    )
    tiled = ntile_distributed(
        base,
        [F.col("__s").desc(), F.col("__id").asc()],
        n_buckets,
        out_col="bucket",
    )
    per_b = tiled.groupBy("bucket").agg(
        F.sum("__t").cast("long").alias("n_treat"),
        F.sum(F.lit(1) - F.col("__t")).cast("long").alias("n_ctrl"),
        F.sum(F.col("__t") * F.col("__y")).cast("long").alias("conv_treat"),
        F.sum((F.lit(1) - F.col("__t")) * F.col("__y")).cast("long").alias(
            "conv_ctrl"
        ),
    )
    wc = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = per_b.select(
        "bucket", "n_treat", "n_ctrl", "conv_treat", "conv_ctrl",
        F.sum("n_treat").over(wc).alias("__cnt"),
        F.sum("n_ctrl").over(wc).alias("__cnc"),
        F.sum("conv_treat").over(wc).alias("__cyt"),
        F.sum("conv_ctrl").over(wc).alias("__cyc"),
    )
    cnt = F.col("__cnt").cast("double")
    cnc = F.col("__cnc").cast("double")
    cyt = F.col("__cyt").cast("double")
    cyc = F.col("__cyc").cast("double")
    ok = (F.col("__cnt") > 0) & (F.col("__cnc") > 0)
    return cum.select(
        F.col("bucket").cast("long").alias("bucket"),
        "n_treat", "n_ctrl", "conv_treat", "conv_ctrl",
        F.round(F.when(ok, cyt - cyc * cnt / cnc), round_to).alias("qini"),
        F.round(F.when(ok, cyt / cnt - cyc / cnc), round_to).alias("uplift_cum"),
    )


def mcnemar_test(
    df: DataFrame,
    correct_a: Column,
    correct_b: Column,
    round_to: int = 6,
) -> DataFrame:
    """McNemar's test for two classifiers on the SAME examples
    (McNemar 1947, public) — the paired eval comparison accuracy
    deltas get wrong (shared examples correlate the errors; only the
    DISCORDANT pairs carry signal):

        b = A right, B wrong;  c = A wrong, B right
        χ² = (|b − c| − 1)² / (b + c)     (Edwards continuity form)

    The model-A-vs-model-B readout for paired eval sets (two model
    versions on one benchmark) next to q_eval_f1's single-model
    scores. One exact-integer hash aggregate; χ² is NULL when b+c = 0
    (no disagreements — the test is undefined, not zero); the |b−c|≤1
    continuity floor clamps at 0. Rows with NULL flags drop. Output
    one row: (n, both_right, both_wrong, a_only, b_only, chi2)."""
    s = df.select(
        correct_a.cast("boolean").alias("__a"),
        correct_b.cast("boolean").alias("__b"),
    ).filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    agg = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("__a") & F.col("__b")).cast("long")).alias("both_right"),
        F.sum((~F.col("__a") & ~F.col("__b")).cast("long")).alias("both_wrong"),
        F.sum((F.col("__a") & ~F.col("__b")).cast("long")).alias("a_only"),
        F.sum((~F.col("__a") & F.col("__b")).cast("long")).alias("b_only"),
    )
    b, c = F.col("a_only").cast("double"), F.col("b_only").cast("double")
    dev = F.greatest(F.abs(b - c) - 1.0, F.lit(0.0))
    chi2 = F.when(F.col("a_only") + F.col("b_only") > 0, dev * dev / (b + c))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        "both_right", "both_wrong", "a_only", "b_only",
        F.round(chi2, round_to).alias("chi2"),
    )


def cochrans_q(
    df: DataFrame,
    item_col: str,
    model_col: str,
    correct_col: Column,
    round_to: int = 6,
) -> DataFrame:
    """Cochran's Q test (Cochran 1950, public) — McNemar's k-model
    generalization: do k classifiers scored on the SAME items share a
    success rate?

        Q = (k−1)·[k·Σ_j C_j² − (Σ C_j)²] / (k·Σ_i R_i − Σ_i R_i²)

    with C_j = model j's correct count and R_i = item i's correct
    count. The multi-model leaderboard significance gate (pairs with
    q_friedman for graded scores; this is the binary-outcome form).

    COMPLETE-PANEL CONTRACT (the fleiss_kappa discipline, validated
    loudly): every item must carry exactly one flag per model — ragged
    panels raise ValueError. The probe is FOLDED into the statistic's
    own aggregates (r14 pass, the brier_decomposition precedent: the
    old standalone distinct-model count + 2-row probe cost two extra
    full scans per call; min/max flag counts and the model count now
    ride the same one-row action). `correct_col` is a 0/1 flag (cast
    to long — a non-indicator numeric silently inflates R_i/C_j; cast
    booleans or explicit indicators only). Everything is a ratio of
    exact DECIMAL integers; Q is NULL when the denominator is 0 (every
    item all-right or all-wrong). NULL flags drop BEFORE the probe.
    Output one row: (n_items, n_models, q)."""
    dec = "decimal(38,0)"
    s = df.select(
        F.col(item_col).alias("__i"),
        F.col(model_col).alias("__m"),
        correct_col.cast("long").alias("__y"),
    ).filter(
        F.col("__i").isNotNull() & F.col("__m").isNotNull() & F.col("__y").isNotNull()
    )
    per_i = s.groupBy("__i").agg(
        F.count(F.lit(1)).alias("__c"), F.sum("__y").alias("__r")
    )
    per_m = s.groupBy("__m").agg(F.sum("__y").cast(dec).alias("__cj"))
    mm = per_m.agg(
        F.sum(F.col("__cj") * F.col("__cj")).alias("__c2"),
        F.sum("__cj").alias("__cs"),
        F.count(F.lit(1)).alias("__k"),
    )
    ii = per_i.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("__r").cast(dec)).alias("__rs"),
        F.sum(F.col("__r").cast(dec) * F.col("__r").cast(dec)).alias("__r2"),
        F.min("__c").alias("__cmin"),
        F.max("__c").alias("__cmax"),
    )
    j = ii.crossJoin(F.broadcast(mm))
    probe = j.first()
    k = int(probe["__k"] or 0)
    if probe["n_items"] and (
        probe["__cmin"] != k or probe["__cmax"] != k
    ):
        raise ValueError(
            "cochrans_q: items carry different flag counts "
            f"(per-item counts span [{probe['__cmin']}, {probe['__cmax']}], "
            f"k={k}) — the complete-panel contract; score every item "
            "with every model"
        )
    kd = F.lit(float(k))
    num = (kd - 1.0) * (
        kd * F.col("__c2").cast("double")
        - F.col("__cs").cast("double") * F.col("__cs").cast("double")
    )
    den = kd * F.col("__rs").cast("double") - F.col("__r2").cast("double")
    q = F.when(den > 0, num / den)
    return j.select(
        F.col("n_items").cast("long").alias("n_items"),
        F.lit(int(k)).cast("long").alias("n_models"),
        F.round(q, round_to).alias("q"),
    )
