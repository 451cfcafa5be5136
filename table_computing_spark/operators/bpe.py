"""Distributed BPE (byte-pair-encoding) vocabulary learning.

The classic subword tokenizer build (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units" — public
algorithm): repeatedly count adjacent symbol pairs over the corpus and
merge the most frequent one. The distributed form rests on the
standard word-count reduction: BPE statistics depend only on the
corpus's DISTINCT words and their counts, so a 100 TB corpus first
collapses to a vocabulary table (one shuffle, ~millions of rows) and
every merge iteration then runs at vocabulary scale, not corpus scale.

Per round (BATCHED — multiple merges per Spark job):
  1. explode each word's current token sequence into adjacent pairs,
     weighted by the word count — narrow + one hash aggregation;
  2. pull the top-`batch_size` pairs by (count desc, pair asc —
     deterministic tie-break), a bounded driver pull, and keep the
     longest PREFIX that provably replays the one-at-a-time greedy
     order (see _safe_prefix below); the fallback is always the
     classic single top-1 merge, so semantics never drift;
  3. apply every accepted merge to each word's token list with greedy
     left-to-right folds — row-local `aggregate` expressions composed
     into ONE projection, no Python, no shuffle.
Batching cuts a production 32k-merge vocabulary build from 32k
sequential Spark jobs to roughly 32k/batch driver rounds while the
sequential-replay equality pytest pins that the merge list is
IDENTICAL to the one-merge-per-round algorithm.

Why the prefix rule is safe (i.e. batched == sequential): sort pairs
by (count desc, l asc, r asc) and take candidates p1..pk. If they are
(a) a PREFIX of the sorted order, (b) pairwise token-disjoint, then
applying p1..p_{i-1} leaves count(p_i) unchanged (merges only destroy
pairs that share a token and only create pairs involving the new
merged symbol). The only remaining threat to "sequential would also
pick p_i next" is a pair CREATED by an earlier batch member outranking
p_i. A created pair (x, l_j r_j) can only occur where (x, l_j) was
adjacent before, so its count is ≤ count(x, l_j); likewise
(l_j r_j, y) ≤ count(r_j, y). Both bounds are rows of the SAME pair
table already aggregated this round, so condition (c): for every j<i,
min(count(p_j), max adjacent-pair count of p_j) < count(p_i) —
enforced with two bounded filtered aggregations — guarantees no
created pair can beat (or tie against) any later batch member.

`bpe_segment` applies a learned merge table to text with the standard
rank-greedy algorithm (lowest-rank pair merges first) as an
Arrow-vectorized pandas UDF — the apply side is embarrassingly
parallel and needs real loops, so Python is the honest vehicle there.
"""

from __future__ import annotations

import pandas as pd
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END_OF_WORD = "▁"  # sentinel glued to the word end (SentencePiece-style)


def word_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus -> (word, n) distinct-word counts, lowercased, whitespace
    tokenized. The one corpus-scale shuffle of the whole build."""
    from table_computing_spark.operators.text import tokens

    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _initial_tokens() -> F.Column:
    """word -> [c1, c2, ..., ck + END_OF_WORD]"""
    chars = F.split(F.col("word"), "")
    last = F.concat(F.element_at(chars, -1), F.lit(END_OF_WORD))
    return F.concat(F.slice(chars, 1, F.size(chars) - 1), F.array(last))


def _apply_merge(tokens_col, left: str, right: str):
    """Greedy left-to-right single-pair merge as a fold: append each
    token unless it completes (left, right) at the tail, in which case
    the tail is replaced by the merged token. Correct for overlapping
    runs (aaa + (a,a) -> [aa, a]) because the merged tail no longer
    equals `left`."""
    merged = F.lit(left + right)
    return F.aggregate(
        tokens_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _safe_prefix(top_rows, pairs: DataFrame, budget: int):
    """Longest prefix of the (count desc, pair asc)-sorted candidate
    rows that batched application provably replays sequentially —
    conditions (a) prefix, (b) pairwise token-disjoint, (c) created
    pairs bounded below every later member (module docstring).
    Returns [(l, r, cnt)]; at least one merge whenever any is viable."""
    prefix = []
    used: "set[str]" = set()
    for row in top_rows:
        if row["cnt"] < 2 or len(prefix) >= budget:
            break
        if row["l"] in used or row["r"] in used:
            break  # prefix rule: a conflicting pair keeps competing
        prefix.append((row["l"], row["r"], int(row["cnt"])))
        used.add(row["l"])
        used.add(row["r"])
    if len(prefix) <= 1:
        return prefix
    # condition (c): created-pair count bounds from the same pair table,
    # plus the collision guard — if a member's merged symbol l+r ALREADY
    # exists as a token (appears in any pair), merging can boost a
    # pre-existing pair's count, which breaks the only-decrease
    # argument; truncate the batch right after such a member.
    lefts = [l for l, _, _ in prefix]
    rights = [r for _, r, _ in prefix]
    merged_syms = [l + r for l, r, _ in prefix]
    # persist (NOT localCheckpoint): reused across the three bounded
    # collects below, then released before return. adj is rebuilt from
    # scratch every merge round, so lineage never accumulates — and a
    # checkpoint's blocks would outlive catalog.clearCache() and pile
    # up for the session lifetime, one per round (the q_bpe_merges
    # warm-inversion mechanism, BENCH r12 / r12 verdict #4).
    adj = pairs.filter(
        F.col("r").isin(lefts + merged_syms) | F.col("l").isin(rights + merged_syms)
    ).select(
        F.when(F.col("r").isin(lefts), F.col("r")).alias("as_left"),
        F.when(F.col("l").isin(rights), F.col("l")).alias("as_right"),
        F.when(
            F.col("l").isin(merged_syms), F.col("l")
        ).otherwise(
            F.when(F.col("r").isin(merged_syms), F.col("r"))
        ).alias("preexisting"),
        "cnt",
    ).persist()
    bounds = {
        ("L", row["as_left"]): row["m"]
        for row in adj.filter(F.col("as_left").isNotNull())
        .groupBy("as_left").agg(F.max("cnt").alias("m")).collect()
    } | {
        ("R", row["as_right"]): row["m"]
        for row in adj.filter(F.col("as_right").isNotNull())
        .groupBy("as_right").agg(F.max("cnt").alias("m")).collect()
    }
    collides = {
        row["preexisting"]
        for row in adj.filter(F.col("preexisting").isNotNull())
        .select("preexisting").distinct().collect()
    }
    adj.unpersist()
    safe = []
    max_created = -1
    for l, r, cnt in prefix:
        if max_created >= cnt:
            break  # a created pair could outrank this member — stop
        safe.append((l, r, cnt))
        if l + r in collides:
            break  # merged symbol pre-exists: later counts may inflate
        a = max(bounds.get(("L", l), 0), bounds.get(("R", r), 0))
        max_created = max(max_created, min(cnt, a))
    return safe


def _swap_checkpoint(df: DataFrame, prev_ids: "set[int]"):
    """Eagerly localCheckpoint `df`, then release the storage blocks of
    the PREVIOUS checkpoint (`prev_ids` = its RDD ids). localCheckpoint
    truncates lineage — which the vocab loop needs — but its blocks
    survive catalog.clearCache(), so superseded checkpoints otherwise
    accumulate for the session lifetime: the q_bpe_merges warm-inversion
    mechanism (BENCH r12, the only warm_inverted row) and a genuine leak
    for a production 32k-merge build (one block set per checkpoint_every
    rounds). The new checkpoint is materialized BEFORE the old one is
    released, so there is no recomputation window. Returns
    (checkpointed df, its RDD ids)."""
    sc = df.sparkSession.sparkContext
    out = df.localCheckpoint()
    # The checkpointed RDD is the one under the returned plan's
    # LogicalRDD. Diffing the session's persistent RDDs around the call
    # instead would also claim RDDs that other threads persisted
    # meanwhile (two BPE builds side by side), and the next swap would
    # drop their checkpoint blocks. If the id cannot be read, the
    # checkpoint is not tracked: its blocks leak, nothing foreign is
    # released.
    try:
        new_ids = {out._jdf.logicalPlan().rdd().id()}
    except Py4JError:
        new_ids = set()
    try:
        jmap = sc._jsc.getPersistentRDDs()
        for rid in prev_ids:
            jrdd = jmap.get(rid)
            if jrdd is not None:
                jrdd.unpersist()
    except Exception:  # noqa: BLE001
        pass
    return out, new_ids


def learn_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 20,
    checkpoint_every: int = 4,
    batch_size: int = 16,
) -> "tuple[list[tuple[int, str, str, int]], DataFrame]":
    """Learn `num_merges` BPE merges. Returns (merges, vocab_df):
    merges is [(iteration, left, right, pair_count)] in merge order;
    vocab_df is the final (word, n, tokens) vocabulary. `batch_size`
    caps merges per driver round (1 = the classic one-job-per-merge
    loop; the merge LIST is identical either way)."""
    vocab, vocab_ids = _swap_checkpoint(
        word_vocab(df, text_col).withColumn("tokens", _initial_tokens()), set()
    )
    merges: "list[tuple[int, str, str, int]]" = []
    rounds_since_ckpt = 0
    while len(merges) < num_merges:
        pairs = (
            vocab.select(
                "n",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("tokens"), 1, F.size("tokens") - 1),
                        F.slice(F.col("tokens"), 2, F.size("tokens") - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("n").alias("cnt"))
        )
        if batch_size > 1:
            # persist (NOT localCheckpoint): reused by the top-k pull and
            # _safe_prefix's adjacency bounds, then RELEASED this round —
            # pairs is rebuilt from the checkpointed vocab every round, so
            # lineage never accumulates, while an unreleased checkpoint's
            # blocks would (r12 verdict #4: one leaked block set per merge
            # round was exactly the q_bpe_merges warm-inversion pressure)
            pairs = pairs.persist()
        top = (
            pairs.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(max(batch_size, 1))
            .collect()
        )
        batch = _safe_prefix(top, pairs, num_merges - len(merges))
        if batch_size > 1:
            pairs.unpersist()
        if not batch:
            break
        col = F.col("tokens")
        for l, r, cnt in batch:
            merges.append((len(merges) + 1, l, r, cnt))
            col = _apply_merge(col, l, r)
        vocab = vocab.withColumn("tokens", col)
        rounds_since_ckpt += 1
        if rounds_since_ckpt >= checkpoint_every:
            vocab, vocab_ids = _swap_checkpoint(vocab, vocab_ids)
            rounds_since_ckpt = 0
    return merges, vocab


def merges_df(spark, merges) -> DataFrame:
    """Merge list -> DataFrame (iteration, left, right, pair_count)."""
    return spark.createDataFrame(
        merges, "iteration int, left string, right string, pair_count bigint"
    )


def bpe_segment(
    df: DataFrame,
    merges: "list[tuple[int, str, str, int]]",
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize text with a learned merge table: whitespace-split, then
    rank-greedy BPE per word (always merge the lowest-rank eligible
    pair — the standard apply algorithm, NOT the training-time greedy
    scan). Arrow-batched pandas UDF; ranks broadcast via closure."""
    from pyspark.sql.functions import pandas_udf

    ranks = {(l, r): i for i, (_, l, r, _) in enumerate(merges)}

    def encode_word(word: str) -> "list[str]":
        toks = list(word[:-1]) + [word[-1] + END_OF_WORD] if word else []
        while len(toks) > 1:
            best_rank, best_i = None, None
            for i in range(len(toks) - 1):
                r = ranks.get((toks[i], toks[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_i is None:
                break
            toks[best_i : best_i + 2] = [toks[best_i] + toks[best_i + 1]]
        return toks

    @pandas_udf("array<string>")
    def seg(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks: "list[str]" = []
            for w in (t or "").lower().split():
                toks.extend(encode_word(w))
            out.append(toks)
        return pd.Series(out)

    return df.withColumn(out_col, seg(F.col(text_col)))
