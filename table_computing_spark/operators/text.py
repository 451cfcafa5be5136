"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (it has no text ops — SURVEY §2.2 notes
UDF-everything), these are the corpus-hygiene primitives a 100 TB text
pipeline needs: tokenization, language ID, quality scoring, token
counting, fingerprinting. Everything is built from JVM-side expressions
(regexp / array functions) so the hot path stays in whole-stage codegen
— no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from table_computing_spark.operators._util import materialize
from table_computing_spark.table import ColumnLike, _col

# word-ish tokens: letter runs | digit runs | any other non-space symbol
# (a BPE-ish pre-tokenizer split, cf. GPT-2's regex family)
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword lists for the n-gram/stopword-overlap
# heuristic. Deliberately small + ASCII so the same literals embed in
# any SQL oracle.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "des", "dans", "que"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "de", "en", "se"),
}


def tokens(c: ColumnLike, lowercase: bool = True) -> Column:
    """Whitespace tokenization → array<string> (empty tokens removed)."""
    col = F.lower(_col(c)) if lowercase else _col(c)
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def token_count(c: ColumnLike) -> Column:
    """Whitespace token count."""
    return F.size(tokens(c, lowercase=False))


def token_count_bpe(c: ColumnLike) -> Column:
    """BPE-ish regex token count (letter runs / digit runs / symbols)."""
    return F.size(F.regexp_extract_all(_col(c), F.lit(TOKEN_REGEX), 0))


def stopword_ratio(c: ColumnLike, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of `lang`."""
    toks = tokens(c)
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in STOPWORDS[lang]]))
    )
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(c: ColumnLike) -> Column:
    """Heuristic document quality in [0,1]: combines length band,
    mean-token-length band, and alpha-character density. Pure
    expressions → cheap at any scale; tune weights per corpus."""
    col = _col(c)
    n_chars = F.length(col)
    toks = tokens(c)
    n_toks = F.size(toks)
    mean_tok = F.when(n_toks > 0, n_chars / n_toks).otherwise(F.lit(0.0))
    alpha_chars = F.length(F.regexp_replace(col, r"[^A-Za-z]", ""))
    alpha_ratio = F.when(n_chars > 0, alpha_chars / n_chars).otherwise(F.lit(0.0))
    len_ok = F.when((n_chars >= 100) & (n_chars <= 20000), F.lit(1.0)).otherwise(F.lit(0.5))
    tok_ok = F.when((mean_tok >= 3.0) & (mean_tok <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(len_ok * 0.3 + tok_ok * 0.3 + alpha_ratio * 0.4, 6)


def lang_id(c: ColumnLike) -> Column:
    """Stopword-overlap language ID over distinct tokens. Returns the
    language with the highest overlap count ('und' when all zero); ties
    break by language-code order — deterministic on every engine."""
    toks = F.array_distinct(tokens(c))
    # fold: strictly-greater score takes the crown, so the first
    # (code-sorted) language wins ties
    expr = F.lit("und")
    expr_score = F.lit(0)
    for lang, words in sorted(STOPWORDS.items()):
        s = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        take = s > expr_score
        expr = F.when(take, F.lit(lang)).otherwise(expr)
        expr_score = F.when(take, s).otherwise(expr_score)
    return expr


def fingerprint(c: ColumnLike) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text. Stable across engines; the join key for exact dedup."""
    norm = F.trim(F.regexp_replace(F.lower(_col(c)), r"\s+", " "))
    return F.md5(norm.cast("binary"))


# PII-ish patterns for corpus scrubbing. Deliberately RE2-safe (no
# backreferences/lookaround) so the same literals run in Spark (Java
# regex) and any RE2 engine (DuckDB) identically.
SCRUB_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"\+?[0-9][0-9()\-. ]{7,}[0-9]",
}


def scrub(c: ColumnLike, kinds: "tuple[str, ...]" = ("email", "url", "phone")) -> Column:
    """Redact PII-ish spans: each matched span becomes `<KIND>`. Applied
    in `kinds` order (earlier patterns win overlaps) — pure codegen
    regexp_replace chain, no Python."""
    out = _col(c)
    for kind in kinds:
        out = F.regexp_replace(out, SCRUB_PATTERNS[kind], f"<{kind.upper()}>")
    return out


def scrub_counts(c: ColumnLike, kinds: "tuple[str, ...]" = ("email", "url", "phone")) -> "dict[str, Column]":
    """Per-kind match counts on the PRE-scrub text (audit trail for the
    redaction step)."""
    return {
        kind: F.size(F.regexp_extract_all(_col(c), F.lit(SCRUB_PATTERNS[kind]), 0))
        for kind in kinds
    }


def shingles(c: ColumnLike, k: int = 3) -> Column:
    """Word k-gram shingle array (distinct) — the MinHash input unit."""
    toks = tokens(c)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")),
        ).otherwise(F.array(F.array_join(toks, " ")))
    )


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021 §A1
    'repetition filters'): the classic quality gates for pretraining
    corpora. Returns one row per doc:

        dup_line_frac    — 1 - distinct_lines/lines (native array exprs,
                           no explode)
        dup_bigram_frac  — fraction of word-bigram occurrences that are
                           repeats of an earlier occurrence
        top_bigram_frac  — occurrences of the most frequent bigram over
                           all bigram occurrences
        n_bigrams        — total bigram occurrences (0 for <2 tokens)

    Scale shape: line stats never leave the row; bigram stats are one
    token explode + a per-doc window (partitioned by doc, so no global
    sort) + two hash aggregates keyed on (doc, bigram) then doc — all
    map-side-combinable, shuffle width O(distinct bigrams)."""
    from pyspark.sql.window import Window as W

    lines = F.array_remove(F.split(F.col(text_col), "\n"), "")
    nl = F.size(lines)
    base = df.select(
        F.col(id_col),
        F.round(
            F.when(
                nl > 0, (nl - F.size(F.array_distinct(lines))) / nl.cast("double")
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_line_frac"),
    )

    tok_rows = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode_outer(tokens(F.col(text_col))).alias("__pos", "__tok"),
    )
    w = W.partitionBy("__id").orderBy("__pos")
    nxt = F.lead("__tok", 1).over(w)
    bg = tok_rows.select(
        "__id",
        F.when(nxt.isNotNull(), F.concat_ws("\x01", F.col("__tok"), nxt)).alias("__bg"),
    )
    per_bg = (
        bg.filter(F.col("__bg").isNotNull())
        .groupBy("__id", "__bg")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    stats = per_bg.groupBy("__id").agg(
        F.sum("__c").alias("__nb"),
        F.count(F.lit(1)).alias("__db"),
        F.max("__c").alias("__topc"),
    )
    nb = F.col("__nb").cast("double")
    return (
        base.join(stats, base[id_col] == stats["__id"], "left")
        .select(
            id_col,
            "dup_line_frac",
            F.coalesce(F.round((F.col("__nb") - F.col("__db")) / nb, 6), F.lit(0.0)).alias(
                "dup_bigram_frac"
            ),
            F.coalesce(F.round(F.col("__topc") / nb, 6), F.lit(0.0)).alias(
                "top_bigram_frac"
            ),
            F.coalesce(F.col("__nb"), F.lit(0)).cast("bigint").alias("n_bigrams"),
        )
    )


def bigram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rare_df: int = 1,
    common_df: int = 20,
) -> DataFrame:
    """CORPUS-level novelty/boilerplate signals per document — the
    cross-doc complement of repetition_metrics' within-doc stats (the
    LM-data curation gate for both garbage, which is dominated by
    corpus-unique bigrams, and boilerplate, dominated by bigrams that
    recur across many documents):

        n_bigrams_distinct — distinct word bigrams in the doc
        novel_bigrams      — bigrams whose corpus document frequency
                             <= rare_df (they appear in no other doc
                             when rare_df=1)
        boiler_bigrams     — bigrams with corpus df >= common_df
        novel_frac / boiler_frac — the two ratios, rounded

    Scale shape: one token explode + per-doc window for bigram build;
    corpus df is a hash aggregate keyed on the bigram (map-side
    combinable, shuffle width O(distinct bigrams) — the same width any
    inverted index pays); the df table joins back on the bigram key.
    No all-pairs anything, no driver state."""
    from pyspark.sql.window import Window as W

    tok_rows = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode_outer(tokens(F.col(text_col))).alias("__pos", "__tok"),
    )
    w = W.partitionBy("__id").orderBy("__pos")
    nxt = F.lead("__tok", 1).over(w)
    bg = (
        tok_rows.select(
            "__id",
            F.when(nxt.isNotNull(), F.concat_ws("\x01", F.col("__tok"), nxt)).alias("__bg"),
        )
        .filter(F.col("__bg").isNotNull())
        .dropDuplicates(["__id", "__bg"])
    )
    dfreq = bg.groupBy("__bg").agg(F.count(F.lit(1)).alias("__df"))
    per_doc = (
        bg.join(dfreq, "__bg")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams_distinct"),
            F.sum((F.col("__df") <= rare_df).cast("bigint")).alias("novel_bigrams"),
            F.sum((F.col("__df") >= common_df).cast("bigint")).alias("boiler_bigrams"),
        )
    )
    nd = F.col("n_bigrams_distinct").cast("double")
    return (
        df.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("__id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams_distinct", F.lit(0)).cast("bigint").alias(
                "n_bigrams_distinct"
            ),
            F.coalesce("novel_bigrams", F.lit(0)).cast("bigint").alias("novel_bigrams"),
            F.coalesce("boiler_bigrams", F.lit(0)).cast("bigint").alias("boiler_bigrams"),
            F.coalesce(F.round(F.col("novel_bigrams") / nd, 6), F.lit(0.0)).alias(
                "novel_frac"
            ),
            F.coalesce(F.round(F.col("boiler_bigrams") / nd, 6), F.lit(0.0)).alias(
                "boiler_frac"
            ),
        )
    )


def bm25_topk(
    df: DataFrame,
    query_terms: "Sequence[str]",
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval — the lexical search primitive of a RAG /
    corpus-inspection stack: score every document against a bag of
    query terms with the Robertson/Sparck-Jones formula

        idf(t)  = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)
        s(t, d) = idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    and return the top-k docs (ties broken by id — deterministic).

    FP determinism (the driver's hash compares exact doubles): the
    per-doc score is built as one conditional aggregate PER TERM (each
    sums at most one value, hence exact) added in FIXED term order —
    never a data-ordered SUM over term rows, whose addition order
    would differ between engines.

    Scale shape: one token explode; tf is a (doc, term) hash aggregate
    pre-filtered to the query terms (tiny); df and dl are corpus
    aggregates any search index pays once; top-k plans as
    TakeOrderedAndProject, never a global sort."""
    terms = list(dict.fromkeys(query_terms))  # dedupe, keep order
    tok = df.select(
        F.col(id_col).alias("__id"), F.explode(tokens(F.col(text_col))).alias("__t")
    )
    dl = tok.groupBy("__id").agg(F.count(F.lit(1)).alias("__dl"))
    n_docs = df.count()
    stats = dl.agg(F.avg("__dl").alias("__avgdl"))
    qtok = tok.filter(F.col("__t").isin(*terms))
    tf = qtok.groupBy("__id", "__t").agg(F.count(F.lit(1)).alias("__tf"))
    dfreq = {
        r["__t"]: r["__df"]
        for r in qtok.groupBy("__t")
        .agg(F.count_distinct("__id").alias("__df"))
        .collect()
    }  # |query| scalars to the driver — same bounded pull as IVF centroids
    import math

    score = None
    for t in terms:
        df_t = dfreq.get(t, 0)
        idf = math.log((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
        tf_t = F.sum(F.when(F.col("__t") == t, F.col("__tf")))
        norm = F.col("__dl") / F.col("__avgdl")
        s_t = F.coalesce(
            F.lit(idf)
            * tf_t
            * F.lit(k1 + 1)
            / (tf_t + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * norm)),
            F.lit(0.0),
        )
        score = s_t if score is None else (score + s_t)
    scored = (
        tf.join(dl, "__id")
        .crossJoin(F.broadcast(stats))
        .groupBy("__id", "__dl", "__avgdl")
        .agg(score.alias("__score"))
    )
    return (
        scored.orderBy(F.col("__score").desc(), F.col("__id"))
        .limit(k)
        .select(
            F.col("__id").alias(id_col),
            F.round("__score", 6).alias("score"),
        )
    )


def tf_idf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Per-document top-k TF-IDF terms → (id, term, tfidf, rank).

    tf = in-doc term count, idf = ln(N/df) with N = |documents|; ranking
    is (tfidf DESC, term ASC) so ties are engine-portable. Shape at
    scale: explode → (doc,term) hash agg for tf, (term) hash agg for
    df, an equi-join on term (both sides already partitioned by term
    from their aggs), and the rank<=k filter rewrites to a pre-shuffle
    WindowGroupLimit — only k rows per doc per mapper reach the final
    window sort."""
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("term").agg(F.count_distinct(F.col(id_col)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            id_col,
            "term",
            F.round(
                F.col("tf") * F.log(F.col("__n").cast("double") / F.col("df")),
                round_to,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 512,
    stride: "int | None" = None,
) -> DataFrame:
    """Split each document into fixed-budget context windows →
    (id, chunk_idx, n_chunks, chunk_text, chunk_tokens). The training
    prep step that turns variable-length documents into <= max_tokens
    sequences.

    `stride` (default = max_tokens, i.e. disjoint) sets the window
    step: stride < max_tokens yields OVERLAPPING windows — the
    standard LM trick so no span loses its left context at a chunk
    boundary. Window k starts at token k*stride; the last window is
    the first whose end reaches the document's end.

    Pure codegen: sequence + transform build the per-chunk token
    slices, explode fans them out — row-local work, embarrassingly
    parallel, zero shuffle. Empty documents yield one empty chunk (the
    row is kept, not dropped)."""
    if stride is None:
        stride = max_tokens
    if not 1 <= stride <= max_tokens:
        raise ValueError("stride must be in [1, max_tokens]")
    toks = tokens(F.col(text_col), lowercase=False)
    n = F.size(toks)
    n_chunks = (
        F.floor(
            (F.greatest(n - max_tokens, F.lit(0)) + F.lit(stride - 1)) / F.lit(stride)
        )
        + F.lit(1)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.array_join(F.slice(toks, i * stride + 1, max_tokens), " ").alias(
                "chunk_text"
            ),
            F.least(n - i * stride, F.lit(max_tokens)).alias("chunk_tokens"),
        ),
    )
    return df.select(
        F.col(id_col),
        n_chunks.alias("n_chunks"),
        F.explode(chunks).alias("__c"),
    ).select(id_col, "__c.chunk_idx", "n_chunks", "__c.chunk_text", "__c.chunk_tokens")


def token_budget_select(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    by: "Sequence[str] | None" = None,
) -> DataFrame:
    """Corpus curation under a token budget: rank documents by
    (quality DESC, id ASC) — optionally per `by` group (e.g. language)
    — and keep the prefix whose CUMULATIVE token count stays within
    `budget`. A document that would cross the budget line is excluded
    (strict prefix).

    One window pass computes the running sum; the filter is
    cum_tokens <= budget. At scale the sort is per-group (hash
    partition by the group keys), never global."""
    part = list(by) if by else []
    w = (
        Window.partitionBy(*part)
        .orderBy(F.col("quality").desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = df.select(
        F.col(id_col),
        *part,
        F.round(quality_score(F.col(text_col)), 6).alias("quality"),
        token_count(F.col(text_col)).alias("n_tokens"),
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget)
        .select(id_col, *part, "quality", "n_tokens", "cum_tokens")
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    id_col: str = "doc_id",
    weight_col: str = "n_tokens",
    shards: int = 8,
) -> DataFrame:
    """Greedy sequence packing: items are assigned to <=budget-token
    bins, filling each bin in id order and opening a new one when the
    next item would overflow (an over-budget item gets a bin alone).

    Packing is inherently sequential, so it runs SHARD-LOCAL: items are
    sharded by `id % shards` (explicit, engine-portable — not Spark's
    internal hash), each shard packs independently in one applyInPandas
    pass, and bin ids are (shard, bin) pairs. Shards scale the
    parallelism; determinism is total — independent of input
    partitioning, because order within a shard is by id."""
    import pandas as pd

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col, kind="stable").reset_index(drop=True)
        bins, fills = [], []
        bin_i, fill = 0, 0
        first = True
        for w in pdf[weight_col].astype("int64"):
            if first:
                bin_i, fill, first = 0, w, False
            elif fill + w <= budget:
                fill += w
            else:
                bin_i, fill = bin_i + 1, w
            bins.append(bin_i)
            fills.append(fill)
        out = pdf[[id_col, "shard", weight_col]].copy()
        out["bin"] = pd.Series(bins, dtype="int32")
        out["fill"] = pd.Series(fills, dtype="int64")
        return out

    items = df.select(
        F.col(id_col),
        (F.col(id_col) % shards).alias("shard"),
        F.col(weight_col).cast("long"),
    )
    schema = (
        f"{id_col} long, shard long, {weight_col} long, bin int, fill long"
    )
    return items.groupBy("shard").applyInPandas(pack, schema)


def fuzzy_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    max_distance: int = 3,
) -> DataFrame:
    """Bounded edit-distance near-match pairs (record-linkage /
    title-dedup primitive): candidates meet in a BLOCK equi-join on
    `block_cols` (the standard blocking-key decomposition — never a
    global cross join), then a length pre-filter (|len_a - len_b| ≤ d
    is necessary for edit distance ≤ d, and cheap) gates the O(m·n)
    levenshtein to surviving candidates.

    Returns (id_a, id_b, distance) with id_a < id_b. Scale: cost is
    Σ block_size² · levenshtein — pick blocking keys that bound block
    size; at 100 TB add a coarse fingerprint (e.g. first-k chars) to
    the block key."""
    sel = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__s"),
        F.length(text_col).alias("__len"),
        *block_cols,
    )
    a = sel.alias("a")
    b = sel.alias("b")
    block_eq = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols]
    cond = block_eq[0]
    for c in block_eq[1:]:
        cond = cond & c
    cond = (
        cond
        & (F.col("a.__id") < F.col("b.__id"))
        & (F.abs(F.col("a.__len") - F.col("b.__len")) <= max_distance)
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.levenshtein(F.col("a.__s"), F.col("b.__s")).alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )


def analyze(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text profile: token counts, quality, language, fingerprint."""
    return df.withColumns(
        {
            "n_tokens": token_count(text_col),
            "n_tokens_bpe": token_count_bpe(text_col),
            "stopword_ratio_en": F.round(stopword_ratio(text_col, "en"), 6),
            "quality": quality_score(text_col),
            "lang_pred": lang_id(text_col),
            "fingerprint": fingerprint(text_col),
        }
    )


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
    keep_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """The published Gopher quality-rule set (Rae et al. 2021, table A1)
    as per-document flags + a combined keep decision — the standard
    pre-filter stage of an LLM data pipeline, each rule exposed
    individually so curation can audit WHY a document was dropped.

    Per doc: n_words, mean_word_len, symbol_ratio (# and ... per word),
    bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
    n_stopword_hits, one ok_* flag per rule, and keep = AND of flags.

    Everything is a pure string/array expression (zero shuffle, zero
    Python): mean word length uses length(regexp_replace(text,'\\s',''))
    — exactly the sum of token lengths — instead of an interpreted
    aggregate lambda over the token array. All ratios divide exact
    integers, so flags are engine-exact (no FP drift possible).

    Stateless, so it works unchanged on a STREAMING DataFrame —
    `keep_cols` carries extra input columns (text, event time) through
    for downstream stages of a streaming ingest pipeline."""
    t = F.col(text_col)
    toks = tokens(t, lowercase=False)
    n_words = F.size(toks)
    nw = n_words.cast("double")
    word_chars = F.length(F.regexp_replace(t, r"\s+", ""))
    mean_wl = F.when(n_words > 0, word_chars / nw).otherwise(F.lit(0.0))
    n_hash = F.length(t) - F.length(F.expr(f"replace({text_col}, '#', '')"))
    n_ellipsis = (
        F.length(t) - F.length(F.expr(f"replace({text_col}, '...', '')"))
    ) / F.lit(3)
    symbol_ratio = F.when(n_words > 0, (n_hash + n_ellipsis) / nw).otherwise(F.lit(0.0))
    lines = F.split(t, "\n")
    n_lines = F.size(lines).cast("double")
    bullet_frac = F.size(
        F.filter(
            lines,
            lambda l: F.startswith(F.ltrim(l), F.lit("-"))
            | F.startswith(F.ltrim(l), F.lit("*"))
            | F.startswith(F.ltrim(l), F.lit("•")),
        )
    ) / n_lines
    ellipsis_frac = F.size(
        F.filter(
            lines,
            lambda l: F.endswith(F.rtrim(l), F.lit("..."))
            | F.endswith(F.rtrim(l), F.lit("…")),
        )
    ) / n_lines
    alpha_frac = F.when(
        n_words > 0,
        F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))) / nw,
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(tokens(t)),
            F.array(*[F.lit(w) for w in STOPWORDS["en"]]),
        )
    )
    flags = {
        "ok_words": (n_words >= min_words) & (n_words <= max_words),
        "ok_mean_word_len": (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len),
        "ok_symbol_ratio": symbol_ratio < max_symbol_ratio,
        "ok_bullet_lines": bullet_frac < max_bullet_line_frac,
        "ok_ellipsis_lines": ellipsis_frac < max_ellipsis_line_frac,
        "ok_alpha_words": alpha_frac > min_alpha_word_frac,
        "ok_stopwords": stop_hits >= min_stopwords,
    }
    keep = None
    for f in flags.values():
        keep = f if keep is None else (keep & f)
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(bullet_frac, 6).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.cast("bigint").alias("n_stopword_hits"),
        *[c.cast("int").alias(n) for n, c in flags.items()],
        keep.cast("int").alias("keep"),
    )


def word_ngrams(c: ColumnLike, n: int = 5) -> Column:
    """Positional word n-grams (array<string>; element i covers token
    positions i..i+n-1). Unlike `shingles` there is no short-doc
    fallback and no dedup — position identity is the point (span-level
    dedup, decontamination). Docs with fewer than n tokens yield [].

    NOTE: transform/slice higher-order functions are interpreted
    per-row — fine for expression composition, but the hot-path row
    generator for corpus-scale span ops is `_ngram_rows` (posexplode +
    lead, stays in codegen; same 4x gap shingle_rows measured)."""
    toks = tokens(c)
    cnt = F.size(toks)
    return F.when(
        cnt >= n,
        F.transform(
            F.sequence(F.lit(1), cnt - n + 1),
            lambda p: F.array_join(F.slice(toks, p, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _ngram_rows(
    df: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(__id, __g) rows, one per full word-n-gram occurrence, built via
    posexplode + n-1 lead() calls so assembly stays in whole-stage
    codegen (dedup.shingle_rows' technique — the interpreted
    transform/slice path measured ~4x slower at sf0.1). Trailing
    positions (fewer than n tokens left) are dropped."""
    from pyspark.sql.window import Window as W

    tok_rows = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(tokens(F.col(text_col))).alias("__pos", "__tok"),
    )
    w = W.partitionBy("__id").orderBy("__pos")
    parts = [F.col("__tok")] + [F.lead("__tok", i).over(w) for i in range(1, n)]
    return tok_rows.select(
        "__id",
        F.when(parts[-1].isNotNull(), F.concat_ws(" ", *parts)).alias("__g"),
    ).filter(F.col("__g").isNotNull())


def decontaminate(
    df: DataFrame,
    bench_df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share any
    word n-gram with an evaluation/benchmark set (the standard guard
    against test-set leakage into training data; n=13 in the published
    recipes, smaller here to suit the synthetic corpus).

    Output per corpus doc: `hit_ngrams` (distinct benchmark n-grams
    present), `hit_positions` (total occurrences), `contaminated` (0/1).

    Scale shape: the benchmark side is always tiny relative to the
    corpus — its distinct n-grams are broadcast, so the corpus pays one
    explode + a broadcast hash join + a map-side-combinable aggregate.
    No shuffle of corpus n-grams, no all-pairs anything."""
    bench_grams = _ngram_rows(bench_df, n, text_col, id_col).select("__g").distinct()
    doc_grams = _ngram_rows(df, n, text_col, id_col)
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "__g")
        .groupBy("__id")
        .agg(
            F.count_distinct("__g").alias("hit_ngrams"),
            F.count(F.lit(1)).alias("hit_positions"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(hits.withColumnRenamed("__id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("hit_ngrams", F.lit(0)).cast("bigint").alias("hit_ngrams"),
            F.coalesce("hit_positions", F.lit(0)).cast("bigint").alias(
                "hit_positions"
            ),
            (F.coalesce("hit_ngrams", F.lit(0)) > 0).cast("int").alias(
                "contaminated"
            ),
        )
    )


def dup_span_ratio(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicated-span signal (the scalable stand-in for
    suffix-array exact-substring dedup a la Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): a span = a word
    n-gram occurrence; a span is duplicated when its n-gram occurs in
    >= 2 distinct documents. Output per doc: `n_spans`, `dup_spans`,
    `dup_ratio` — the curation gate drops or trims high-ratio docs.

    Scale shape: one explode, one hash aggregate keyed on the n-gram
    (shuffle width O(distinct n-grams), the same width any inverted
    index pays), one join back on that key, one per-doc aggregate. The
    suffix-array construction this approximates is NOT distributable;
    this is."""
    grams = _ngram_rows(df, n, text_col, id_col)
    gstats = grams.groupBy("__g").agg(F.count_distinct("__id").alias("__dd"))
    per = (
        grams.join(gstats, "__g")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("__dd") > 1).cast("bigint")).alias("dup_spans"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per.withColumnRenamed("__id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("dup_spans", F.lit(0)).cast("bigint").alias("dup_spans"),
            F.coalesce(
                F.round(F.col("dup_spans") / F.col("n_spans").cast("double"), 6),
                F.lit(0.0),
            ).alias("dup_ratio"),
        )
    )


def apply_mixture(
    df: DataFrame,
    targets: "dict[str, float]",
    domain_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXECUTE the mixture_weights plan: deterministic fractional
    replication. A doc in a domain with sampling rate r contributes
    floor(r) guaranteed epoch copies plus one extra copy iff its key
    hash (md5, engine-portable — same scheme as sampling.py) falls
    under frac(r). Expected copies per doc = r exactly, so each
    domain's expected token mass lands on target_share * total; the
    same doc gets the same copies in every run, engine, and partition
    layout. Output: (id, domain, epoch) — join back on id to
    materialize the actual training mix.

    Scale shape: the O(domains) plan broadcasts onto the corpus scan;
    the only per-row work is one md5 + an explode of at most ceil(r)
    epoch indices. No shuffle beyond the plan aggregate itself."""
    plan = mixture_weights(df, targets, domain_col, text_col).select(
        domain_col, "sample_rate"
    )
    hash_frac = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit("epoch"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(16**8))
    )
    base = F.floor("sample_rate")
    copies = (
        base + (hash_frac < (F.col("sample_rate") - base)).cast("bigint")
    ).cast("int")
    return (
        df.join(F.broadcast(plan), domain_col)
        .withColumn("__copies", copies)
        .select(
            F.col(id_col),
            F.col(domain_col),
            F.explode(
                F.when(
                    F.col("__copies") >= 1,
                    F.sequence(F.lit(1), F.col("__copies")),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("epoch"),
        )
    )


def dup_span_intervals(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The actionable form of dup_span_ratio: MERGED token intervals
    [span_start, span_end] (0-based, inclusive) covering every word
    n-gram occurrence whose n-gram appears in >= 2 distinct docs — the
    spans an exact-substring dedup pipeline cuts out of the text
    (Lee et al. 2022 remove such spans rather than whole docs). Two
    overlapping/adjacent duplicated windows merge into one interval
    (classic gaps-and-islands: a new island starts when the next
    duplicated position is > n tokens after the previous one).

    Output: (id, span_start, span_end, span_tokens, span_grams).
    Scale shape: the same n-gram df aggregate as dup_span_ratio plus
    one per-doc window over duplicated POSITIONS only (a small subset),
    never over the corpus."""
    from pyspark.sql.window import Window as W

    tok_rows = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(tokens(F.col(text_col))).alias("__pos", "__tok"),
    )
    w = W.partitionBy("__id").orderBy("__pos")
    parts = [F.col("__tok")] + [F.lead("__tok", i).over(w) for i in range(1, n)]
    grams = tok_rows.select(
        "__id",
        "__pos",
        F.when(parts[-1].isNotNull(), F.concat_ws(" ", *parts)).alias("__g"),
    ).filter(F.col("__g").isNotNull())
    dup_grams = (
        grams.groupBy("__g")
        .agg(F.count_distinct("__id").alias("__dd"))
        .filter(F.col("__dd") > 1)
        .select("__g")
    )
    dups = grams.join(dup_grams, "__g").select("__id", "__pos")
    w2 = W.partitionBy("__id").orderBy("__pos")
    new_island = F.when(
        F.col("__pos") - F.lag("__pos").over(w2) > n, F.lit(1)
    ).otherwise(F.lit(0))
    first = F.when(F.lag("__pos").over(w2).isNull(), F.lit(1)).otherwise(new_island)
    islands = dups.withColumn(
        "__isl",
        F.sum(first).over(w2.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        islands.groupBy("__id", "__isl")
        .agg(
            F.min("__pos").alias("span_start"),
            (F.max("__pos") + F.lit(n - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("span_grams"),
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("span_start").cast("bigint").alias("span_start"),
            F.col("span_end").cast("bigint").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("bigint")
            .alias("span_tokens"),
            F.col("span_grams").cast("bigint").alias("span_grams"),
        )
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-self-trained unigram LM negative log-likelihood per doc
    (the distributable skeleton of CCNet's KenLM-perplexity quality
    bucket): p(tok) = corpus_freq(tok) / total_tokens, and each doc
    scores avg over its tokens of -log2 p. Low = stereotypical text,
    high = rare-token-heavy (garbage or genuinely novel) — curation
    buckets on this score.

    Scale shape: one explode; the unigram table is a hash aggregate
    keyed on the token (vocabulary-width shuffle); the total is a
    1-row broadcast; scoring is a token-keyed join + per-doc average.
    Two passes over tokens, zero driver state."""
    tok_rows = df.select(
        F.col(id_col).alias("__id"), F.explode(tokens(F.col(text_col))).alias("__tok")
    )
    freq = tok_rows.groupBy("__tok").agg(F.count(F.lit(1)).alias("__c"))
    total = freq.agg(F.sum("__c").cast("double").alias("__T"))
    nll = F.log2(F.col("__T")) - F.log2(F.col("__c").cast("double"))
    return (
        tok_rows.join(freq, "__tok")
        .crossJoin(F.broadcast(total))
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(nll), 6).alias("avg_nll"),
        )
        .withColumnRenamed("__id", id_col)
    )


def mixture_weights(
    df: DataFrame,
    targets: "dict[str, float]",
    domain_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Domain-mixture sampling plan: given a target weight per domain,
    compute the per-domain sampling rate that re-shapes the corpus to
    the target mixture at constant total token budget (the DoReMi /
    The-Pile-style mixture step). Per domain:

        n_docs, n_tokens       — corpus stats
        actual_share           — n_tokens / total
        target_share           — weight / sum(weights)
        sample_rate            — target_share * total / n_tokens
                                 (>1 means the domain repeats: epochs)
        epochs                 — ceil(sample_rate)
        rate_within_epoch      — sample_rate / epochs (per-epoch keep
                                 probability for deterministic_sample)

    Scale shape: one per-domain aggregate (domains are few), the target
    table and the 1-row total both broadcast. Output is O(domains) —
    it feeds deterministic_sample / token_budget_select downstream."""
    spark = df.sparkSession
    wsum = float(sum(targets.values()))
    # literal map exploded from range(1): a pure-JVM LocalRelation —
    # createDataFrame(list) routes through a Python RDD scan, which
    # measured ~2s of cold Python-worker cost inside the query's timing
    pairs: list[Column] = []
    for k, v in sorted(targets.items()):
        pairs.extend((F.lit(k), F.lit(float(v) / wsum)))
    tgt = (
        spark.range(1)
        .select(F.explode(F.create_map(*pairs)).alias(domain_col, "target_share"))
    )
    stats = df.groupBy(domain_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col(text_col))).cast("double").alias("__tok"),
    )
    total = stats.agg(F.sum("__tok").alias("__T"))
    rate = F.col("target_share") * F.col("__T") / F.col("__tok")
    epochs = F.ceil(rate).cast("bigint")
    return (
        stats.join(F.broadcast(tgt), domain_col)
        .crossJoin(F.broadcast(total))
        .select(
            domain_col,
            "n_docs",
            F.col("__tok").cast("bigint").alias("n_tokens"),
            F.round(F.col("__tok") / F.col("__T"), 6).alias("actual_share"),
            F.round("target_share", 6).alias("target_share"),
            F.round(rate, 6).alias("sample_rate"),
            epochs.alias("epochs"),
            F.round(rate / epochs.cast("double"), 6).alias("rate_within_epoch"),
        )
    )


def char_entropy(c: ColumnLike, round_to: int = 6) -> Column:
    """Character-level Shannon entropy (nats) of a string — a cheap,
    language-agnostic quality signal: machine-generated or boilerplate
    text (repeated padding, base64 blobs, single-char floods) sits at
    the extremes while natural prose clusters mid-range.

    Row-local (no shuffle): one array_sort, then a SINGLE O(len) fold
    over the sorted chars accumulating run lengths — each run flushes
    its p·ln(p) term in sorted-char order, so the floating-point
    summation order is fixed and identical to the naive
    sorted-distinct formulation in any engine (the DuckDB oracle keeps
    the O(len·distinct) form; values hash-match). Higher-order folds
    are interpreted per element, which is why the pass count matters:
    this replaces an O(len·distinct) scan (~60× the lambda
    evaluations) measured 5.9 s → sub-second on the sf0.1 corpus.
    Empty/NULL → 0.0."""
    col = _col(c)
    # sort_array, not array_sort: the latter plans with an interpreted
    # per-comparison lambda comparator; SortArray is native codegen
    sc = F.sort_array(F.split(col, ""))
    n = F.length(col).cast("double")

    def p_lnp(cnt):
        return (cnt / n) * F.log(cnt / n)

    def step(acc, x):
        cnt = acc["cnt"].cast("double")
        return F.when(
            acc["cnt"] == 0,  # first element of the string
            F.struct(x.alias("prev"), F.lit(1).cast("long").alias("cnt"),
                     F.lit(0.0).alias("s")),
        ).when(
            x == acc["prev"],  # run continues
            F.struct(x.alias("prev"), (acc["cnt"] + 1).alias("cnt"),
                     acc["s"].alias("s")),
        ).otherwise(  # run boundary: flush p*ln(p) of the closed run
            F.struct(x.alias("prev"), F.lit(1).cast("long").alias("cnt"),
                     (acc["s"] + p_lnp(cnt)).alias("s"))
        )

    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("cnt"),
        F.lit(0.0).alias("s"),
    )
    ent = -F.aggregate(
        sc,
        zero,
        step,
        lambda acc: acc["s"]
        + F.when(acc["cnt"] > 0, p_lnp(acc["cnt"].cast("double"))).otherwise(
            F.lit(0.0)
        ),
    )
    return F.round(F.coalesce(F.when(n > 0, ent), F.lit(0.0)), round_to)


def kn_bigram_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
    round_to: int = 6,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram negative log-likelihood per
    document — the next rung above `unigram_logprob` on the CCNet-style
    quality ladder (Kneser & Ney 1995; Chen & Goodman 1998 eq. 4.25
    with a single fixed discount):

        P(w2|w1) = max(c(w1w2) - d, 0) / c(w1·)
                   + (d · N1+(w1·) / c(w1·)) · (N1+(·w2) / T)

    where c(w1·) = Σ_w2 c(w1w2) (bigram-based left-context mass),
    N1+(w1·) = distinct continuations of w1, N1+(·w2) = distinct left
    contexts of w2 (the continuation count that makes KN famous), and
    T = distinct bigram types. Trained on the scored corpus itself, so
    every bigram token has c(w1w2) >= 1 and the probability is always
    positive — no OOV branch is needed.

    kn_nll = mean per bigram position of -ln P. Per-position NLL is
    rounded to integer NANOS before the per-doc sum (order-independent,
    engine-exact — the repo-wide integer-unit discipline), and the
    expression tree mirrors the DuckDB oracle operation for operation
    so the doubles agree bit-for-bit pre-round.

    Scale shape: one explode + per-doc window builds bigram positions;
    all four count tables are map-side-combinable hash aggregates keyed
    on words/bigrams; everything re-attaches by word-key equi-joins.
    T is a 1-row aggregate broadcast via crossJoin. No driver state,
    nothing all-pairs.
    """
    from pyspark.sql.window import Window as W

    tok_rows = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode_outer(tokens(F.col(text_col))).alias("__pos", "__tok"),
    )
    w = W.partitionBy("__id").orderBy("__pos")
    nxt = F.lead("__tok", 1).over(w)
    # bgr (corpus explode + per-doc window) feeds the bigram counts AND
    # the scored join; c12 feeds FOUR consumers (left-context mass,
    # continuation counts, the type total, the scored join) —
    # materialize each once (guide §6)
    bgr = tok_rows.select(
        "__id", F.col("__tok").alias("__w1"), nxt.alias("__w2")
    ).filter(F.col("__w2").isNotNull()).transform(materialize, eager=False)

    c12 = materialize(
        bgr.groupBy("__w1", "__w2").agg(F.count(F.lit(1)).alias("__c12")), eager=False
    )
    c1 = c12.groupBy("__w1").agg(
        F.sum("__c12").alias("__c1"),
        F.count(F.lit(1)).alias("__nfollow"),
    )
    ncont = c12.groupBy("__w2").agg(F.count(F.lit(1)).alias("__ncont"))
    t_types = c12.select(F.count(F.lit(1)).alias("__t"))

    d = F.lit(float(discount))
    scored = (
        bgr.join(c12, ["__w1", "__w2"])
        .join(c1, "__w1")
        .join(ncont, "__w2")
        .crossJoin(F.broadcast(t_types))
    )
    p = (
        F.greatest(F.col("__c12") - d, F.lit(0.0)) / F.col("__c1")
    ) + ((d * F.col("__nfollow") / F.col("__c1")) * (F.col("__ncont") / F.col("__t")))
    nano = F.round(-F.log(p) * F.lit(1e9)).cast("long")
    per_doc = scored.select("__id", nano.alias("__nano")).groupBy("__id").agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__nano").alias("__s")
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("__id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("__n", F.lit(0)).cast("bigint").alias("n_bigram_tokens"),
            F.coalesce(
                F.round(
                    (F.col("__s").cast("double") / F.col("__n")) / F.lit(1e9),
                    round_to,
                ),
                F.lit(0.0),
            ).alias("kn_nll"),
        )
    )


def cooccur_pmi(
    df: DataFrame,
    text_col: str = "text",
    window: int = 3,
    min_count: int = 5,
    top_k: int = 100,
    round_to: int = 6,
) -> DataFrame:
    """Collocation mining: directional token co-occurrence within a
    `window`-token span, scored by pointwise mutual information

        pmi(a, b) = ln( (c_ab * N * N) / (T * c_a * c_b) )

    where c_ab counts ordered pairs (a before b, gap <= window), c_a/c_b
    are unigram counts, N total tokens, T total pairs — all EXACT
    integers; the ratio is evaluated in doubles with a FIXED
    parenthesization ((c_ab*N)*N) / ((T*c_a)*c_b) mirrored verbatim by
    the oracle (BIGINT products would overflow at corpus scale; two
    identical double expressions + one ln are still bit-identical
    across engines per the repo's ln-portability note).
    Returns the top_k pairs by (pmi DESC, a, b) with c_ab >= min_count
    — the classic phrase/collocation detector for corpus curation.

    Scale shape: pair generation is per-row array zips (slice+zip_with,
    one row per (doc, offset, gap) — linear in tokens × window, never a
    positions self-join); counts are three map-side-combinable hash
    aggregates; the two scalar totals broadcast onto the top-k, which
    is a TakeOrderedAndProject, not a global sort."""
    toks = tokens(F.col(text_col))
    pair_arrays = [
        F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - k, F.lit(0))),
            F.slice(toks, 1 + k, F.greatest(F.size(toks) - k, F.lit(0))),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        )
        for k in range(1, window + 1)
    ]
    pairs = df.select(
        F.explode(F.flatten(F.array(*pair_arrays))).alias("p")
    ).select("p.a", "p.b")
    # cab feeds the pair total AND the scored join; uni feeds the token
    # total AND both unigram joins — materialize each once so the
    # corpus explode + shuffle doesn't execute per consumer (guide §6)
    cab = materialize(pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab")), eager=False)
    uni = materialize(
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w")),
        eager=False,
    )
    totals = cab.agg(F.sum("c_ab").alias("__T")).crossJoin(
        uni.agg(F.sum("c_w").alias("__N"))
    )
    scored = (
        cab.where(F.col("c_ab") >= min_count)
        .join(uni.select(F.col("w").alias("a"), F.col("c_w").alias("c_a")), "a")
        .join(uni.select(F.col("w").alias("b"), F.col("c_w").alias("c_b")), "b")
        .crossJoin(F.broadcast(totals))
        .select(
            "a",
            "b",
            "c_ab",
            F.round(
                F.log(
                    (
                        F.col("c_ab").cast("double")
                        * F.col("__N").cast("double")
                        * F.col("__N").cast("double")
                    )
                    / (
                        F.col("__T").cast("double")
                        * F.col("c_a").cast("double")
                        * F.col("c_b").cast("double")
                    )
                ),
                round_to,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("a"), F.asc("b")).limit(top_k)


def url_canonicalize(
    url: ColumnLike,
    drop_params: "tuple[str, ...]" = ("utm_", "fbclid", "gclid", "ref_"),
) -> Column:
    """Canonical URL for crawl dedup — the highest-leverage exact-dedup
    key a web corpus has (the same page arrives under dozens of
    tracking-parameter / case / default-port variants). Pure JVM string
    expressions, no UDF:

      - scheme and host lowercased (path/query case is significant and
        preserved);
      - default port stripped (:80 for http, :443 for https; any other
        port kept);
      - fragment dropped;
      - tracking parameters dropped (prefix match on `drop_params`),
        remaining query params SORTED so param order stops mattering;
      - trailing path slashes collapsed ('' and '/' both normalize
        to '/').

    Inputs must carry an explicit scheme ('<scheme>://...'); anything
    else passes through with only whitespace trimmed — a quarantine
    filter upstream (q_csv_ingest pattern) is the place to catch junk,
    not a silent rewrite here."""
    import functools

    s = F.trim(_col(url))
    scheme = F.lower(F.regexp_extract(s, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    rest = F.regexp_replace(s, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    nofrag = F.split(rest, "#", 2).getItem(0)
    hostport = F.regexp_extract(nofrag, r"^([^/?]*)", 1)
    pathquery = F.substring(nofrag, F.length(hostport) + 1, F.lit(1 << 30))
    path = F.regexp_extract(pathquery, r"^([^?]*)", 1)
    query = F.substring(pathquery, F.length(path) + 2, F.lit(1 << 30))
    host = F.lower(hostport)
    host = (
        F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .otherwise(host)
    )
    path = F.regexp_replace(path, "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    keep = F.filter(
        F.split(query, "&"),
        lambda x: (x != "")
        & ~functools.reduce(
            lambda a, b: a | b, [x.startswith(p) for p in drop_params]
        ),
    )
    q = F.array_join(F.array_sort(keep), "&")
    canonical = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    return F.when(scheme == "", s).otherwise(canonical)


def drop_boilerplate_lines(
    df: DataFrame,
    min_df: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level boilerplate removal (the CCNet / RefinedWeb
    paragraph-dedup step): a LINE that appears in `min_df` or more
    DISTINCT documents is boilerplate (nav bars, cookie banners,
    license footers) and is dropped from every document; document text
    is reassembled in original line order.

    Shape: explode lines → line-hash document-frequency (one hash
    aggregate over (line, doc) pairs) → broadcast-or-shuffle semi-join
    of the boilerplate set back onto the exploded lines → re-aggregate
    per document with an order-pinned array_sort — no window, no
    driver state; the boilerplate set is df-bounded and tiny relative
    to the corpus.

    Empty / whitespace-only lines are EXEMPT from the boilerplate set
    (CCNet-style pipelines exempt blank/short lines): a blank line
    trivially appears in >= min_df documents of any real corpus, and
    stripping it corpus-wide would collapse paragraph structure
    everywhere (r08 ADVICE fix).

    Returns (id, clean_text, n_kept, n_dropped)."""
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__idx", "__line"),
    )
    line_df = (
        lines.filter(F.trim(F.col("__line")) != "")
        .groupBy("__line")
        .agg(F.countDistinct("__id").alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("__line")
    )
    tagged = lines.join(
        F.broadcast(line_df.withColumn("__drop", F.lit(True))), "__line", "left"
    ).withColumn("__drop", F.coalesce(F.col("__drop"), F.lit(False)))
    out = tagged.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("__drop"),
                            F.struct(F.col("__idx"), F.col("__line")),
                        )
                    )
                ),
                lambda s: s.getField("__line"),
            ),
            "\n",
        ).alias("clean_text"),
        F.sum((~F.col("__drop")).cast("long")).alias("n_kept"),
        F.sum(F.col("__drop").cast("long")).alias("n_dropped"),
    )
    return out.select(
        F.col("__id").alias(id_col), "clean_text", "n_kept", "n_dropped"
    )


def phrase_positions(
    df: DataFrame,
    phrase: "list[str]",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase search via a POSITIONAL inverted index — the
    IR-textbook shape (Manning et al., IIR ch.2, public): tokenize
    with positions, keep only postings of the phrase's words, and
    chain (doc, pos+i) equi-joins so word i must sit exactly i tokens
    after word 0. Returns (id, pos) for every match start.

    Scale shape: the posting lists are FILTERED to the phrase's words
    before any join (the inverted-index read pattern — candidate
    volume is the phrase words' document frequency, never the corpus),
    and every join is an equi-join on (id, position). A w-word phrase
    costs w−1 joins; all shuffles are on the doc id."""
    if not phrase:
        raise ValueError("phrase must have at least one word")
    words = [w.lower() for w in phrase]
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    ).filter(F.col("tok").isin(*words))
    out = toks.filter(F.col("tok") == words[0]).select("id", "pos")
    for i, w in enumerate(words[1:], start=1):
        nxt = toks.filter(F.col("tok") == w).select(
            "id", (F.col("pos") - i).alias("pos")
        )
        out = out.join(nxt, ["id", "pos"])
    return out


def rake_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    max_phrase_len: int = 3,
    top_k: int = 20,
    min_count: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """Corpus-level keyword extraction, RAKE-style (Rose et al. 2010,
    public): candidate phrases are maximal runs of consecutive content
    tokens (a separator is a stopword of `lang` or any token carrying
    a non-[a-z0-9] character), capped at `max_phrase_len` words. Each
    WORD scores degree/frequency where degree = Σ length of phrases
    containing it and frequency = its phrase-slot occurrences; a
    PHRASE scores the sum of its word scores — high-degree words
    (those living in long phrases) pull their phrases up, the RAKE
    signal.

    Returns the corpus' top_k phrases by (score desc, phrase asc):
    (phrase, n_phrase, score, rank). Engine-exactness: run boundaries
    come from a running separator count (a per-document window — never
    global), word stats are exact integers, the word score is one
    division rounded to 9 dp, and the phrase score sums those in
    fixed point (integer nanos) — portable to the SQL oracle with no
    regex lookahead (RE2 engines lack it).

    Scale shape: one tokenize+posexplode projection, one per-doc
    running window, three hash aggregates (runs, word stats, phrase
    stats) — all shuffles on doc/word/phrase keys. The global top_k is
    orderBy+limit (TakeOrderedAndProject — per-partition heaps, never
    a global sort); distinct phrases are DATA-sized at corpus scale,
    so a global rank window over them would be the single-task cliff.
    Only the rank LABELS come from a window, over the already-LIMITed
    <= top_k rows (constant input, whitelisted)."""
    stops = STOPWORDS[lang]
    tk = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(tokens(F.col(text_col))).alias("__pos", "__tok"),
    )
    is_sep = F.col("__tok").isin(*stops) | F.col("__tok").rlike("[^a-z0-9]")
    w_run = Window.partitionBy("__id").orderBy(F.col("__pos").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    runs = tk.select(
        "__id", "__pos", "__tok", is_sep.alias("__sep"),
        F.sum(is_sep.cast("int")).over(w_run).alias("__run"),
    ).filter(~F.col("__sep"))
    phrases = (
        runs.groupBy("__id", "__run")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                    lambda x: x["__tok"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("__len"),
        )
        .filter(F.col("__len") <= max_phrase_len)
        .select("phrase", "__len")
    )
    pw = phrases.select(
        "phrase", "__len", F.explode(F.split(F.col("phrase"), " ")).alias("word")
    )
    word_stats = pw.groupBy("word").agg(
        F.count(F.lit(1)).alias("__freq"), F.sum("__len").alias("__deg")
    ).select(
        "word",
        F.round(
            F.col("__deg").cast("double") / F.col("__freq").cast("double"), 9
        ).alias("__wscore"),
    )
    per_phrase = (
        pw.join(word_stats, "word")
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("__n_slots"),
            # round-then-cast: the bare cast TRUNCATES while DuckDB's
            # CAST(double AS BIGINT) rounds, and ~1.8% of round(deg/freq,9)
            # values land just below the integer in double (r10 advice)
            F.sum(F.round(F.col("__wscore") * 1e9).cast("long")).alias("__snano"),
        )
        .withColumn("__plen", F.size(F.split(F.col("phrase"), " ")))
        .withColumn(
            "n_phrase", (F.col("__n_slots") / F.col("__plen")).cast("long")
        )
    )
    ranked = per_phrase.filter(F.col("n_phrase") >= min_count).select(
        "phrase", "n_phrase",
        F.round(
            F.col("__snano").cast("double") / F.col("n_phrase").cast("double") / 1e9,
            round_to,
        ).alias("score"),
    )
    top = ranked.orderBy(F.col("score").desc(), F.col("phrase").asc()).limit(top_k)
    w = Window.orderBy(F.col("score").desc(), F.col("phrase").asc())
    return top.withColumn("rank", F.row_number().over(w))


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
    skip_top: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Zipf's-law fit of the corpus token distribution (Zipf 1949,
    public): the least-squares slope of ln(freq) vs ln(rank) over the
    top `top_n` token ranks (the `skip_top` head ranks excluded — the
    Zipf head is known to deviate, Piantadosi 2014). Natural corpora
    sit near slope −1; strong deviation flags boilerplate floods,
    dedup failures, or synthetic text — the corpus-health twin of
    vocab_growth's Heaps-law readout.

    Returns one row: (n_tokens, n_types, slope, intercept) with the
    exact token/type counts alongside the fit.

    Engine-exactness: counts are exact; ranking ties break by token;
    per-rank (x, y, xy, x²) terms are nano-rounded and summed exactly;
    the closed-form slope/intercept are fixed-order divisions. The
    ONLY window runs over the already-LIMITed top_n rows (TakeOrdered
    picks them distributed — the global token table is data-sized).

    Shape: one tokenize+explode scan, one (token) hash aggregate, one
    TakeOrderedAndProject, then constant-size arithmetic."""
    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    totals = counts.agg(
        F.sum("freq").alias("n_tokens"), F.count(F.lit(1)).alias("n_types")
    )
    top = counts.orderBy(F.col("freq").desc(), F.col("tok").asc()).limit(top_n)
    w = Window.orderBy(F.col("freq").desc(), F.col("tok").asc())
    ranked = top.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") > skip_top
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    nano = lambda c: F.round(c * 1e9).cast("long")  # noqa: E731
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(nano(x)).alias("sx"),
        F.sum(nano(y)).alias("sy"),
        F.sum(nano(x * y)).alias("sxy"),
        F.sum(nano(x * x)).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double") / 1e9
    sy = F.col("sy").cast("double") / 1e9
    sxy = F.col("sxy").cast("double") / 1e9
    sxx = F.col("sxx").cast("double") / 1e9
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    intercept = (sy - slope * sx) / nd
    fit = s.select(
        F.round(slope, round_to).alias("slope"),
        F.round(intercept, round_to).alias("intercept"),
    )
    return totals.crossJoin(F.broadcast(fit))


def skipgram_negatives(
    docs: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Skip-gram training pairs (window ±1) with k DETERMINISTIC
    negatives per pair — the word2vec data-prep step (Mikolov et al.
    2013, public) with the RNG replaced by the repo's portable-hash
    discipline: negative j for pair (c, x) is the vocab entry at index

        conv(md5(c · 0x1f · x · 0x1f · j)[:15], 16, 10)  mod  V

    over the frequency-ranked vocab (count desc, token asc — ties
    total-ordered). Deterministic across engines and runs, so the
    sampled dataset is reproducible — the property a 100 TB training
    run actually needs from "random" negatives. (True unigram^0.75
    sampling weights the index draw; uniform-over-vocab is the
    oracle-exact baseline and the weighting is a vocab-table change,
    not a plumbing change.)

    Scale shape: pairs from one partitioned lead window per doc;
    vocab indexed by ids.dense_ids (distributed rank — no global
    window over the vocab); the negative lookup is one equi-join on
    the vocab index, broadcast-sized when the vocab is. Output:
    (center, context, j, negative)."""
    from pyspark.sql.window import Window as W

    from table_computing_spark.operators.ids import dense_ids

    toks = docs.select(
        F.col(doc_col).alias("__doc"),
        F.posexplode(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"))
        .alias("__pos", "__tok"),
    ).filter(F.col("__tok") != "")
    w = W.partitionBy("__doc").orderBy("__pos")
    fwd = toks.select(
        F.col("__tok").alias("center"),
        F.lead("__tok").over(w).alias("context"),
    ).filter(F.col("context").isNotNull())
    pairs = fwd.union(
        fwd.select(F.col("context").alias("center"), F.col("center").alias("context"))
    )
    vocab = toks.groupBy(F.col("__tok").alias("__v")).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    indexed = dense_ids(
        vocab, [F.col("__cnt").desc(), F.col("__v").asc()], id_col="__idx"
    )
    v_count = indexed.count()
    js = pairs.select(
        "center", "context",
        F.explode(F.array(*[F.lit(i + 1) for i in range(k)])).alias("j"),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("\x1f", F.col("center"), F.col("context"),
                              F.col("j").cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    js = js.withColumn("__idx", h % F.lit(int(v_count)))
    # no broadcast hint: natural-language vocabs usually fit one
    # executor, but a 100 TB token vocab may not — let AQE pick
    return js.join(
        indexed.select("__idx", F.col("__v").alias("negative")), "__idx"
    ).select("center", "context", "j", "negative")


def flesch_readability(
    df: DataFrame,
    id_col: str,
    text_col: str,
    round_to: int = 4,
) -> DataFrame:
    """Flesch reading-ease per document (Flesch 1948, public) with the
    standard cheap heuristics — a quality-scoring signal next to
    gopher_rules / char_entropy (very low or absurdly high scores flag
    boilerplate, tables, OCR noise):

        flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)

    Heuristics (documented, engine-portable — every count is a regex
    split on both engines, no per-row Python):
      words      = repo-standard lowercase [^a-z0-9]+ split, non-empty
      sentences  = runs of sentence terminators [.!?]+, floored at 1
      syllables  = vowel-group runs [aeiouy]+ in the lowercased text,
                   floored at the word count (≥1 syllable per word)

    Exact integer counts; the formula is one fixed-order double
    expression, rounded once. Documents with zero words report NULL.
    Output: (id, n_words, n_sentences, n_syllables, flesch)."""
    low = F.lower(F.col(text_col))
    words = F.size(
        F.filter(F.split(low, r"[^a-z0-9]+"), lambda x: x != "")
    ).cast("long")
    sent_runs = (F.size(F.split(F.col(text_col), r"[.!?]+")) - 1).cast("long")
    vowel_runs = (F.size(F.split(low, r"[aeiouy]+")) - 1).cast("long")
    base = df.select(
        F.col(id_col).alias("id"),
        words.alias("n_words"),
        F.greatest(F.lit(1).cast("long"), sent_runs).alias("n_sentences"),
        vowel_runs.alias("__vr"),
    )
    syl = F.greatest(F.col("__vr"), F.col("n_words"))
    wd = F.col("n_words").cast("double")
    flesch = F.when(
        F.col("n_words") > 0,
        F.lit(206.835)
        - F.lit(1.015) * (wd / F.col("n_sentences").cast("double"))
        - F.lit(84.6) * (syl.cast("double") / wd),
    )
    return base.select(
        "id",
        "n_words",
        "n_sentences",
        syl.alias("n_syllables"),
        F.round(flesch, round_to).alias("flesch"),
    )


def dirichlet_lm_topk(
    df: DataFrame,
    query_terms: "Sequence[str]",
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    mu: float = 2000.0,
) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty 2001, public) — the language-modeling complement of
    bm25_topk (the other classical lexical ranker; they disagree most
    on short vs long documents, which is exactly why an evaluation
    stack wants both):

        score(d, q) = Σ_t ln( (tf_td + μ·p_c(t)) / (dl_d + μ) )
        p_c(t)      = cf_t / total_corpus_tokens

    Every document gets a defined score (smoothing covers tf = 0), so
    the ranking is total — unlike BM25 a doc matching no term still
    scores Σ ln(μ·p_c(t)) − |q|·ln(dl+μ) and ranks by length.

    FP determinism (the bm25_topk rule): the per-doc score is one
    conditional aggregate PER TERM in FIXED term order — never a
    data-ordered float SUM. Collection stats (cf_t, total tokens) are
    |query|+1 driver scalars — the same bounded pull as BM25's df.
    Unknown terms (cf = 0) are skipped with their count reported by
    the caller's term list vs the returned `n_terms_scored` constant
    column (a p_c of zero would be −inf for every document — the
    standard convention is to drop OOV terms). Top-k ties break by id.
    Scale shape: one token explode, (doc, term) hash agg pre-filtered
    to the query terms, corpus length agg, TakeOrderedAndProject."""
    import math

    terms = list(dict.fromkeys(query_terms))
    tok = df.select(
        F.col(id_col).alias("__id"), F.explode(tokens(F.col(text_col))).alias("__t")
    )
    dl = tok.groupBy("__id").agg(F.count(F.lit(1)).alias("__dl"))
    totals = tok.agg(F.count(F.lit(1)).alias("__n")).collect()[0]
    n_tokens = int(totals["__n"])
    cf = {
        r["__t"]: int(r["__cf"])
        for r in tok.filter(F.col("__t").isin(*terms))
        .groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__cf"))
        .collect()
    }  # |query| scalars — the bm25 bounded-pull discipline
    scored_terms = [t for t in terms if cf.get(t, 0) > 0]
    tf = (
        tok.filter(F.col("__t").isin(*scored_terms))
        .groupBy("__id", "__t")
        .agg(F.count(F.lit(1)).alias("__tf"))
    ) if scored_terms else None
    base = dl if tf is None else dl.join(tf, "__id", "left")
    score = None
    for t in scored_terms:
        p_c = cf[t] / n_tokens
        tf_t = F.coalesce(
            F.sum(F.when(F.col("__t") == t, F.col("__tf"))), F.lit(0)
        ).cast("double")
        s_t = F.log(
            (tf_t + F.lit(float(mu) * p_c))
            / (F.col("__dl").cast("double") + F.lit(float(mu)))
        )
        score = s_t if score is None else (score + s_t)
    if score is None:
        raise ValueError(
            "dirichlet_lm_topk: no query term occurs in the corpus — "
            "every score would be the empty sum; check the term list"
        )
    scored = base.groupBy("__id", "__dl").agg(score.alias("__score"))
    return (
        scored.orderBy(F.col("__score").desc(), F.col("__id"))
        .limit(k)
        .select(
            F.col("__id").alias(id_col),
            F.round("__score", 6).alias("score"),
            F.lit(len(scored_terms)).alias("n_terms_scored"),
        )
    )


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 2,
    iterations: int = 3,
    k: int = 20,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004, public):
    PageRank over the word co-occurrence graph — words that keep
    company with many well-connected words rank up. The
    graph-centrality alternative to rake_keywords (phrase statistics)
    and tf_idf_top_terms (frequency contrast); corpora where all three
    agree have stable vocabularies, which is itself a curation signal.

    Graph: DISTINCT undirected edges between tokens co-occurring
    within `window` positions in any document (Heaps-law-bounded:
    vocabulary-sized nodes, distinct-pair edges — never data-sized),
    built from per-document lead windows (the skipgram_negatives
    shape). Ranking is graph.pagerank_nano — integer-nano
    contributions, so the fixed iteration count unrolls into the exact
    SQL oracle (the q_pagerank discipline). Top-k words by (rank desc,
    word) via TakeOrderedAndProject. Output: (word, rank)."""
    from functools import reduce

    from pyspark.sql.window import Window as W

    from table_computing_spark.operators.graph import pagerank_nano

    tok = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(tokens(F.col(text_col))).alias("__pos", "__t"),
    )
    w = W.partitionBy("__id").orderBy("__pos")
    pair_frames = [
        tok.select(
            F.col("__t").alias("__a"), F.lead("__t", d).over(w).alias("__b")
        )
        for d in range(1, window + 1)
    ]
    pairs = (
        reduce(lambda a, b: a.unionByName(b), pair_frames)
        .filter(F.col("__b").isNotNull() & (F.col("__a") != F.col("__b")))
        .distinct()
    )
    edges = pairs.select(
        F.col("__a").alias("src"), F.col("__b").alias("dst")
    ).union(pairs.select(F.col("__b").alias("src"), F.col("__a").alias("dst")))
    # both directions of the same unordered pair can coincide when the
    # corpus contains (a,b) and (b,a) — dedupe to ONE edge per direction
    edges = edges.distinct()
    ranks = pagerank_nano(edges, iterations=iterations)
    return (
        ranks.orderBy(F.col("rank").desc(), F.col("node"))
        .limit(k)
        .select(F.col("node").alias("word"), "rank")
    )


def vocab_richness(df: DataFrame, text_col: str = "text",
                   round_to: int = 6) -> DataFrame:
    """Corpus vocabulary-richness estimators from the count-of-counts
    profile (all public classics): Chao1's lower bound on the TRUE
    vocabulary size (Chao 1984) and Good–Turing sample coverage
    (Good 1953) —

        chao1    = D + f1·(f1 − 1) / (2·(f2 + 1))   (bias-corrected)
        coverage = 1 − f1/N                          (Good–Turing)

    where D = observed distinct tokens, f1/f2 = tokens seen exactly
    once/twice, N = total tokens. The corpus-health readout next to
    zipf_fit/vocab_growth: a crawl whose chao1 keeps running far ahead
    of D is nowhere near lexically saturated (keep crawling); coverage
    is the probability the NEXT token is one you've already seen —
    the number a tokenizer-vocab decision needs.

    Exactness: two hash aggregates (token counts → count-of-counts),
    every statistic a fixed-order double expression on four exact
    integers. The bias-corrected chao1 is defined for f2 = 0 (unlike
    the classical f1²/(2f2)) — no NULL case at all on a non-empty
    corpus. Output one row: (n_tokens, n_distinct, f1, f2, chao1,
    coverage)."""
    tok = df.select(F.explode(tokens(F.col(text_col))).alias("__t"))
    counts = tok.groupBy("__t").agg(F.count(F.lit(1)).alias("__c"))
    agg = counts.agg(
        F.sum("__c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum((F.col("__c") == 1).cast("long")).alias("f1"),
        F.sum((F.col("__c") == 2).cast("long")).alias("f2"),
    )
    d = F.col("n_distinct").cast("double")
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    nn = F.col("n_tokens").cast("double")
    chao1 = d + f1 * (f1 - 1.0) / (2.0 * (f2 + 1.0))
    coverage = F.when(F.col("n_tokens") > 0, 1.0 - f1 / nn)
    return agg.select(
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        F.round(chao1, round_to).alias("chao1"),
        F.round(coverage, round_to).alias("coverage"),
    )
