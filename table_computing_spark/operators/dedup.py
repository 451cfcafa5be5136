"""Deduplication operators — exact and near-duplicate, at corpus scale.

Five strategies, all expression-first (no Python in the hot path):

  exact          — hash-groupBy on a normalized fingerprint.
  minhash_lsh    — word-shingle MinHash signatures + banded LSH:
                   candidates meet only inside a band bucket, so the
                   join is an equi-join on (band, band_hash) — shuffle
                   cost O(docs x bands), never O(docs^2).
  simhash        — 64-bit bit-majority fingerprint; near-dups =
                   small Hamming distance, blocked by 16-bit chunks
                   (pigeonhole: hamming<=3 => one of 4 chunks equal).
  ngram_jaccard  — exact token-set Jaccard via a shared-token join
                   (inverted-index style, pruned by document frequency).
  embedding      — cosine near-dup over vector columns (see similarity).

Scale notes: every strategy reduces to scan -> narrow transform ->
equi-join/groupBy, which Spark shuffles by key; nothing collects to the
driver. At 100 TB, minhash_lsh with (bands=16, rows=8) is the intended
workhorse; df-pruning in ngram_jaccard caps inverted-list explosion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from table_computing_spark.operators._util import _spread, materialize
from table_computing_spark.operators.text import fingerprint, shingles, tokens


def exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per normalized-text fingerprint.
    Returns (id, fingerprint, group_size, is_canonical) for every row —
    filter is_canonical=1 to materialize the deduped corpus."""
    fp = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
    groups = fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("group_size")
    )
    return (
        fp.join(groups, "fingerprint")
        .withColumn(
            "is_canonical", (F.col(id_col) == F.col("canonical_id")).cast("int")
        )
        .select(id_col, "fingerprint", "canonical_id", "group_size", "is_canonical")
    )


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Word k-gram rows (__id, __sh), one row per shingle occurrence.

    Shingle construction stays in codegen: posexplode the token array,
    then k-1 lead() calls over (doc, position) assemble each word
    k-gram — no per-element lambdas (text.shingles' transform/slice
    path is interpreted and was the hot spot). explode_outer keeps
    empty docs (null token) so downstream callers can still see them:
    a row is a complete k-gram iff its last lead exists; trailing rows
    (and empty docs' single null-token row) carry __sh = null."""
    from pyspark.sql.window import Window as W

    tok_rows = _spread(df).select(
        F.col(id_col).alias("__id"),
        F.posexplode_outer(tokens(F.col(text_col))).alias("__pos", "__tok"),
    )
    w = W.partitionBy("__id").orderBy("__pos")
    parts = [F.col("__tok")] + [F.lead("__tok", i).over(w) for i in range(1, shingle_k)]
    return tok_rows.select(
        "__id",
        F.when(parts[-1].isNotNull(), F.concat_ws(" ", *parts)).alias("__sh"),
    )


def jaccard_for_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    use_tokens: bool = False,
) -> DataFrame:
    """EXACT set-Jaccard for an explicit candidate-pair list — the
    verification stage after any approximate candidate generator
    (minhash banding, simhash blocking, a streaming bucket join).

    `pairs` carries (id_a, id_b); the unit set is distinct word
    k-shingles (default) or distinct tokens (`use_tokens=True`, the
    granularity simhash votes on). Returns (id_a, id_b, jaccard).

    Scale shape: the unit table is semi-join-pruned to ids that appear
    in some pair, so cost is O(pairs × units-per-doc) equi-join rows —
    proportional to the candidate set, never to the corpus."""
    from pyspark import StorageLevel

    # the pair list feeds three branches of this plan (id pruning, the
    # shared-unit join, the final assembly) — persist so the candidate
    # GENERATOR (an LSH banding join upstream) runs once, not three
    # times. Candidates are bounded by the generator's blocking, so the
    # footprint is O(near-dups), never O(corpus²).
    p = (
        pairs.select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # prune the CORPUS to docs that appear in some pair BEFORE
    # shingling: the semi-join must sit below the explode + window
    # (Catalyst won't push a semi-join through them), else verification
    # re-shingles the whole corpus instead of just the candidates
    ids = p.select(F.explode(F.array("id_a", "id_b")).alias(id_col)).distinct()
    pruned = df.join(ids, id_col, "left_semi")
    if use_tokens:
        units = pruned.select(
            F.col(id_col).alias("__id"),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("__sh"),
        )
    else:
        units = shingle_rows(pruned, text_col, id_col, shingle_k).where(
            F.col("__sh").isNotNull()
        ).distinct()
    # units feed three branches too (sizes + both join sides) — without
    # this persist the pruned-corpus shingle explode executes 3x, the
    # dominant cost of the whole verification stage on clique-heavy
    # corpora where most docs survive the pruning semi-join
    units = units.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = units.groupBy("__id").agg(F.count(F.lit(1)).alias("__sz"))
    ua = units.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__u"))
    ub = units.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__u"))
    shared = (
        p.join(ua, "id_a")
        .join(ub, ["id_b", "__u"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("__sz").alias("__sza"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("__sz").alias("__szb"))
    return (
        p.join(shared, ["id_a", "id_b"], "left")
        .join(sa, "id_a", "left")
        .join(sb, "id_b", "left")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.coalesce(F.col("__shared"), F.lit(0))
                / (
                    F.coalesce(F.col("__sza"), F.lit(0))
                    + F.coalesce(F.col("__szb"), F.lit(0))
                    - F.coalesce(F.col("__shared"), F.lit(0))
                ),
                6,
            ).alias("jaccard"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    shingle_k: int = 3,
) -> DataFrame:
    """Wide minhash signature table: (__id, m0..m{num_hashes-1}).

    PERFORMANCE: higher-order functions (transform/aggregate lambdas)
    are interpreted per-row in Spark, so we explode shingles ONCE and
    compute every minhash as min(xxhash64(seed_i, shingle)) inside a
    single whole-stage-codegen hash aggregate. Docs with no shingles
    (shorter than k tokens) still get a signature (null mins → hashed
    per-id below, so they never collide with real buckets).
    """
    sh_rows = shingle_rows(df, text_col, id_col, shingle_k)
    # hash the shingle STRING once; the num_hashes family then hashes the
    # resulting 8-byte long — 64 string hashes/row would cost ~2x.
    # CAUTION: xxhash64 SKIPS null arguments (hash of the remaining args),
    # so nulls must be propagated explicitly or every shingle-less doc
    # would share one constant signature and bucket together.
    sh_rows = sh_rows.select(
        "__id", F.when(F.col("__sh").isNotNull(), F.xxhash64("__sh")).alias("__h")
    )
    aggs = [
        F.min(
            F.when(F.col("__h").isNotNull(), F.xxhash64(F.lit(i), F.col("__h")))
        ).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    sig = sh_rows.groupBy("__id").agg(*aggs)
    # null signature (empty doc) → unique per-id sentinel so empty docs
    # only ever bucket with themselves
    fixes = {
        f"m{i}": F.coalesce(F.col(f"m{i}"), F.xxhash64(F.lit(-i - 1), F.col("__id")))
        for i in range(num_hashes)
    }
    return sig.withColumns(fixes)


def _banded_pairs(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Banded-LSH candidate pairs from a wide signature table: explode
    each doc to (band, bucket=xxhash64(band minhashes)) narrow rows,
    self equi-join on (band, bucket) carrying ONLY ids, dedup pairs.
    Shuffle cost is O(docs × bands) + O(candidate pairs), never O(docs²)."""
    rows_per_band = num_hashes // bands
    banded = sig.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("__id", "bb.band", "bb.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Banding-only candidate pairs (id_a, id_b) — no signature-agreement
    estimate. Feed to jaccard_for_pairs for exact verification; use
    minhash_lsh when the cheaper est_jaccard screen is enough."""
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k)
    return _banded_pairs(sig, num_hashes, bands)


def minhash_lsh(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs.

    Pipeline: shingle-explode → codegen min-agg signature → explode to
    (band, bucket=xxhash64(band minhashes)) narrow rows → self equi-join
    on (band, bucket) carrying ONLY ids → dedup pairs → re-join the wide
    signature twice → estimated Jaccard = fraction of agreeing
    positions (a 64-term codegen sum, no array lambdas).

    Returns (id_a, id_b, est_jaccard) with id_a < id_b. Shuffle cost is
    O(docs × bands) narrow rows + O(candidate pairs); never O(docs²).
    """
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k)
    # the signature table feeds three branches of this plan (banding +
    # both sides of the agreement join) — persist so the shingle
    # explode/aggregate runs once, not three times. MEMORY_AND_DISK:
    # signatures are ~8·num_hashes bytes/doc, far smaller than the text.
    from pyspark import StorageLevel

    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    pairs = _banded_pairs(sig, num_hashes, bands)
    sa = sig.select(F.col("__id").alias("id_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(num_hashes)])
    sb = sig.select(F.col("__id").alias("id_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(num_hashes)])
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(num_hashes)
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", F.round(agree / F.lit(float(num_hashes)), 6))
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """64-bit SimHash fingerprint per document: per token, xxhash64 bits
    vote +1/-1 per position; the sign of each position's sum is the
    fingerprint bit. Pure aggregate expressions."""
    toks = _spread(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"bit{i}")
            for i in range(64)
        ]
    )
    fp = F.lit(0).cast("bigint")
    for i in range(64):
        fp = fp + F.when(F.col(f"bit{i}") > 0, F.lit(1).cast("bigint") * (2**i if i < 63 else -(2**63))).otherwise(0)
    return votes.select(F.col(id_col), fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunk_bits: "int | str" = "auto",
    target_occupancy: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on
    `chunk_bits`-wide fingerprint chunks with multi-bit probing
    (HmSearch-style): the probe side emits each chunk value plus its
    <= radius bit-flips, the build side emits the exact value, and
    candidates meet in a (chunk, value) equi-join — never a cross
    join.

    Recall guarantee by pigeonhole, for c = 64/chunk_bits chunks: a
    pair at Hamming distance h has some chunk with <= floor(h/c)
    differing bits, so probing radius = floor(max_hamming/c) covers
    every qualifying pair. 16-bit chunks cover h <= 3 with exact-match
    blocking, h <= 7 with 1-bit probes, h <= 11 with 2-bit probes.

    `chunk_bits="auto"` (default — r08 verdict task 4): the bucket
    SPACE per chunk is 2^chunk_bits, fixed — at corpus sizes past
    `target_occupancy`·2^16 the 16-bit buckets fill linearly with N
    and the bucket-local join goes quadratic (the fixed-bucket-count
    shape the r08 sweep flagged for lsh_topk/ivf_topk). auto keeps
    16-bit chunks until then, and switches to 2×32-bit chunks with
    1-bit probes (33 probe rows/chunk, 2^32 bucket space) when
    max_hamming <= 3 allows it — the pair OUTPUT is identical either
    way (both configurations have full recall at the given
    max_hamming, and the exact hamming filter runs last). Costs one
    count() scan. Explicit chunk_bits=16/32 pins a layout; 32-bit
    chunks support max_hamming <= 5 (4-5 resolve to radius 2, 529
    probe rows/chunk — recall stays complete); max_hamming >= 6 would
    need >= 3-bit probes (5489 rows/chunk) and is rejected.

    Cost: c × n_probes rows on the probe side + c build rows per doc —
    shuffle stays O(docs), candidates O(bucket collisions)."""
    if max_hamming > 11:
        raise ValueError("multi-probe blocking guarantees recall only to hamming 11")
    if chunk_bits == "auto":
        # only max_hamming <= 3 can ever pick the 32-bit layout — skip
        # the corpus count() when the answer is already forced to 16
        if max_hamming <= 3:
            chunk_bits = 32 if df.count() > target_occupancy * 65536 else 16
        else:
            chunk_bits = 16
    if chunk_bits not in (16, 32):
        raise ValueError("chunk_bits must be 16 or 32 (64-bit fingerprint)")
    n_chunks = 64 // chunk_bits
    radius = max_hamming // n_chunks
    masks = [0]
    if radius >= 1:
        masks += [1 << j for j in range(chunk_bits)]
    if radius >= 2:
        masks += [
            (1 << j) | (1 << k)
            for j in range(chunk_bits)
            for k in range(j + 1, chunk_bits)
        ]
    if radius >= 3:
        raise ValueError(
            f"radius {radius} at chunk_bits={chunk_bits} explodes the probe "
            f"side; use chunk_bits=16 for max_hamming > 3"
        )
    # fps feeds BOTH the probe and build branches with different
    # projections, so without a materialize-once cut the fingerprint
    # computation (shingle hash + 64 bit-votes) runs twice;
    # materializing it once measured faster (r14 alternating A/B: all 4
    # rounds, output identical — same house pattern as grid_dbscan).
    fps = materialize(simhash(df, text_col, id_col).withColumnRenamed(id_col, "__id"), eager=False)
    cmask = (1 << chunk_bits) - 1

    def chunk_val(i: int) -> F.Column:
        return F.shiftright("simhash", i * chunk_bits).bitwiseAND(F.lit(cmask))

    probes = fps.select(
        "__id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        (chunk_val(i) if m == 0 else chunk_val(i).bitwiseXOR(F.lit(m))).alias("val"),
                    )
                    for i in range(n_chunks)
                    for m in masks
                ]
            )
        ).alias("c"),
    ).select("__id", "simhash", "c.chunk", "c.val")
    build = fps.select(
        "__id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("chunk"), chunk_val(i).alias("val"))
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("__id", "simhash", "c.chunk", "c.val")
    a, b = probes.alias("a"), build.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.__id") != F.col("b.__id")),
        )
        .select(
            F.least(F.col("a.__id"), F.col("b.__id")).alias("id_a"),
            F.greatest(F.col("a.__id"), F.col("b.__id")).alias("id_b"),
            ham.alias("hamming"),
        )
        # exact-Hamming filter BEFORE the distinct: hamming is a pure
        # function of the pair (both fingerprints), so the output set is
        # identical either way, but the filter prunes the candidate
        # stream ~85x before the dropDuplicates exchange (measured at
        # sf0.1: 3.39M bucket-collision rows -> 40k pairs; Catalyst
        # pushes the predicate into the join, so the 3.39M rows are
        # never shuffled; 6.8 -> 4.7 s isolated, r15 §2.3).
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def jaccard_join(
    df_new: DataFrame,
    df_ref: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    use_tokens: bool = True,
    shingle_k: int = 3,
) -> DataFrame:
    """Bipartite exact set-Jaccard between a NEW batch and a REFERENCE
    corpus — the incremental-dedup primitive: dedupe a fresh crawl
    against the already-curated training set WITHOUT re-pairing the
    reference against itself (the reference side contributes only its
    inverted lists, never ref×ref pairs). Output: (id_new, id_ref,
    jaccard) for every cross pair with jaccard >= threshold.

    Unit set is distinct tokens (default) or distinct word k-shingles.
    Same inverted-index shape as ngram_jaccard_pairs: join on 64-bit
    unit hashes, size filter t*|A| <= |B| <= |A|/t pruning before the
    shared-count aggregate — cost O(sum over units of df_new * df_ref),
    proportional to actual cross-corpus token collisions, never
    |new| x |ref|."""

    def units_of(df: DataFrame, alias: str) -> DataFrame:
        if use_tokens:
            u = _spread(df).select(
                F.col(id_col).alias(alias),
                F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("__u"),
            )
        else:
            u = (
                shingle_rows(df, text_col, id_col, shingle_k)
                .where(F.col("__sh").isNotNull())
                .distinct()
                .select(F.col("__id").alias(alias), F.col("__sh").alias("__u"))
            )
        return u.select(alias, F.xxhash64("__u").alias("th"))

    un = units_of(df_new, "id_new")
    ur = units_of(df_ref, "id_ref")
    sn = un.groupBy("id_new").agg(F.count(F.lit(1)).alias("sz_n"))
    sr = ur.groupBy("id_ref").agg(F.count(F.lit(1)).alias("sz_r"))
    a = un.join(sn, "id_new")
    b = ur.join(sr, "id_ref")
    shared = (
        a.join(
            b,
            (a["th"] == b["th"])
            # size filter: |ref| in [t*|new|, |new|/t] is necessary
            & (b["sz_r"] * F.lit(threshold) <= a["sz_n"])
            & (a["sz_n"] * F.lit(threshold) <= b["sz_r"]),
        )
        .groupBy("id_new", "id_ref", "sz_n", "sz_r")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("sz_n") + F.col("sz_r") - F.col("shared")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_new", "id_ref", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_token_df: int | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """EXACT token-set Jaccard similarity for all pairs sharing >= 1
    token, via an inverted-index self-join (never a cross join):

        tokens -> (token, id) -> join on token -> count shared
        jaccard = shared / (|A| + |B| - shared)

    The join/groupBy run entirely on 64-bit token hashes (xxhash64) —
    narrow fixed-width shuffle rows, never strings. The hash only names
    the join key; the shared-token COUNT is exact (collision odds at
    64 bits are negligible for any real corpus, and a collision inside
    one doc's distinct-token set is the only way a count can shift).

    The size filter t*|A| <= |B| <= |A|/t prunes pairs that cannot
    reach the threshold before the count aggregate.

    `max_token_df` drops tokens appearing in more than N docs (stopword
    pruning) — the essential knob for Zipfian corpora at scale, where
    a handful of stopword inverted lists dominate the O(sum df²) join;
    dropping them changes token sets, i.e. it is an approximation knob
    (default off)."""
    toks = _spread(df).select(
        F.col(id_col).alias("__id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    ).select("__id", F.xxhash64("tok").alias("th"))
    if max_token_df is not None:
        dfreq = toks.groupBy("th").agg(F.count(F.lit(1)).alias("df"))
        toks = toks.join(dfreq.filter(F.col("df") <= max_token_df), "th").select(
            "__id", "th"
        )
    if prefix_filter:
        return _jaccard_pairs_prefix(toks, threshold)
    return _jaccard_pairs_from_units(toks, threshold)


def _jaccard_pairs_prefix(units: DataFrame, threshold: float) -> DataFrame:
    """Prefix-filtered exact-Jaccard pairs (PPJoin family: Chaudhuri et
    al. ICDE'06, Xiao et al. WWW'08) over (__id, th) unit rows.

    Candidate generation joins only each set's PREFIX — its
    |A| − ⌈t·|A|⌉ + 1 globally-rarest units under the (frequency, hash)
    total order — instead of every co-occurring unit. Correctness: for
    J(A,B) ≥ t the overlap is ≥ ⌈t/(1+t)·(|A|+|B|)⌉, which with the
    size filter |B| ≥ t|A| implies the prefixes intersect; everything
    dropped could not reach the threshold. The join input shrinks from
    Σ df(u)² over ALL units to the same sum over rare prefix units —
    the frequent units that dominate the quadratic cost are exactly the
    ones ranked OUT of the prefix.

    Verification then counts full-set overlap for candidates only:
    candidates ⋈ A's units on id, matched against B's units on
    (id, unit) — O(candidates × units-per-set) equi-join rows.

    WHEN TO USE: corpora whose unit-frequency distribution is heavy-
    tailed (real web text: a handful of stopwords co-occur everywhere
    and dominate Σ df² in the plain inverted join). On this synthetic
    corpus token frequencies are moderate and the plain join's codegen
    hash join wins by ~4× (measured at sf0.1, t=0.9: 3-8 s plain vs
    ~28 s here — the ranking window + verification joins don't pay for
    themselves). Default off; exactness at any threshold is pinned by
    tests/test_training_ops.py."""
    from pyspark import StorageLevel
    from pyspark.sql.window import Window as W

    sizes = units.groupBy("__id").agg(F.count(F.lit(1)).alias("sz"))
    # persist: units feed the frequency count, the prefix ranking, and
    # both sides of the verification join
    units = units.persist(StorageLevel.MEMORY_AND_DISK)
    dfreq = units.groupBy("th").agg(F.count(F.lit(1)).alias("__df"))
    ranked = (
        units.join(dfreq, "th")
        .withColumn(
            "__rk",
            F.row_number().over(W.partitionBy("__id").orderBy("__df", "th")),
        )
    )
    prefix = (
        ranked.join(sizes, "__id")
        .filter(F.col("__rk") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
        .select("__id", "th", "sz")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.th") == F.col("b.th"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (F.col("b.sz") * F.lit(threshold) <= F.col("a.sz"))
            & (F.col("a.sz") * F.lit(threshold) <= F.col("b.sz")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ua = units.select(F.col("__id").alias("id_a"), "th")
    ub = units.select(F.col("__id").alias("id_b"), "th")
    shared = (
        cand.join(ua, "id_a")
        .join(ub, ["id_b", "th"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingle_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """EXACT word-k-shingle Jaccard pairs via the same inverted-index
    join — the all-pairs ground truth that approximate candidate
    generators (minhash banding, simhash blocking) are measured
    against. Shingle inverted lists are far shorter than token lists
    (3-grams are nearly unique), so the O(sum df²) join stays small
    even on a shared-vocabulary corpus."""
    units = (
        shingle_rows(df, text_col, id_col, shingle_k)
        .where(F.col("__sh").isNotNull())
        .distinct()
        .select("__id", F.xxhash64("__sh").alias("th"))
    )
    return _jaccard_pairs_from_units(units, threshold)


def _jaccard_pairs_from_units(units: DataFrame, threshold: float) -> DataFrame:
    """Inverted-index exact-Jaccard core over (__id, th) unit rows.

    Deliberately NOT persisted: the self-join's two branches are the
    same subtree with the same output partitioning, so Spark's
    ReusedExchange already computes the explode once — and forcing an
    InMemoryRelation here measured 9x SLOWER at sf0.1 (cache scan
    replaces the reused shuffle and the join loses AQE planning).
    Contrast jaccard_for_pairs, where the three consumers need three
    DIFFERENT partitionings and a persist is a real win."""
    sizes = units.groupBy("__id").agg(F.count(F.lit(1)).alias("sz"))
    wt = units.join(sizes, "__id")
    a, b = wt.alias("a"), wt.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.th") == F.col("b.th"))
            & (F.col("a.__id") < F.col("b.__id"))
            # size filter: |B| in [t*|A|, |A|/t] is necessary for J >= t
            & (F.col("b.sz") * F.lit(threshold) <= F.col("a.sz"))
            & (F.col("a.sz") * F.lit(threshold) <= F.col("b.sz")),
        )
        .groupBy(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-CONTAINMENT pairs: C(A→B) = |A ∩ B| / |A| over distinct
    word k-shingles — the asymmetric cousin of Jaccard that catches
    what symmetric dedup structurally cannot: a short document quoted
    or embedded inside a much longer one (J = |∩|/|∪| vanishes as the
    big doc grows, containment stays ~1). This is the
    quote/boilerplate/subset detector of the Broder resemblance paper
    (SEQUENCES '97), and the practical gate for "this doc is just a
    fragment of that one" in training-data curation.

    Returns (id_small, id_big, containment) with containment =
    |small ∩ big| / |small| >= threshold and sz_small <= sz_big
    (id tiebreak on equal sizes) — one directed row per pair.

    Scale shape: identical to the exact-Jaccard core — an
    inverted-index equi-join on shingle hashes, O(sum df²) candidate
    rows, never corpus². The only asymmetry is the final divide; the
    one-sided size filter (no lower bound on the big side!) is what a
    Jaccard size-filter would wrongly prune."""
    units = (
        shingle_rows(df, text_col, id_col, shingle_k)
        .where(F.col("__sh").isNotNull())
        .distinct()
        .select("__id", F.xxhash64("__sh").alias("th"))
    )
    sizes = units.groupBy("__id").agg(F.count(F.lit(1)).alias("sz"))
    wt = units.join(sizes, "__id")
    a, b = wt.alias("a"), wt.alias("b")
    # orient small → big at the JOIN level (size, id tiebreak): each
    # unordered pair appears once, as (small, big)
    small_first = (F.col("a.sz") < F.col("b.sz")) | (
        (F.col("a.sz") == F.col("b.sz")) & (F.col("a.__id") < F.col("b.__id"))
    )
    shared = (
        a.join(b, (F.col("a.th") == F.col("b.th")) & small_first)
        .groupBy(
            F.col("a.__id").alias("id_small"),
            F.col("b.__id").alias("id_big"),
            F.col("a.sz").alias("sz_small"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.withColumn(
            "containment", F.round(F.col("shared") / F.col("sz_small"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("id_small", "id_big", "containment")
    )


def minhash_estimate_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 3,
    round_to: int = 6,
    use_tokens: bool = False,
) -> DataFrame:
    """Signature-agreement Jaccard ESTIMATE for an explicit pair list —
    the sketch-accuracy half of an est-vs-exact audit (the production
    signatures above use xxhash64 for speed; these use md5 so ANY
    engine reproduces every signature bit-for-bit, the same
    portability trade the count-min sketch makes in frequency.py).

    est_jaccard = fraction of the num_hashes positions where the two
    docs' min-over-shingles hashes agree — an unbiased estimator with
    std ~ sqrt(j(1-j)/n). The agreement count is a row-wise codegen
    sum over the wide signature join, no explode.

    Docs with no complete shingle (< k tokens) have no signature and
    their pairs drop out (inner joins) — mirror-constructed oracles
    drop the same pairs. `use_tokens=True` switches the unit set to
    distinct tokens (the granularity ngram_jaccard_pairs scores), so
    est and exact measure the SAME similarity."""
    if use_tokens:
        sh = _spread(df).select(
            F.col(id_col).alias("__id"),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("__sh"),
        )
    else:
        sh = (
            shingle_rows(df, text_col, id_col, shingle_k)
            .filter(F.col("__sh").isNotNull())
            .select("__id", "__sh")
            .distinct()
        )

    def h(i: int) -> Column:
        s = F.concat(F.lit(f"{i}|"), F.col("__sh"))
        return F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10).cast("long")

    sig = sh.groupBy("__id").agg(
        *[F.min(h(i)).alias(f"m{i}") for i in range(num_hashes)]
    )
    a = sig.select(
        F.col("__id").alias("id_a"),
        *[F.col(f"m{i}").alias(f"__a{i}") for i in range(num_hashes)],
    )
    b = sig.select(
        F.col("__id").alias("id_b"),
        *[F.col(f"m{i}").alias(f"__b{i}") for i in range(num_hashes)],
    )
    j = pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    agree = sum(
        [(F.col(f"__a{i}") == F.col(f"__b{i}")).cast("int") for i in range(num_hashes)],
        F.lit(0),
    )
    return j.select(
        "id_a",
        "id_b",
        F.round(agree.cast("double") / num_hashes, round_to).alias("est_jaccard"),
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All pairs at Levenshtein distance <= 1, by symmetric-delete
    blocking (SymSpell / FastSS — public technique): every string emits
    itself plus its single-character deletions; any two strings within
    one edit SHARE at least one variant (equal → the string itself;
    substitution → both delete the differing position; insert/delete →
    the shorter string equals one deletion of the longer), so
    candidates come from a variant EQUI-join and the exact levenshtein
    filter runs only on collisions — never on the cross product.

    Cost: len+1 variant rows per string (bounded by string length),
    one shuffle on the variant value, exact verification per candidate.
    Returns (id_a < id_b, dist)."""
    # the deletion lambda is an interpreted higher-order transform —
    # len(s)+1 substring/concat evaluations per row; spread so a
    # single-split scan doesn't pin that stage (and both join branches,
    # which share it via ReusedExchange) to one task
    df = _spread(df)

    def variants(side: str):
        s = F.col(text_col)
        dels = F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda i: F.concat(
                F.substring(s, F.lit(1), i - 1),
                s.substr(i + 1, F.length(s)),
            ),
        )
        return df.select(
            F.col(id_col).alias(f"id_{side}"),
            F.col(text_col).alias(f"__t{side}"),
            F.explode(
                F.array_distinct(F.concat(F.array(s), dels))
            ).alias("__var"),
        )

    a, b = variants("a"), variants("b")
    return (
        a.join(b, "__var")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.levenshtein(F.col("__ta"), F.col("__tb")).alias("dist"),
        )
        .filter(F.col("dist") <= 1)
        .dropDuplicates(["id_a", "id_b"])
    )


def survivorship(
    df: DataFrame,
    group_col: str,
    fields: "list[str]",
) -> DataFrame:
    """Golden-record construction (the MDM survivorship step after
    record linkage / dedup grouping): per duplicate cluster and per
    field, keep the MODAL non-null value — ties break to the smallest
    value, so the pick is total and engine-exact.

    Output in long form (group, field, value, n_votes): one hash
    aggregate over (group, field, value) plus one min(struct) pick per
    (group, field) — never a window over data rows; long form keeps
    the plan a pure aggregate (a wide pivot is one groupBy away when
    wanted)."""
    melted = df.select(
        F.col(group_col).alias("group"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(f).alias("field"),
                    F.col(f).cast("string").alias("value"),
                )
                for f in fields
            ])
        ).alias("__fv"),
    ).select("group", "__fv.field", "__fv.value").filter(
        F.col("value").isNotNull()
    )
    counted = melted.groupBy("group", "field", "value").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    # modal pick: min over (-n_votes, value) is (max count, min value);
    # the winner's vote count rides inside the same struct, so no
    # self-join back onto the counts is needed at all
    pick = counted.groupBy("group", "field").agg(
        F.min(
            F.struct(
                (-F.col("n_votes")).alias("nv"),
                F.col("value"),
                F.col("n_votes"),
            )
        ).alias("__p")
    )
    return pick.select(
        F.col("group").alias(group_col),
        "field",
        F.col("__p")["value"].alias("value"),
        F.col("__p")["n_votes"].alias("n_votes"),
    )
