"""Document deduplication families (exact → near-dup), designed for 100 TB.

Four strategies, in increasing recall / cost order:

- **exact**: content hash (sha256) groupBy — one shuffle on the hash,
  map-side combine; the canonical survivor is the min id (deterministic).
- **n-gram Jaccard**: exact set similarity over word shingles via an
  inverted-index self-join (shingle → docs), which is the scalable form —
  no O(n²) cross join; cost is Σ postings² per shingle, controlled by
  dropping ultra-frequent shingles (``jaccard_pairs(max_doc_freq=...)``
  — at scale one hot shingle otherwise makes the self-join fan-out
  quadratic in its posting-list length).
- **MinHash + LSH**: 128 affine permutations of one md5 token hash per
  document, banded (16 × 8) so that only documents agreeing on a whole
  band become candidate pairs; exact Jaccard (``array_intersect`` on the
  candidate pairs only) verifies. Shuffle volume is O(docs × bands) for
  detection and O(candidates) for verification — this is the 100 TB path.
- **SimHash**: 32-bit majority fingerprint over token hashes; near-dups
  agree on most bits (pairs within small Hamming distance). Computed via
  explode + groupBy (no UDF).

All hashing is md5-hex based (not ``xxhash64``) so the DuckDB oracle can
reproduce results bit-for-bit; md5 here is a *fingerprint*, not security.

Embedding-cosine near-dup lives in operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_datawarehousingandetlpipeline_spark.operators.text import (
    tokens,
    word_shingles,
)
from data_engineering_datawarehousingandetlpipeline_spark.session import spread

#: MinHash signature size and LSH banding: 128 permutations in 16 bands ×
#: 8 rows puts the s-curve threshold at (1/16)^(1/8) ≈ 0.71 — recall at
#: J = 0.9 is 1 − (1 − 0.9⁸)¹⁶ ≈ 0.9999 while sub-0.6 pairs are rejected
#: with high probability (production shape for a 0.9 dedup threshold).
MINHASH_PERMS = 128
LSH_BAND_ROWS = 8

#: Affine-permutation modulus (2³¹ − 1, prime). Token hashes are 32-bit,
#: coefficients < 2³⁰, so a·h + b < 2⁶² never overflows signed 64-bit
#: arithmetic — in Spark or in the DuckDB oracle.
MERSENNE_P = (1 << 31) - 1

#: near_dup_clusters: a propagation round whose frontier (driver-known
#: from the convergence probe) is at most this many rows runs as
#: broadcast hash joins — zero corpus-keyed exchanges (guide §3.1). Rows
#: are two ids (~40 B framed), so the default tracks the stock 10 MB
#: autoBroadcastJoinThreshold. The shuffle path remains the fallback for
#: early warehouse-scale rounds.
FRONTIER_BROADCAST_MAX_ROWS = 250_000


def perm_coefficients(perms: int = MINHASH_PERMS) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine permutation family
    ``h_k(x) = (a_k·x + b_k) mod P`` — md5-derived, so any engine (and the
    oracle SQL, which embeds them as literals) regenerates the same family.
    """
    import hashlib

    def _h32(tag: str) -> int:
        return int(hashlib.md5(tag.encode()).hexdigest()[:8], 16)

    return [
        (_h32(f"mh-a|{k}") % ((1 << 30) - 1) + 1, _h32(f"mh-b|{k}") % MERSENNE_P)
        for k in range(perms)
    ]

#: SimHash fingerprint width (bits). 32 keeps the bit loop cheap and the
#: arithmetic exactly representable in both engines.
SIMHASH_BITS = 32


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups: content hash → copies + canonical (min id)."""
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("canonical_doc_id"),
        )
    )


def _distinct_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, token) postings list — the inverted-index building block."""
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("token")
    )


def size_prune_cond(n_a: Column, n_b: Column, threshold: float) -> Column:
    """Lossless Jaccard size bound: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|).

    A pair whose distinct-set sizes are incompatible with the threshold can
    never pass exact verification, so the predicate is safe INSIDE any
    candidate-generating join (both the postings join and the LSH band
    join use it). At threshold 0 it is a no-op.
    """
    return F.least(n_a, n_b).cast("double") >= F.lit(threshold) * F.greatest(
        n_a, n_b
    )


def _capped_postings(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_doc_freq: int | None,
    shingle_width: int,
) -> DataFrame:
    """(doc, n, shingle) posting list, df-capped when ``max_doc_freq`` set.

    The skew-immune pruning shape :func:`jaccard_pairs` documents: doc
    frequencies from a partial-aggregated groupBy, over-cap shingles
    broadcast, postings pruned by a broadcast LEFT ANTI join, set sizes
    recomputed over the surviving index via a doc-keyed window. Split out
    (r16) so the plan gate can assert this shape on the subtree itself —
    the caller pins the result with ``localCheckpoint``, which hides the
    subtree behind an ExistingRDD scan in the final query plan.
    """
    shingled = spread(df).select(
        F.col(id_col).alias("doc"),
        F.array_distinct(word_shingles(F.col(text_col), shingle_width)).alias("shingles"),
    )
    if max_doc_freq is None:
        return shingled.select(
            "doc", F.size("shingles").alias("n"), F.explode("shingles").alias("shingle")
        )
    exploded = shingled.select(
        "doc", F.explode("shingles").alias("shingle")
    ).localCheckpoint(eager=False)
    # shingles are distinct per doc, so count(*) IS the doc frequency
    hot = (
        exploded.groupBy("shingle")
        .agg(F.count("*").alias("df_count"))
        .filter(F.col("df_count") > max_doc_freq)
        .select("shingle")
    )
    return (
        exploded.join(F.broadcast(hot), "shingle", "left_anti")
        # set sizes over the SURVIVING index (capped-vocabulary Jaccard);
        # doc-keyed window groups are bounded by document length, never
        # by corpus skew
        .withColumn("n", F.count("*").over(Window.partitionBy("doc")))
        .select("doc", "n", "shingle")
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    shingle_width: int = 2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs above ``threshold``.

    Inverted-index join: explode distinct shingles, self-join on the
    shingle, count common shingles per pair, then
    ``jaccard = common / (|A| + |B| − common)``. The join shuffles on the
    shingle (a scalable key); the pair aggregation shuffles on (a, b).
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    ``max_doc_freq`` is the scale-critical cost control: the self-join
    emits Σ df² candidate rows over the per-shingle document frequencies,
    so ONE hot shingle shared by k documents fans out k² pairs — quadratic
    in its posting list, unbounded at 100 TB ("terms of service" appears
    everywhere). With the cap set, shingles whose document frequency
    exceeds it are dropped from the index BEFORE the join, and the
    similarity becomes n-gram Jaccard **over the capped vocabulary**: set
    sizes are recomputed over surviving shingles, so two identical
    documents still score 1.0 even when they contain hot shingles, and a
    document whose every shingle is hot simply leaves the index (it can
    match nothing). Candidate volume is then bounded by
    Σ min(df, cap)² ≤ postings × cap. The default ``None`` keeps the
    uncapped exact semantics — small-corpus-only; production corpora
    should set the cap (or use the MinHash rung, the declared 100 TB
    path).

    Pruning shape, chosen for the exact skew this cap targets: the doc
    frequencies come from a partial-aggregated ``groupBy`` (a hot
    shingle contributes one partial count per map task — never a
    materialized group), the over-cap shingles — at most
    postings / cap distinct values, zipfian-few in practice — are
    BROADCAST, and postings are pruned by a broadcast LEFT ANTI join, so
    a hot shingle's posting list never passes through any shingle-keyed
    exchange (a window-over-shingle would buffer the pathological group
    in one task, re-creating the straggler the cap exists to kill). The
    exploded postings are pinned (``localCheckpoint(eager=False)``) so
    the frequency pass and both self-join sides share one shingling of
    the corpus instead of three.
    """
    postings = _capped_postings(df, text_col, id_col, max_doc_freq, shingle_width)
    if max_doc_freq is not None:
        # pinned (r16): both self-join sides read the SAME pruned postings
        # — without the pin each side re-runs the anti-join AND the
        # doc-window size pass (a full postings shuffle + sort each). The
        # pin costs one in-memory copy of (doc, n, shingle). The
        # skew-immune pruning shape is plan-gated on _capped_postings
        # directly (tests/test_plan_quality.py), since the pin hides the
        # subtree behind an ExistingRDD scan in the query's own plan.
        postings = postings.localCheckpoint(eager=False)
    # Qualified-alias self-join (same shape as minhash_near_dup_pairs):
    # projections of one parent make the shared `shingle` column ambiguous
    # to the analyzer, which logs a "trivially true equals predicate" repair
    # before fixing it up itself. Dataset aliases keep the equi-join key
    # unambiguous and the log clean.
    # Lossless size prune inside the join condition: J(A,B) ≤ min/max of the
    # set sizes, so size-incompatible pairs can never reach the threshold.
    # At high thresholds this collapses the postings-join output before the
    # pair aggregation (the expensive part on skew-heavy vocabularies);
    # at threshold 0 it is a no-op predicate.
    cond = (
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc") < F.col("b.doc"))
        & size_prune_cond(F.col("a.n"), F.col("b.n"), threshold)
    )
    common = (
        postings.alias("a")
        .join(postings.alias("b"), cond)
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def prefix_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    shingle_width: int = 2,
    max_doc_freq: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(prefix postings, surviving postings) for the prefix-filtered join.

    The candidate-generating index :func:`jaccard_pairs_prefix` actually
    self-joins, exposed as its own plan so tests and per-corpus cost
    probes measure the REAL index (tests/test_prefix_jaccard.py counts
    it instead of hand-rebuilding a lookalike). ``prefix`` carries
    (doc, n, shingle) — each document's ``⌊(1−t)·|d|⌋ + 1`` rarest
    shingles under the (df ASC, shingle ASC) global order; ``surviving``
    is the full (possibly df-capped) posting list the verify stage
    rebuilds its arrays from. Both descend from ONE checkpointed
    shingling of the corpus.

    The prefix length ℓ = d − ⌈t·d⌉ + 1 is the exact lossless bound: a
    pair at J ≥ t overlaps by ≥ ⌈t·max⌉ ≥ ⌈t·d⌉ on each side, so the
    last ⌈t·d⌉ − 1 shingles alone can never cover the overlap. The 1e-9
    guard keeps double rounding from pushing ⌈t·d⌉ UP at exact-integer
    boundaries (t = 0.9, d = 10: fp ceil(9.000000000000002) = 10 would
    shorten the prefix below the bound — lossy); erring down merely
    lengthens the prefix by one, which is conservative, never lossy.
    """
    shingled = spread(df).select(
        F.col(id_col).alias("doc"),
        F.array_distinct(
            word_shingles(F.col(text_col), shingle_width)
        ).alias("shingles"),
    )
    exploded = shingled.select(
        "doc", F.explode("shingles").alias("shingle")
    ).localCheckpoint(eager=False)
    # shingles are distinct per doc, so count(*) IS the doc frequency
    freqs = exploded.groupBy("shingle").agg(F.count("*").alias("df_count"))
    if max_doc_freq is not None:
        hot = freqs.filter(F.col("df_count") > max_doc_freq).select("shingle")
        surviving = exploded.join(F.broadcast(hot), "shingle", "left_anti")
        indexed = surviving.join(freqs, "shingle")
    else:
        surviving = exploded
        indexed = exploded.join(freqs, "shingle")
    # per-doc set size over the (possibly capped) vocabulary, and the
    # rarest-first rank that defines the prefix
    w_doc = Window.partitionBy("doc")
    w_rank = w_doc.orderBy(F.col("df_count").asc(), F.col("shingle").asc())
    prefix_len = (
        F.col("n")
        - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)).cast("int")
        + F.lit(1)
    )
    prefix = (
        indexed.withColumn("n", F.count("*").over(w_doc))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= prefix_len)
        .select("doc", "n", "shingle")
        # pinned (r16): both sides of the candidate self-join read this
        # index — without the pin each side re-runs the df join and BOTH
        # doc-windows (size + rarest-first rank). Same local-mode caveat
        # as the `exploded` pin above.
        .localCheckpoint(eager=False)
    )
    return prefix, surviving


def jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    shingle_width: int = 2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING — same output as
    :func:`jaccard_pairs`, asymptotically cheaper candidate generation at
    high thresholds.

    The classic exact-set-similarity join optimization (Chaudhuri et al.,
    SSJoin, ICDE 2006; Xiao et al., PPJoin, WWW 2008), re-expressed as
    DataFrame ops. Under any one global total order of the shingle
    universe, if J(A,B) ≥ t then |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and a pair
    with overlap ≥ α must share a shingle within the first
    |d| − α + 1 shingles of EACH side — so indexing only each document's
    ``⌊(1−t)·|d|⌋ + 1``-shingle prefix loses no qualifying pair. The
    global order is (document frequency ASC, shingle ASC): rarest first,
    which makes prefixes the LOW-fan-out end of the vocabulary, so the
    candidate self-join fans out over Σ df_prefix² instead of Σ df² —
    at t = 0.9 the prefix is ~10 % of each document and made of its
    rarest shingles, collapsing candidate volume by orders of magnitude
    on natural corpora.

    Stages (all bounded, no corpus-quadratic step):

    1. shingle + document frequency: one ``groupBy(shingle)`` partial
       aggregation (hot shingles never materialize a group);
    2. per-document prefix: ``row_number`` over the doc partition ordered
       by (df, shingle) — bounded by document length, never corpus skew;
    3. candidate join: prefix-postings self-join on the shingle with the
       lossless size prune inside the condition, then DISTINCT pairs;
    4. verify: candidates join the full distinct-shingle arrays of both
       sides; exact Jaccard via ``array_intersect`` — O(|candidates| ×
       doc size), identical arithmetic to :func:`jaccard_pairs`.

    ``max_doc_freq`` composes exactly as in :func:`jaccard_pairs`
    (capped-vocabulary Jaccard): over-cap shingles leave the index before
    frequencies feed the prefix order, set sizes are recomputed over the
    surviving vocabulary, and the verify arrays are rebuilt from the
    pruned postings so both implementations score the identical capped
    sets.

    Status (measured r13, sf0.1, deep calm): on THIS workload's
    replica-dense corpus the postings join WINS (pair phase 2.76 s vs
    4.41 s prefix; full cluster pipeline 7.50 s vs 9.66 s, identical
    964,854-pair output) — 96 % of candidate mass there is TRUE pairs,
    so prefix filtering cannot shrink the join and its df-rank/verify
    stages are pure overhead. The registered queries therefore STAY on
    :func:`jaccard_pairs`; this variant is the documented alternative
    for natural low-duplication corpora, where candidate mass is
    dominated by false positives of hot shingles and Σ df_prefix² ≪
    Σ df² is the difference between feasible and not. Output
    equivalence is property-tested either way
    (tests/test_prefix_jaccard.py), so switching per-corpus is a
    one-line call-site choice, not a semantics decision. Since r14 the
    operator is also driver-verified directly: the registered
    ``doc_jaccard_prefix`` query runs it against doc_ngram_jaccard's
    postings-join oracle SQL, pinning the equivalence cross-engine
    every round.
    """
    prefix, surviving = prefix_index(
        df,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        shingle_width=shingle_width,
        max_doc_freq=max_doc_freq,
    )
    cond = (
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc") < F.col("b.doc"))
        & size_prune_cond(F.col("a.n"), F.col("b.n"), threshold)
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), cond)
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    # verify on the full (capped) distinct-shingle arrays — exact
    # string-set intersection, so results are bit-identical to
    # jaccard_pairs' aggregation arithmetic. Both branches rebuild the
    # arrays from `surviving`, which descends from the CHECKPOINTED
    # `exploded`, so the corpus is shingled exactly once end-to-end
    # (reading `shingled` here would re-shingle it for the arrays side).
    arrays = (
        surviving.groupBy("doc")
        .agg(F.collect_set("shingle").alias("s"))
        # pinned (r16): both verify sides read the same per-doc arrays —
        # without the pin each side re-aggregates the surviving postings
        # (a full shuffle of the corpus's shingles each).
        .localCheckpoint(eager=False)
    )
    a = arrays.select(F.col("doc").alias("doc_a"), F.col("s").alias("sa"))
    b = arrays.select(F.col("doc").alias("doc_b"), F.col("s").alias("sb"))
    common = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                common.cast("double")
                / (F.size("sa") + F.size("sb") - common).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def token_hash_array(text: Column) -> Column:
    """array<bigint> of 32-bit md5-derived hashes of the distinct tokens.

    ONE md5 per token; the K minhash permutations are cheap affine maps of
    these values, not K fresh hashes — the standard production trick that
    makes 128-permutation signatures scan-cost-bounded.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.functions.hashing import (
        u32_hash,
    )

    return F.transform(F.array_distinct(tokens(text)), u32_hash)


def minhash_signatures_from_hashes(
    hashed: DataFrame,
    perms: int = MINHASH_PERMS,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """MinHash signatures from a prepared (doc, hs) token-hash table.

    ``hashed`` carries (doc, hs array<bigint>[, carry...]) — the shape
    :func:`token_hash_array` produces. Split out of
    :func:`minhash_signatures` (r16) so a pipeline that needs BOTH the
    signatures and the raw token-hash arrays (the near-dup verify stage)
    can hash the corpus once and share the table, instead of tokenizing
    and md5-hashing it twice.
    """
    coeffs = perm_coefficients(perms)
    a_arr = F.array(*[F.lit(a) for a, _ in coeffs])  # constant-folded
    b_arr = F.array(*[F.lit(b) for _, b in coeffs])
    per_token = F.transform(
        F.col("hs"),
        lambda h: F.transform(
            F.sequence(F.lit(0), F.lit(perms - 1)),
            lambda k: (a_arr[k] * h + b_arr[k]) % F.lit(MERSENNE_P),
        ),
    )
    sig = F.aggregate(
        per_token,
        F.array_repeat(F.lit(MERSENNE_P).cast("bigint"), perms),
        lambda acc, x: F.zip_with(acc, x, lambda u, v: F.least(u, v)),
    )
    # n (distinct-token set size) rides along for the size prune: it is the
    # array length the signature fold walks anyway, so it costs nothing here
    # and saves a separate corpus pass later.
    return hashed.select(
        "doc", sig.alias("sig"), F.size("hs").alias("n"), *carry_cols
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    perms: int = MINHASH_PERMS,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """MinHash signature (array<bigint> of length ``perms``) per document.

    Two projections: (1) hash the distinct tokens once (``hs``), then
    (2) fold per-token affine permutation values into an element-wise min.
    The fold references ``hs`` exactly once, so even if the optimizer
    inlines the first projection the md5 work stays O(tokens) per row —
    NOT O(tokens × perms) (subexpressions inside higher-order-function
    lambdas are never hoisted; shaping the expression is the only control).
    No explode, no shuffle: one codegen stage over the scan.
    """
    hashed = spread(df).select(
        F.col(id_col).alias("doc"),
        token_hash_array(F.col(text_col)).alias("hs"),
        *carry_cols,
    )
    return minhash_signatures_from_hashes(hashed, perms, carry_cols)


def lsh_band_hashes(
    sigs: DataFrame, perms: int = MINHASH_PERMS, band_rows: int = LSH_BAND_ROWS
) -> DataFrame:
    """(doc, band, band_hash) — one row per band; agreement on any whole
    band makes a candidate pair. Shuffle volume is O(docs × bands)."""
    n_bands = perms // band_rows
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        F.transform(
                            F.slice(F.col("sig"), b * band_rows + 1, band_rows),
                            lambda x: x.cast("string"),
                        ),
                    )
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    carried = [c for c in sigs.columns if c not in ("doc", "sig")]
    return sigs.select("doc", *carried, F.explode(band_structs).alias("bh")).select(
        "doc", *carried, "bh.band", "bh.band_hash"
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    perms: int = MINHASH_PERMS,
    band_rows: int = LSH_BAND_ROWS,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """MinHash → LSH banding → candidate pairs → candidate-ONLY verification.

    Candidates are pairs agreeing on an entire band; verification joins the
    candidate pairs back to the (small per-pair) distinct-token arrays and
    computes exact Jaccard via ``array_intersect`` — so the exact-similarity
    work is O(|candidates| × doc_size), bounded by the LSH s-curve, never
    O(co-occurring pairs). That is the 100 TB-safe property: no postings
    self-join, no pair aggregation over the full corpus. The verify joins
    shuffle on the candidate doc ids — volume bounded by the candidate set
    (AQE broadcasts the token side when it is small enough). Output has no
    LSH false positives (false negatives follow the s-curve, ≈ 10⁻⁴ at
    J = 0.9 with the 16 × 8 calibration).

    ``carry_cols`` (r17): per-doc labels from ``df`` ride the band rows
    (a few bytes each, the simhash-fingerprint carry pattern) and surface
    as ``<col>_a`` / ``<col>_b`` on the pair output — computed once per
    document at the hash stage and materialized with it, never per
    candidate. A label-consuming caller (split_leakage_audit) then skips
    the two |corpus|-keyed re-attach joins, and a label PREDICATE pushed
    onto the output prunes candidates inside the band join itself,
    before the distinct and the verify.
    """
    # ONE tokenize + md5 pass serves both the signature fold and the
    # verify stage (r16, guide §2.3: don't compute things twice). The
    # checkpointed table is (doc, hs) — id + token hashes only, no text;
    # eager=False materializes it inside the first action. On a
    # multi-executor cluster swap for a reliable checkpoint dir (same
    # caveat as the postings checkpoint in jaccard_pairs).
    hashes = spread(df).select(
        F.col(id_col).alias("doc"),
        token_hash_array(F.col(text_col)).alias("hs"),
        *carry_cols,
    ).localCheckpoint(eager=False)
    sigs = minhash_signatures_from_hashes(hashes, perms, carry_cols)
    # The banded table is pinned as well (r16): both sides of the
    # candidate self-join read it, and without the pin each side re-runs
    # the 128-permutation signature fold + band hashing from the pinned
    # hash table. Pinned size is bands × docs small rows.
    banded = lsh_band_hashes(sigs, perms, band_rows).localCheckpoint(eager=False)
    # Lossless size prune INSIDE the candidate join (same bound as
    # jaccard_pairs): J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so a pair with
    # size-incompatible token sets can never pass the threshold. The
    # distinct-token count rides each band row as one int (free — the
    # signature fold walks that array anyway), which prunes BEFORE both the
    # candidate DISTINCT and the (allocation-heavy) array_intersect verify.
    # Measured at sf0.1 on the dup-dense corpus: 5.31M → 2.83M candidates,
    # verify from GC-cliff territory (29-51 s) to a stable ~2 s, identical
    # output.
    carry_sel = [F.col(f"x.{c}").alias(f"{c}_a") for c in carry_cols] + [
        F.col(f"y.{c}").alias(f"{c}_b") for c in carry_cols
    ]
    carry_names = [f"{c}_a" for c in carry_cols] + [f"{c}_b" for c in carry_cols]
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc") < F.col("y.doc"))
            & size_prune_cond(F.col("x.n"), F.col("y.n"), threshold),
        )
        # carried labels are functionally dependent on the doc ids, so the
        # widened distinct collapses the identical pair groups
        .select(
            F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"), *carry_sel
        )
        .distinct()
    )
    # Verify on the bigint token-hash arrays, not the token strings: integer
    # intersection is several× cheaper, and the oracle applies the identical
    # hash so a (vanishingly unlikely) 32-bit collision perturbs both sides
    # identically. Set sizes are unchanged (transform preserves length).
    # Both verify sides read the SAME checkpointed hash table the
    # signatures derive from — the corpus is hashed exactly once.
    a = hashes.select(F.col("doc").alias("doc_a"), F.col("hs").alias("ha"))
    b = hashes.select(F.col("doc").alias("doc_b"), F.col("hs").alias("hb"))
    common = F.size(F.array_intersect(F.col("ha"), F.col("hb")))
    # The threshold filter is deliberately left pushable: Catalyst folds it
    # into the verify join's condition, which evaluates the intersect twice
    # per probed pair but emits ONLY survivors — cheaper end-to-end than a
    # barrier that forces the join to materialize every candidate row with
    # both hash arrays attached (measured on sf0.1: pushdown wins ~25%).
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                common.cast("double")
                / (F.size("ha") + F.size("hb") - common).cast("double")
            ).alias("jaccard"),
            *carry_names,
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash: per-bit majority vote over 32-bit token hashes.

    A pure per-row fold over the token-hash array — no explode, no shuffle,
    one codegen stage over the scan (the exploded groupBy formulation costs
    two shuffles for the same integer arithmetic). Vote sums are integer
    adds, so accumulation order cannot matter and the oracle's
    explode + GROUP BY formulation produces identical values. Ties (zero
    vote sum) set the bit, matching the oracle's ``>= 0``.

    r16 (guide §1.2 per-task work): the per-token vote is ONE
    ``zip_with(acc, powers, ...)`` — the previous shape built a 32-element
    ±1 array per token (``transform`` over a ``sequence``) and then zipped
    it into the accumulator, allocating twice per token for identical
    integer arithmetic. Measured on the sf0.1 fingerprint scan: ~0.93 →
    ~0.85 s warm, 5.8 → 4.8 s first execution; per-element values
    bit-identical (asserted by sorted-collect compare).
    """
    powers = F.array(*[F.lit(1 << i).cast("bigint") for i in range(bits)])
    # NULL-text docs are dropped (not emitted with a NULL fingerprint):
    # the exploded-groupBy formulation and the oracle's unnest both
    # produce no rows for them, and the per-row fold must agree.
    hashed = (
        spread(df)
        .filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc"), token_hash_array(F.col(text_col)).alias("hs")
        )
    )
    votes = F.aggregate(
        F.col("hs"),
        F.array_repeat(F.lit(0).cast("bigint"), bits),
        lambda acc, h: F.zip_with(
            acc,
            powers,
            lambda u, p: u + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            votes,
            powers,
            lambda s, p: F.when(s >= 0, p).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return hashed.select("doc", sim.alias("simhash"))


#: SimHash banding for the pairing rung: 4 bands × 8 bits. By pigeonhole,
#: any pair within Hamming distance ≤ 3 leaves at least one band untouched
#: — so band-collision candidacy is EXACT (zero false negatives) for the
#: default ``max_hamming = 3``, unlike the probabilistic MinHash s-curve.
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 3


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = SIMHASH_MAX_HAMMING,
    bands: int = SIMHASH_BANDS,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash near-dup pairs: banded candidates → Hamming verification.

    The pairing rung the fingerprints exist for: documents agreeing on at
    least one of the ``bands`` fingerprint bands become candidates (explode
    ``bands`` rows per doc, equi-join on (band, band_value) — shuffle
    volume O(docs × bands)); the exact Hamming distance
    ``bit_count(a XOR b)`` then verifies candidates only. With
    ``max_hamming < bands`` the result is exact, not approximate
    (pigeonhole: ≤ max_hamming differing bits cannot touch all bands).
    Output (doc_a, doc_b, hamming), doc_a < doc_b.

    r16 (guide §2.3/§2.4): the fingerprint RIDES the band rows — verifying
    a candidate needs only the two 8-byte fingerprints, which are exactly
    the "keys and metadata instead of payloads" case, so carrying one long
    through the band exchange deletes BOTH verify joins (two shuffles +
    two reads of the fingerprint table): the Hamming distance is computed
    directly on the band join's output, the ``≤ max_hamming`` filter runs
    BEFORE the pair dedup (shrinking the distinct's exchange to true
    pairs), and the distinct on (doc_a, doc_b, hamming) equals the old
    pair-distinct because the fingerprint pair — hence the distance — is
    functionally determined by the pair. Plan: 3 exchanges total (two band
    join sides + the distinct), was 3 + two id-keyed verify joins.
    """
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs < bands={bands} for exactness"
        )
    band_width = bits // bands
    mask = (1 << band_width) - 1
    # ONE fingerprint pass serves both band-join sides (r16, guide §2.3:
    # don't compute things twice — the un-pinned plan tokenizes +
    # md5-hashes + vote-folds the corpus once per join branch). The pinned
    # table is (doc, simhash) — two longs per document. eager=False
    # materializes it inside the first action; on a multi-executor
    # cluster swap for a reliable checkpoint dir (same caveat as the
    # postings checkpoint in jaccard_pairs).
    fps = simhash_fingerprints(df, text_col, id_col, bits).localCheckpoint(
        eager=False
    )
    banded = fps.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * band_width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_value"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bv"),
    ).select("doc", "simhash", "bv.band", "bv.band_value")
    return (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "band_value"])
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("y.doc").alias("doc_b"),
            F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def near_dup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair graph → cluster ids.

    The canonical-selection step of a dedup pipeline: pairs (from any
    detector — exact, Jaccard, MinHash, embedding) define an undirected
    graph; every document gets the minimum doc id of its component as
    ``cluster_id`` (singletons cluster with themselves).

    Implemented as DELTA-FRONTIER min-label propagation with per-round
    POINTER JUMPING (r12), with BROADCAST-FRONTIER rounds (r17) once the
    frontier is driver-known small:

    - only labels that IMPROVED last round propagate — a node's label can
      only drop via a neighbor whose label dropped since it last pushed,
      so the per-round shuffle shrinks from |V|+|E| to
      |edges ⋈ frontier|, which collapses after round 1 on the dense
      components near-dup graphs produce;
    - **broadcast rounds (r17, guide §3.1/§2.4):** the frontier count is
      already driver-known (it doubles as the convergence probe), so once
      it is under :data:`FRONTIER_BROADCAST_MAX_ROWS` the whole round
      runs as broadcast hash joins against the checkpointed labels/edges
      — ZERO corpus-keyed exchanges per round (was ~7 Exchange nodes:
      edges⋈frontier, groupBy(dst), labels⋈nmin, cand⋈lut). The frontier
      shrinks geometrically on near-dup graphs, so at any scale only the
      first round(s) pay shuffle rounds, and the shuffle path remains
      the verbatim fallback;
    - each round ends with a pointer jump: the shuffle path jumps
      ``label ← label[label]`` against the PREVIOUS round's checkpointed
      label map (deliberately NOT the round's own candidate map, whose
      un-materialized subtree would re-execute per jump; see the inline
      comment); the broadcast path jumps twice as hard for free — newly
      assigned labels resolve through the CURRENT label map (a map-side
      broadcast join) and docs whose label-node improved last round
      adopt its new label — measured distance-tripling per round (the
      256-chain test converges in 6 rounds vs 9 for the shuffle jump).
      Round 1 needs no jump at all: labels are the identity there, so
      ``label[label] = label`` by construction (r17 — this deleted the
      round-1 lut join, 2 Exchanges, from every invocation);
    - the convergence probe is FUSED into the round's checkpoint: the
      ``improved`` flag rides the lazily-checkpointed result and the
      frontier ``count()`` is the action that materializes it — one job
      per round carries the round's work, its materialization, and the
      quiescence probe (and the count it returns is what picks the next
      round's join strategy);
    - ``localCheckpoint`` still truncates lineage each round (swap for a
      reliable ``checkpoint`` dir on a real cluster).

    For adversarial graphs two-phase large-star / small-star (Kiveris
    et al. 2014, O(log² n) rounds) remains the documented swap, but
    propagation + jumping already gives the logarithmic behavior on
    every graph shape in this workload. Pass ``stats`` to receive
    ``{"rounds": n}`` back (the convergence-rounds plan gate reads it).

    PRECONDITION: every ``doc_a``/``doc_b`` in ``pairs`` must be an id
    present in ``df`` (r12 advice #2). The round-1 min(src) aggregation
    folds edge endpoints directly into labels, so an id foreign to
    ``df`` would survive ``least()`` and become a real document's
    ``cluster_id``. Every in-repo pair detector (exact, Jaccard,
    MinHash, SimHash, embedding) derives pairs from ``df`` itself, so
    the precondition holds by construction; callers feeding externally
    sourced pairs must semi-join them against ``df`` first.
    """
    docs = df.select(F.col(id_col).alias("doc")).distinct()
    directed = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # materialize the edge list once: the pair detector behind it (an
    # inverted-index join) must not re-execute on every propagation round
    # eager=False (r17): both pins still materialize exactly once — inside
    # round 1's single action (the frontier-count probe) — instead of as
    # two extra blocking driver jobs before the loop starts.
    edges = directed.union(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    labels = docs.select("doc", F.col("doc").alias("label")).localCheckpoint(
        eager=False
    )
    frontier = None  # round 1: every node pushes its own id (see below)
    frontier_rows = -1  # driver-known frontier size (from the probe)
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        if frontier is None:
            # round 1 needs no labels join at all: every pushed label IS
            # the pusher's id, so min-neighbor-label = min(src) per dst —
            # one edge-list aggregation instead of an |E| ⋈ |V| join.
            # No pointer jump either: the label map is the identity, so
            # the lut join the shuffle path pays would resolve c1 → c1.
            neighbor_min = (
                edges.groupBy("dst")
                .agg(F.min("src").alias("nmin"))
                .select(F.col("dst").alias("doc"), "nmin")
            )
            # least() skips NULLs, so nodes with no improving neighbor
            # keep their label; NULL `improved` filters as false below
            merged = labels.join(neighbor_min, "doc", "left").select(
                "doc",
                F.least(F.col("label"), F.col("nmin")).alias("label"),
                (F.col("nmin") < F.col("label")).alias("improved"),
            )
        elif frontier_rows <= FRONTIER_BROADCAST_MAX_ROWS:
            # broadcast round (r17): the frontier count from last round's
            # probe is under the broadcast budget, so every join in the
            # round builds on a broadcast of frontier-bounded rows and the
            # |V| label map / |E| edge list stream through MAP-SIDE only —
            # zero corpus-keyed exchanges (the lone Exchange is the
            # groupBy(dst) over the frontier-adjacent subset).
            f = frontier
            nm = (
                edges.join(
                    F.broadcast(
                        f.select(
                            F.col("doc").alias("src"),
                            F.col("label").alias("flabel"),
                        )
                    ),
                    "src",
                )
                .groupBy("dst")
                .agg(F.min("flabel").alias("cand"))
                .select(F.col("dst").alias("doc"), "cand")
            )
            # jump A: docs whose CURRENT label-node improved last round
            # adopt its new label (map-side: broadcast frontier keyed by
            # node against the full label map)
            jt = labels.join(
                F.broadcast(
                    f.select(
                        F.col("doc").alias("fnode"), F.col("label").alias("jlabel")
                    )
                ),
                F.col("label") == F.col("fnode"),
            ).select("doc", F.col("jlabel").alias("cand"))
            upds = nm.union(jt).groupBy("doc").agg(F.min("cand").alias("cand"))
            # jump B: resolve fresh candidates through the CURRENT label
            # map (cand is always a node id — min over ids — so the inner
            # join keeps every row). Together A+B triple the propagation
            # distance per round where the shuffle path's stale lut
            # doubles it.
            res = labels.alias("l").join(
                F.broadcast(upds.alias("u")),
                F.col("l.doc") == F.col("u.cand"),
            ).select(
                F.col("u.doc").alias("doc"),
                F.least(F.col("u.cand"), F.col("l.label")).alias("cand"),
            )
            merged = labels.join(F.broadcast(res), "doc", "left").select(
                "doc",
                F.least(F.col("label"), F.col("cand")).alias("label"),
                (F.col("cand") < F.col("label")).alias("improved"),
            )
        else:
            # shuffle round: frontier too large to broadcast (early
            # rounds at warehouse scale) — the pre-r17 delta-frontier
            # shape, verbatim
            neighbor_min = (
                edges.join(
                    frontier.select(
                        F.col("doc").alias("src"), F.col("label").alias("flabel")
                    ),
                    "src",
                )
                .groupBy("dst")
                .agg(F.min("flabel").alias("nmin"))
                .select(F.col("dst").alias("doc"), "nmin")
            )
            cand = labels.join(neighbor_min, "doc", "left").select(
                "doc",
                F.col("label").alias("old"),
                F.least(F.col("label"), F.col("nmin")).alias("c1"),
            )
            # pointer jump: label <- label[label] against the PREVIOUS
            # round's checkpointed label map. Candidates only ever hold
            # node ids (min over ids), so every c1 resolves; the jump
            # halves the remaining propagation distance, turning
            # eccentricity-many rounds into ~log(eccentricity) on
            # high-diameter components, for one extra |V| equi-join per
            # round. Jumping through the checkpointed `labels` (not this
            # round's own candidate map) keeps the lut side a cheap
            # ExistingRDD scan — a cand-based lut re-executes the whole
            # cand subtree a second time per round, since cand is never
            # materialized. Pointers are one round staler, which costs at
            # most one extra round while halving per-round work.
            # Jump-improved nodes land in the frontier too — `improved`
            # compares the FINAL label against the old one.
            lut = labels.select(F.col("doc").alias("c1"), F.col("label").alias("c2"))
            merged = cand.join(lut, "c1", "left").select(
                "doc",
                F.least(F.col("c1"), F.col("c2")).alias("label"),
                (F.least(F.col("c1"), F.col("c2")) < F.col("old")).alias(
                    "improved"
                ),
            )
        # eager=False: the frontier count below is the action that
        # materializes the round — one job carries the round's work, the
        # checkpoint, and the quiescence probe (was two: an eager
        # checkpoint job + a limit(1).count()), and its result picks the
        # next round's join strategy.
        merged = merged.localCheckpoint(eager=False)
        frontier = merged.filter(F.col("improved")).select("doc", "label")
        labels = merged.select("doc", "label")
        frontier_rows = frontier.count()
        if frontier_rows == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select(
        F.col("doc").alias(id_col), F.col("label").alias("cluster_id")
    )


def dedup_keep_canonical(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup that keeps one full row per distinct content (min id wins)."""
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(F.col(id_col).asc())
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


#: Span-dedup k-gram width (tokens). 8 ≈ the 50-char spans of the
#: suffix-array dedup literature at this corpus's ~6-char mean token; wide
#: enough that chance collisions vanish, short enough that real repeated
#: passages are caught.
SPAN_WIDTH = 8


def duplicated_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = SPAN_WIDTH,
) -> DataFrame:
    """Per-document duplicated-span profile (suffix-array dedup signal).

    The "what fraction of this document is copied text" measure behind
    span-level training-data dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): a ``width``-token gram
    occurrence counts as duplicated iff that gram appears ≥2 times
    corpus-wide — again in the same document or in any other. A true
    suffix array finds arbitrary-length repeats; fixed-width gram postings
    are the shuffle-friendly approximation (any repeat ≥ width tokens is
    caught by every gram inside it), which is how this runs as three
    bounded shuffles instead of a global sort of every suffix.

    Output: (doc_id, n_spans, n_dup_spans, dup_frac), one row per doc.

    Scale shape: grams are md5-hashed BEFORE the shuffle so the postings
    carry 32-byte keys, not free-text; shuffle 1 groups (gram, doc) —
    partial-agg collapses each doc's repeats map-side; shuffle 2 computes
    corpus-wide gram totals; the totals join back to the per-doc postings
    on the gram hash (equi-join, AQE-sized) and shuffle 3 re-groups by
    doc. Nothing is ever collected; every stage is bounded by the
    postings list, which is |tokens| per document. Short docs (< width
    tokens) contribute their whole-text gram, same fallback as
    fingerprinting, so no document silently drops out of the denominator.
    """
    grams = spread(df).select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(F.col(text_col), width)).alias("gram"),
    ).select("doc", F.md5("gram").alias("g"))
    # pinned (r16): the per-doc occurrence table feeds BOTH the corpus
    # totals aggregation and the postings join — without the pin each
    # consumer re-shingles and re-hashes the corpus (shuffle 1 runs
    # twice). Local-mode caveat as in jaccard_pairs.
    local = (
        grams.groupBy("g", "doc")
        .agg(F.count("*").alias("occ"))
        .localCheckpoint(eager=False)
    )
    totals = local.groupBy("g").agg(F.sum("occ").alias("tot"))
    return (
        local.join(totals, "g")
        .groupBy("doc")
        .agg(
            F.sum("occ").alias("n_spans"),
            F.sum(F.when(F.col("tot") >= 2, F.col("occ")).otherwise(F.lit(0))).alias(
                "n_dup_spans"
            ),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_spans",
            "n_dup_spans",
            F.round(
                F.col("n_dup_spans").cast("double") / F.col("n_spans").cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )
