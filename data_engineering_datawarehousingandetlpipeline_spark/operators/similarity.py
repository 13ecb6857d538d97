"""Similarity search over embedding columns (``array<float>``).

Two paths, mirroring what a 100 TB vector pipeline needs:

- **brute-force cosine top-k** — exact; the crossJoin is bounded by
  broadcasting the (small) query side, so the big side streams through one
  codegen stage with no shuffle. This is the correctness baseline and the
  right choice whenever |queries| × |corpus| fits a scan budget.
- **LSH-bucketed ANN** (random-hyperplane signs) — approximate; documents
  hash to sign-pattern buckets, candidates come only from the query's
  bucket, turning O(Q×N) into O(Q×bucket). The hyperplanes are a
  deterministic md5-derived pseudo-random matrix so results are
  reproducible across engines and runs (no ``Math.random`` anywhere).

All vector math is built-in array expressions (``zip_with`` +
``aggregate``) over DOUBLE — JVM-side, vectorized, no Python UDF. Cosines
are rounded to 6 decimals before ranking so Spark/DuckDB float summation
agrees bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_datawarehousingandetlpipeline_spark.session import spread

#: rounding applied to cosine before thresholding/ranking (engine parity).
COSINE_SCALE = 6


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    da, db = _as_double(a), _as_double(b)
    # try_divide: a zero vector has norm 0 — NULL cosine in both engines
    # instead of an ANSI divide-by-zero failure.
    return F.round(F.try_divide(dot(da, db), norm(da) * norm(db)), COSINE_SCALE)


def cosine_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` (small) broadcasts; the corpus scans once. Ranking uses
    row_number over (query | cosine desc, id asc) — deterministic ties.
    Self-matches are excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("query_vec"), F.col("vec")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def hyperplane(seed: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5 bytes.

    Component j ∈ {−1, +1} by the parity of one md5-derived hex digit —
    reproducible in any engine/language, which keeps the ANN index stable
    across the fleet (a real deployment would persist the matrix; a
    content-derived one needs no storage or broadcast).
    """
    import hashlib

    comps: list[float] = []
    counter = 0
    while len(comps) < dim:
        digest = hashlib.md5(f"plane|{seed}|{counter}".encode()).hexdigest()
        for ch in digest:
            if len(comps) >= dim:
                break
            comps.append(1.0 if int(ch, 16) % 2 == 1 else -1.0)
        counter += 1
    return comps


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit b set iff dot(vec, plane_b) >= 0.

    r17 expression shrink: each plane is ONE array ``Literal`` (``F.lit``
    of the whole list) and the per-bit sign tests fold through a
    ``transform`` + ``zip_with(powers)`` — the previous shape unrolled a
    ``CreateArray`` of ``dim`` scalar literals per plane (1280 expression
    nodes for a 4-table × 5-plane × 64-dim index), whose per-execution
    analysis/codegen dominated the 2000-row scan. Measured on the sf0.1
    tagged build: 2.2 → 1.4 s, bit-identical buckets (same per-plane
    rounding before the sign test, same 2^b weights).
    """
    dv = _as_double(vec)
    planes_arr = F.array(*[F.lit(p) for p in planes])
    powers = F.lit([1 << b for b in range(len(planes))]).cast("array<bigint>")
    # round before the sign test so last-bit float drift between engines
    # cannot flip a bucket bit (same contract as the cosine rounding).
    bits = F.transform(
        planes_arr,
        lambda p: F.when(
            F.round(dot(dv, p), COSINE_SCALE) >= 0, F.lit(1).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(
        F.zip_with(bits, powers, lambda x, w: x * w),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def cosine_top_k_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: candidates share the query's random-hyperplane bucket.

    Recall < 1 by construction (bucket boundaries); at scale the win is
    that each query scores only ~N/2^planes candidates. Same deterministic
    ranking contract as :func:`cosine_top_k`.
    """
    planes = [hyperplane(b, dim) for b in range(n_planes)]
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("query_vec"), F.col("vec")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _centroid_cosine_of(
    dv: Column, nv: Column, cvec: Column, cnorm: Column
) -> Column:
    """Rounded cosine against a centroid (vector, norm), NULL-anchored to −2.

    ``try_divide`` makes a zero-norm side NULL; coalescing to −2 (below any
    real cosine) keeps NULL out of argmax orderings, where Spark and the
    oracle would otherwise need matching NULLS placement everywhere.
    """
    return F.coalesce(
        F.round(F.try_divide(dot(dv, cvec), nv * cnorm), COSINE_SCALE),
        F.lit(-2.0),
    )


def _centroid_cosine(dv: Column, nv: Column) -> Column:
    """:func:`_centroid_cosine_of` against a joined centroid ROW."""
    return _centroid_cosine_of(dv, nv, F.col("cvec"), F.col("cnorm"))


def _packed_centroids(cents: DataFrame) -> DataFrame:
    """The centroid table folded to ONE row: (cs array<struct<cid, cvec,
    cnorm>>) — the broadcast form the per-row argmax consumes."""
    return cents.agg(F.collect_list(F.struct("cid", "cvec", "cnorm")).alias("cs"))


def _best_centroid(dv: Column, nv: Column) -> Column:
    """struct(n = −cos, c = cid) of the nearest centroid in ``cs``.

    ``array_min`` over per-centroid (−cos, cid) structs is the argmax
    with lowest-cid tie-break — identical ordering to
    ``min(struct(-cos, cid))`` but evaluated per ROW over the broadcast
    centroid array, order-independent, no aggregation anywhere.
    """
    return F.array_min(
        F.transform(
            F.col("cs"),
            lambda c: F.struct(
                (-_centroid_cosine_of(dv, nv, c["cvec"], c["cnorm"])).alias("n"),
                c["cid"].alias("c"),
            ),
        )
    )


def _nearest_cid(
    vecs: DataFrame, cents: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(vid, cid[, carry...]) arg-max-cosine assignment, zero exchanges.

    ``vecs`` carries (vid, dv, nv); ``cents`` (cid, cvec, cnorm) and is
    small (the centroid table). r16 (guide §2.4): the table folds to a
    one-row ARRAY that broadcasts, and the argmax is a per-row
    ``array_min`` over per-centroid (−cos, cid) structs — same flops,
    same lowest-cid tie-break as the previous ``groupBy(vid) ·
    min(struct(-cos, cid))`` form, but with NO 16×-row candidate blowup,
    no hash aggregate, and no exchange: the previous shape shuffled one
    row per vector only to reunite groups that were already co-located
    (the broadcast crossJoin emits every (vid, centroid) pair on the
    vid's own partition). ``carry`` columns simply stay on the row —
    the ``any_value`` plumbing is gone. An empty centroid table yields
    NULL cids, filtered to preserve the old empty-result contract.
    """
    best = _best_centroid(F.col("dv"), F.col("nv"))
    return (
        vecs.crossJoin(F.broadcast(_packed_centroids(cents)))
        .select("vid", best.getField("c").alias("cid"), *carry)
        .filter(F.col("cid").isNotNull())
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
) -> DataFrame:
    """Deterministic Lloyd k-means: (cid, cvec array<double>) after
    ``iterations`` rounds from a seeded init (the ``n_centroids``
    LOWEST-id vectors present — reproducible in any engine, no RNG, and
    robust to filtered corpora whose ids do not start at 0; cid is the
    seed's own id).

    Every step is engine-portable arithmetic: assignment uses rounded
    cosines with cid tie-breaks; the update is a per-dimension
    decimal-anchored average (exact, order-independent sum) rounded to the
    cosine scale — so the DuckDB oracle's unrolled iterations reproduce
    the centroids bit-for-bit. An empty cluster keeps its previous
    centroid (left join + coalesce). ``localCheckpoint`` pins each
    round's 16-row result so the final plan does not re-execute the
    training cascade per downstream use.

    r16 optimization (guide §2.4), in two steps: (1) the assignment
    argmax carries ``dv`` through to the update's posexplode, so the
    per-round ``assigned ⋈ train`` equi-join (a second corpus pass +
    sort-merge join at warehouse scale) is gone; (2) the argmax itself
    became the per-row ``array_min`` over a broadcast centroid ARRAY
    (:func:`_nearest_cid`), deleting the corpus-wide argmax exchange.
    Per round: one exchange-free assignment scan, one posexplode + two
    aggregations — two exchanges, was four. (A fully fused alternative —
    one groupBy(cid) over ``dim`` per-dimension decimal averages, no
    explode — was measured SLOWER: a 64-wide decimal aggregate exceeds
    codegen's practical width and runs interpreted; the explode keeps
    every stage narrow and codegen-friendly. Measured r16 at sf0.1:
    fused 3.3–4.8 s vs explode 1.4–1.8 s for the 2-iteration training.
    The array argmax measured a local wash vs the groupBy argmax —
    2.1–2.9 s both, interleaved — and is kept for the structural win:
    one fewer full-corpus exchange per assignment pass.)

    ``train_fraction`` subsamples the Lloyd iterations deterministically
    (keep iff ``md5(id) < fraction × 2³²`` — reproducible on any engine,
    no RNG): at warehouse scale the coarse quantizer trains on a sample,
    not on full-corpus passes. Seeding still uses the full corpus's
    ``n_centroids`` lowest ids, so the centroid COUNT never depends on
    the sample.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.functions.numeric import (
        davg,
    )

    vecs = (
        spread(corpus)
        .select(F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("dv"))
        .withColumn("nv", norm(F.col("dv")))
    )
    # TakeOrdered (per-partition top-k, no full shuffle), not a filter on
    # `vid < n`: a pre-filtered corpus may have no ids below n_centroids,
    # which would silently yield zero centroids and an empty result. cid
    # is the seed's RANK (dense 0..n-1 int), not the vid itself: vids can
    # exceed int range (hash/snowflake ids), where a cast would overflow
    # under ANSI. Rank is monotone in vid, so tie-break order — and on a
    # 0-based corpus the cid values themselves — are unchanged. The
    # window spans only the n seed rows, not the corpus.
    seeds = vecs.orderBy("vid").limit(n_centroids)
    # Rank via collect_list → array_sort → posexplode, NOT an unpartitioned
    # row_number window: the work is identical (n_centroids rows on one
    # task either way) but WindowExec would log its single-partition scale
    # warning — and Spark 4 folds away a constant partitionBy(lit) key, so
    # that warning cannot be silenced spec-side. Keeping the log clean
    # preserves the warning's signal value where it marks a REAL
    # corpus-wide window. Struct sort orders by vid (first field; unique).
    packed = seeds.agg(
        F.array_sort(F.collect_list(F.struct("vid", "dv"))).alias("a")
    )
    cents = packed.select(F.posexplode("a").alias("pos", "s")).select(
        F.col("pos").cast("int").alias("cid"),
        F.col("s.dv").alias("cvec"),
    )
    train = vecs
    if train_fraction is not None:
        from data_engineering_datawarehousingandetlpipeline_spark.functions.hashing import (
            u32_hash,
        )

        train = vecs.filter(
            u32_hash(F.col("vid").cast("string"))
            < F.lit(int(train_fraction * (1 << 32)))
        )
    for _ in range(iterations):
        cents_n = cents.withColumn("cnorm", norm(F.col("cvec")))
        assigned = _nearest_cid(train, cents_n, carry=("dv",))
        per_dim = (
            assigned.select("cid", F.posexplode("dv").alias("dim", "val"))
            .groupBy("cid", "dim")
            .agg(F.round(davg(F.col("val"), wide=True), COSINE_SCALE).alias("cval"))
        )
        newc = per_dim.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                lambda s: s["cval"],
            ).alias("cvec")
        )
        cents = (
            cents.alias("o")
            .join(newc.alias("n"), "cid", "left")
            .select(
                F.col("cid"),
                F.coalesce(F.col("n.cvec"), F.col("o.cvec")).alias("cvec"),
            )
            # eager=False: the tiny centroid table still materializes ONCE
            # (then serves every downstream use — assignment and probing)
            # but as part of the final action instead of one blocking driver
            # job per Lloyd round. Measured at sf0.1: 4.7-13 s → a stable
            # 3.6 s, because the training cascade JITs and schedules inside
            # one action. Lineage is still truncated at each round.
            .localCheckpoint(eager=False)
        )
    return cents


def ivf_assign(
    corpus: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its nearest TRAINED centroid —
    the IVF index-maintenance rung (r16): folding a new embedding shard
    into an existing index is exactly this assignment pass over the NEW
    shard only, no re-clustering, no full-corpus pass.

    ``cents`` is a trained quantizer table (cid, cvec) — from
    :func:`kmeans_centroids` at build time, or read back from wherever
    the index persists it. Returns (vid, cid, ccos): the winning
    centroid and the rounded assignment cosine (−2-anchored like every
    centroid cosine here) — the quality signal an index monitor
    aggregates to detect quantizer drift (new data scoring
    systematically low cosines means the coarse quantizer no longer
    fits the incoming distribution and a re-train is due).

    Scale shape (r16): the centroid table folds to a one-row broadcast
    ARRAY and the argmax is a per-row ``array_min`` over (−cos, cid)
    structs (:func:`_best_centroid`) — the shard streams through one
    codegen stage with NO exchange and no per-(vector × centroid) row
    blowup. At 100 TB the daily index maintenance cost is proportional
    to the day's NEW shard, and is scan-bound, not shuffle-bound.
    """
    vecs = (
        spread(corpus)
        .select(
            F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("dv")
        )
        .withColumn("nv", norm(F.col("dv")))
    )
    if "cnorm" not in cents.columns:
        cents = cents.withColumn("cnorm", norm(F.col("cvec")))
    # two projections, one `b` reference each: CollapseProject keeps the
    # non-cheap array_min alias un-inlined, so the argmax evaluates once
    # even though two output columns read it.
    return (
        vecs.crossJoin(F.broadcast(_packed_centroids(cents)))
        .select("vid", _best_centroid(F.col("dv"), F.col("nv")).alias("b"))
        .select(
            "vid",
            F.col("b").getField("c").alias("cid"),
            (-F.col("b").getField("n")).alias("ccos"),
        )
        .filter(F.col("cid").isNotNull())
    )


def cosine_top_k_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
) -> DataFrame:
    """IVF-style ANN top-k: k-means coarse quantizer, probe nearest clusters.

    The inverted-file structure: every corpus vector is assigned to its
    nearest trained centroid (:func:`kmeans_centroids`); a query scores
    only vectors in its ``n_probe`` nearest clusters. Assignment and
    probing join against the broadcast centroid TABLE — unlike a literal
    centroid matrix in the expression tree this scales to production
    ``nlist`` (thousands), where literal trees make Catalyst planning cost
    dominate execution. The only wide operations are the partial-agg
    argmax and the final per-query top-k; the IVF win is scoring
    ~n_probe/n_centroids of the corpus instead of all of it.

    r16: the corpus assignment carries the vector payload through the
    argmax (``_nearest_cid`` carry) instead of joining back to the
    corpus — one corpus pass and one exchange fewer (guide §2.4).
    """
    cents = kmeans_centroids(
        corpus, n_centroids, iterations, id_col, vec_col, train_fraction
    ).withColumn("cnorm", norm(F.col("cvec")))

    corpus_pre = spread(corpus).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        _as_double(F.col(vec_col)).alias("dv"),
    ).withColumn("nv", norm(F.col("dv")))
    assigned = _nearest_cid(corpus_pre, cents, carry=("vec",)).select(
        F.col("vid").alias("neighbor_id"), "vec", "cid"
    )

    query_pre = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        _as_double(F.col(vec_col)).alias("dv"),
    ).withColumn("nv", norm(F.col("dv")))
    qpairs = query_pre.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "query_vec",
        "cid",
        _centroid_cosine(F.col("dv"), F.col("nv")).alias("csim"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cid").asc()
    )
    probes = (
        qpairs.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "query_vec", "cid")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("query_vec"), F.col("vec")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def cosine_top_k_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    iterations: int = 2,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
) -> DataFrame:
    """IVF + int8 compressed-index ANN top-k with full-precision re-rank.

    The faiss-standard serving layout (IVF + scalar quantization): the
    inverted file stores only the QUANTIZED vectors (int8 codes + one
    scale — 4× smaller than float32, which at 100 TB is the difference
    between an index that fits executor memory and one that doesn't).
    A query scores its ``n_probe`` clusters in the compressed domain
    (cosine against the dequantized codes), keeps the best ``rerank``
    candidates (default ``3k``), and re-scores only those survivors
    against the full-precision vectors — so the expensive exact pass is
    candidate-bounded (|queries| × rerank rows, broadcastable), while the
    bulk scan touches nothing but int8 codes.

    The fidelity contract behind the default: ``quantization_error_profile``
    measures reconstruction cosine ≈ 1 at int8, so the compressed-domain
    ranking rarely demotes a true top-k neighbor below rank ``3k``
    (tests/test_ann_recall.py gates recall ≥ 0.8 against the exact
    baseline). Output carries both scores — ``cos_q`` (compressed) and
    ``cos_sim`` (exact, the ranking key) — so the per-row compression gap
    is observable. Deterministic end-to-end: rounded cosines, id
    tie-breaks, deterministic k-means (:func:`kmeans_centroids`).
    """
    if rerank is None:
        rerank = 3 * k
    cents = kmeans_centroids(
        corpus, n_centroids, iterations, id_col, vec_col, train_fraction
    ).withColumn("cnorm", norm(F.col("cvec")))

    corpus_pre = spread(corpus).select(
        F.col(id_col).alias("vid"),
        _as_double(F.col(vec_col)).alias("dv"),
        scalar_quantize(F.col(vec_col)).alias("quant"),
    ).withColumn("nv", norm(F.col("dv")))
    # the inverted file: (cid, neighbor_id, quant) — codes only, no
    # full-precision vectors (those re-join from the parquet scan at
    # re-rank time, column-pruned to the survivor ids). The codes ride
    # the argmax aggregation (carry) instead of a join back to the scan.
    assigned = _nearest_cid(corpus_pre, cents, carry=("quant",)).select(
        F.col("vid").alias("neighbor_id"), "quant", "cid"
    )

    query_pre = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        _as_double(F.col(vec_col)).alias("dv"),
    ).withColumn("nv", norm(F.col("dv")))
    qpairs = query_pre.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "query_vec",
        "cid",
        _centroid_cosine(F.col("dv"), F.col("nv")).alias("csim"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cid").asc()
    )
    probes = (
        qpairs.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "query_vec", "cid")
    )
    # compressed-domain pass: cosine against the dequantized codes.
    approx = (
        assigned.join(F.broadcast(probes), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "query_vec",
            "neighbor_id",
            cosine(F.col("query_vec"), dequantize(F.col("quant"))).alias("cos_q"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos_q").desc(), F.col("neighbor_id").asc()
    )
    survivors = (
        approx.withColumn("rq", F.row_number().over(wr))
        .filter(F.col("rq") <= rerank)
        .select("query_id", "query_vec", "neighbor_id", "cos_q")
    )
    # full-precision re-rank of the survivors only.
    full = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec")
    )
    scored = survivors.join(full, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        "cos_q",
        cosine(F.col("query_vec"), F.col("vec")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def hard_negative_mine(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive-pair mining: best positive + hardest negative per query.

    The training-data prep step for embedding/retrieval models: for each
    query vector, the highest-cosine SAME-label neighbor is the positive
    and the highest-cosine DIFFERENT-label neighbor is the hard negative
    (the near-miss that actually shapes the decision boundary — random
    negatives are trivially separable and teach nothing).

    Plan shape: one corpus scan against the broadcast query set (the
    exact brute-force contract of :func:`cosine_top_k`), then BOTH
    argmaxes ride a single partial-agg ``groupBy`` as conditional
    ``min(when(...))`` structs — one shuffled row per query, never two
    passes. Cosines are NULL-anchored to −2 (zero-norm convention of
    :func:`_centroid_cosine`) so NULL can't win an argmax; a query with
    no same-label (or no different-label) neighbor reports NULLs rather
    than vanishing. At warehouse scale, swap the scored base for the IVF
    probe set (:func:`cosine_top_k_ivf`'s assignment machinery) — the
    argmax stage is unchanged.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.col(label_col).alias("query_label"),
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        F.col(label_col).alias("neighbor_label"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            F.coalesce(
                cosine(F.col("query_vec"), F.col("vec")), F.lit(-2.0)
            ).alias("cos"),
        )
    )
    same = F.col("neighbor_label") == F.col("query_label")
    best = F.struct(
        (-F.col("cos")).alias("n"), F.col("neighbor_id").alias("i")
    )
    agg = scored.groupBy("query_id", "query_label").agg(
        F.min(F.when(same, best)).alias("p"),
        F.min(F.when(~same, best)).alias("g"),
    )
    return agg.select(
        "query_id",
        "query_label",
        F.col("p.i").alias("pos_id"),
        (-F.col("p.n")).alias("pos_cos"),
        F.col("g.i").alias("neg_id"),
        (-F.col("g.n")).alias("neg_cos"),
    ).orderBy("query_id")


def _l2sq(a: Column, b: Column) -> Column:
    """Sequential-fold squared-L2 distance.

    Bit-identical to the previous ``dot(zip_with(a,b,−), zip_with(a,b,−))``
    form — element i contributes ``(a_i−b_i)·(a_i−b_i)`` and the fold order
    is the same sequential ``aggregate`` — but builds ONE diff array per
    evaluation instead of two.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _packed_codebooks(codebooks: DataFrame) -> DataFrame:
    """The PQ codebook table folded to ONE row: (cbs array<struct<s, cid,
    cvec>>) — the broadcast form the per-row argmin consumes (the
    :func:`_packed_centroids` pattern, subspace-keyed).

    Kept FLAT (r17): a subspace-grouped packing (array indexed by s, the
    ADVICE r16 suggestion, asymptotically O(m·(m+k)) struct scans per
    reconstructed row instead of O(m²·k)) was built and measured SLOWER —
    warm steady-state 1.02 s vs 0.87 s for the flat form on the sf0.1
    reconstruction, +1.2 s on the full emb_pq_topk isolate — the nested
    array<struct<s, array<struct<cid, cvec>>>> costs more in per-element
    copying and codegen than the m×k=128-entry linear filter it avoids at
    this codebook size."""
    return codebooks.agg(F.collect_list(F.struct("s", "cid", "cvec")).alias("cbs"))


def _best_codeword(sub: Column, s: Column, with_vec: bool = True) -> Column:
    """struct(d, c[, v]) of subspace ``s``'s nearest codeword in ``cbs``.

    ``array_min`` over per-codeword (rounded L2², cid[, cvec]) structs —
    identical ordering to the previous ``min(struct(d, c[, v]))``
    aggregate argmin ((d, c) is unique per subspace, so the carried ``v``
    never participates in a comparison), but evaluated per ROW over the
    broadcast codebook array: no candidate-row explosion, no aggregation,
    no exchange (the :func:`_best_centroid` pattern).

    ``with_vec=False`` (r17, ADVICE): the training loop consumes only
    ``.getField("c")``, so its argmin structs skip the codeword-vector
    copy Catalyst would otherwise build k times per subvector row.
    """

    def entry(c: Column) -> Column:
        d = F.round(_l2sq(sub, c["cvec"]), COSINE_SCALE).alias("d")
        if with_vec:
            return F.struct(d, c["cid"].alias("c"), c["cvec"].alias("v"))
        return F.struct(d, c["cid"].alias("c"))

    return F.array_min(
        F.transform(F.filter(F.col("cbs"), lambda c: c["s"] == s), entry)
    )


def pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    n_codewords: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks: per-subspace deterministic k-means.

    Jégou et al.'s PQ (TPAMI 2011): split each vector into ``m``
    contiguous subvectors of ``dim // m`` components and train an
    INDEPENDENT ``n_codewords``-centroid codebook per subspace, so a
    vector encodes as ``m`` small codes — ``m·log2(k)`` bits
    (8 subspaces × 16 codewords = 4 bytes/vector here vs 256 for
    float32×64: 64× compression, the regime where a 100 TB corpus's index
    fits executor memory).

    Training mirrors :func:`kmeans_centroids`' engine-portable contract —
    seeded init from the ``n_codewords`` lowest-id vectors (cid = seed
    rank per subspace), L2² assignment distances rounded to
    :data:`COSINE_SCALE` with cid tie-breaks, decimal-anchored
    per-dimension mean updates, empty clusters keep their previous
    codeword — but runs ALL ``m`` subspaces in one keyed plan: the
    subvector table (``m`` rows per vector) streams against the broadcast
    one-row codebook ARRAY, and the update groups by (subspace, codeword,
    dimension). No per-subspace driver loop — adding subspaces widens the
    keyed tables, not the plan.

    r16 (guide §2.4, the :func:`_nearest_cid` pattern): the per-(vector,
    subspace) argmin is a per-row ``array_min`` over the broadcast
    codebook array filtered to the row's subspace — the previous shape
    exploded ``n_codewords`` candidate rows per subvector and shuffled a
    ``groupBy(vid, s) · min(struct(d2, cid))`` argmin (a corpus × m row
    exchange per Lloyd round) only to reunite rows the broadcast join had
    already co-located; and the winning assignment CARRIES ``sub``
    through to the update's posexplode, deleting the per-round
    ``assigned ⋈ subs`` join (a second subvector-table pass). Identical
    arithmetic: the rounded sequential-fold L2² and the (d2, cid) struct
    ordering are unchanged expression-for-expression. Per round: one
    exchange-free assignment scan + the (s, cid, dim)-keyed update
    aggregate — two exchanges, was four plus a join.

    Returns (s, cid, cvec array<double>), ``m × n_codewords`` rows.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.functions.numeric import (
        davg,
    )

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_d = dim // m

    def slices(dv: Column) -> Column:
        return F.array(*[F.slice(dv, s * sub_d + 1, sub_d) for s in range(m)])

    subs = spread(corpus).select(
        F.posexplode(slices(_as_double(F.col(vec_col)))).alias("s", "sub"),
    )
    # seed ranking via packed sort, not a window (kmeans_centroids
    # convention — keeps the single-partition WindowExec warning
    # meaningful where it marks real corpus-wide windows)
    seed_rows = corpus.orderBy(id_col).limit(n_codewords).select(
        F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("dv")
    )
    packed = seed_rows.agg(
        F.array_sort(F.collect_list(F.struct("vid", "dv"))).alias("a")
    )
    cents = (
        packed.select(F.posexplode("a").alias("pos", "st"))
        .select(
            F.col("pos").cast("int").alias("cid"),
            F.posexplode(slices(F.col("st.dv"))).alias("s", "cvec"),
        )
        .select("s", "cid", "cvec")
    )
    for _ in range(iterations):
        assigned = (
            subs.crossJoin(F.broadcast(_packed_codebooks(cents)))
            .select(
                "s",
                _best_codeword(F.col("sub"), F.col("s"), with_vec=False)
                .getField("c")
                .alias("cid"),
                "sub",
            )
            .filter(F.col("cid").isNotNull())
        )
        per_dim = (
            assigned.select("s", "cid", F.posexplode("sub").alias("dim", "val"))
            .groupBy("s", "cid", "dim")
            .agg(F.round(davg(F.col("val"), wide=True), COSINE_SCALE).alias("cval"))
        )
        newc = per_dim.groupBy("s", "cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                lambda st: st["cval"],
            ).alias("cvec")
        )
        cents = (
            cents.alias("o")
            .join(newc.alias("n"), ["s", "cid"], "left")
            .select(
                F.col("s"),
                F.col("cid"),
                F.coalesce(F.col("n.cvec"), F.col("o.cvec")).alias("cvec"),
            )
            .localCheckpoint(eager=False)  # m×k rows, pins the cascade
        )
    return cents


def pq_reconstruct(
    corpus: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its m nearest codewords and reconstruct.

    The encode step (argmin codeword per subspace, same rounded-L2² +
    cid tie-break contract as training) immediately composed with the
    decode (concatenate the m winning codewords): returns
    (``id_col``, recon array<double>), the lossy vector the compressed
    index actually scores.

    r16 (guide §2.4): fully per-row. The previous shape exploded ``m``
    subvector rows per vector, shuffled a ``groupBy(vid, s)`` argmin over
    the ``m × n_codewords`` candidate join, then shuffled AGAIN on
    ``vid`` to reassemble the winners — two corpus-sized exchanges to
    compute something every row can decide alone. Now the codebook table
    folds to a one-row broadcast array and each vector picks all ``m``
    winners with per-row ``array_min`` (:func:`_best_codeword`) over its
    pre-projected subvector slices, concatenated in subspace order —
    ZERO exchanges, one codegen stage over the scan. Same flops, same
    rounded-L2² + cid tie-break, so the reconstruction is bit-identical.
    Contract: ``codebooks`` must cover every subspace 0..m−1 (what
    :func:`pq_codebooks` produces) — rows reconstruct NULL and are
    dropped otherwise.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_d = dim // m
    # two-step projection: the double cast evaluates once (multi-reference
    # aliases stay un-inlined), then each slice materializes once per row
    # and feeds its subspace's argmin as a cheap column reference.
    pre = (
        spread(corpus)
        .select(F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("dvv"))
        .select(
            "vid",
            *[
                F.slice(F.col("dvv"), s * sub_d + 1, sub_d).alias(f"__sub{s}")
                for s in range(m)
            ],
        )
    )
    recon = F.concat(
        *[
            _best_codeword(F.col(f"__sub{s}"), F.lit(s)).getField("v")
            for s in range(m)
        ]
    )
    return (
        pre.crossJoin(F.broadcast(_packed_codebooks(codebooks)))
        .select(F.col("vid").alias(id_col), recon.alias("recon"))
        .filter(F.col("recon").isNotNull())
    )


def cosine_top_k_pq(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    m: int = 8,
    n_codewords: int = 16,
    iterations: int = 2,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-compressed top-k: ADC scoring + full-precision re-rank.

    Asymmetric distance computation, cosine form: the raw query scores
    against each corpus vector's PQ RECONSTRUCTION (queries stay exact —
    the asymmetry that makes ADC beat symmetric code-vs-code scoring),
    the best ``rerank`` (default ``3k``) candidates per query re-score
    against the full-precision vectors, and the exact score ranks the
    final top-k. Same output contract as :func:`cosine_top_k_ivfpq`
    (query_id, neighbor_id, cos_q, cos_sim, rank) — cos_q here is the
    PQ-domain score, so the per-row compression gap is observable at 64×
    compression instead of int8's 4×. Recall is gated in
    tests/test_ann_recall.py alongside the other approximate indexes.
    """
    if rerank is None:
        rerank = 3 * k
    books = pq_codebooks(
        corpus, dim, m, n_codewords, iterations, id_col, vec_col
    )
    recon = pq_reconstruct(corpus, books, dim, m, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "recon"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    approx = (
        recon.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "query_vec",
            "neighbor_id",
            cosine(F.col("query_vec"), F.col("recon")).alias("cos_q"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos_q").desc(), F.col("neighbor_id").asc()
    )
    survivors = (
        approx.withColumn("rq", F.row_number().over(wr))
        .filter(F.col("rq") <= rerank)
        .select("query_id", "query_vec", "neighbor_id", "cos_q")
    )
    full = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec")
    )
    scored = survivors.join(full, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        "cos_q",
        cosine(F.col("query_vec"), F.col("vec")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def planes_for_corpus(n_rows: int, target_bucket_size: int = 64) -> int:
    """Plane count that keeps expected bucket occupancy near the target.

    Each hyperplane halves the expected bucket population, so
    ``ceil(log2(n / target))`` planes leave ~``target_bucket_size`` vectors
    per bucket — the knob that must GROW with the corpus, or the
    within-bucket self-join goes quadratic (fixed 8 planes = 256 buckets
    is millions of vectors per bucket at 100 TB). Floor of 4 keeps tiny
    corpora from degenerating to a near-cross-join.
    """
    import math

    return max(4, math.ceil(math.log2(max(2, n_rows / target_bucket_size))))


def lsh_table_tags(vec: Column, n_planes: int, n_tables: int, dim: int) -> Column:
    """The OR-amplified LSH tags of ``vec``: an explode of one
    ``struct(tbl, bucket)`` per table, to be selected as ``tb`` beside the
    id and unpacked to ``tb.tbl``/``tb.bucket``. Table ``t`` owns the md5
    planes ``t * n_planes + b``, so every table's plane set is disjoint
    and any two callers with the same geometry bucket bit-identically."""
    table_planes = [
        [hyperplane(t * n_planes + b, dim) for b in range(n_planes)]
        for t in range(n_tables)
    ]
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"), lsh_bucket(vec, planes).alias("bucket")
                )
                for t, planes in enumerate(table_planes)
            ]
        )
    )


def _near_dup_tagged(
    df: DataFrame,
    n_planes: int | None,
    n_tables: int,
    dim: int,
    id_col: str,
    vec_col: str,
    corpus_rows: int | None,
    target_bucket_size: int,
    auto_count_limit: int,
    stats: dict | None = None,
) -> DataFrame:
    """(vid, tbl, bucket) LSH bucket tags, one row per vector per table.

    The sizing / plane-count-derivation seam of
    :func:`embedding_near_dup_pairs` (docstring there), which pins the
    result with ``localCheckpoint``. Pass ``stats`` to receive the
    resolved plane count back as ``{"n_planes": n}``.
    """
    if n_planes is None:
        if corpus_rows is None:
            import warnings

            warnings.warn(
                "embedding_near_dup_pairs: neither n_planes nor corpus_rows "
                "given — running an eager sizing count (one extra corpus "
                "scan, capped at auto_count_limit+1 rows) to size the LSH "
                "index. Pass corpus_rows (any recent estimate) at "
                "warehouse scale.",
                stacklevel=2,
            )
            # limit(N+1) short-circuits the probe: an over-limit corpus
            # refuses after ~N rows instead of after a full scan, and an
            # under-limit probe equals the exact count.
            corpus_rows = df.limit(auto_count_limit + 1).count()
            if corpus_rows > auto_count_limit:
                raise ValueError(
                    f"embedding_near_dup_pairs: corpus exceeds "
                    f"auto_count_limit={auto_count_limit} rows. At this "
                    "scale the sizing scan must not be implicit — pass "
                    "corpus_rows (any recent estimate) or an explicit "
                    "n_planes."
                )
        n_planes = planes_for_corpus(corpus_rows, target_bucket_size)
    if stats is not None:
        stats["n_planes"] = n_planes
    # candidates carry only the ids — verification re-joins the vectors
    # from df, so the exploded per-table stream stays narrow.
    return (
        spread(df)
        .select(
            F.col(id_col).alias("vid"),
            lsh_table_tags(F.col(vec_col), n_planes, n_tables, dim).alias("tb"),
        )
        .select("vid", "tb.tbl", "tb.bucket")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n_planes: int | None = None,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_rows: int | None = None,
    target_bucket_size: int = 64,
    auto_count_limit: int = 1_000_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via OR-amplified LSH buckets.

    ``n_tables`` independent hyperplane tables (disjoint md5-seeded plane
    sets); a pair is a candidate if it shares a bucket in ANY table —
    OR-amplification lifts recall the way MinHash banding does, while each
    table's plane count keeps per-bucket populations bounded so no
    self-join cell goes quadratic.

    Plane-count resolution (the scale-critical knob): an explicit
    ``n_planes`` wins (pin it for replayable runs); otherwise it is derived
    via :func:`planes_for_corpus` from ``corpus_rows`` if given, else from
    a one-time sizing count. The count is an extra corpus scan, so
    deployments at warehouse scale MUST pass ``corpus_rows`` (any recent
    row-count estimate is fine — occupancy only needs the right order of
    magnitude): the bare form is a convenience for small/interactive
    corpora and RAISES once the corpus exceeds ``auto_count_limit`` rows
    (r9 behavior change — previously a warning; see CHANGELOG.md),
    because an accidental extra scan of a warehouse-sized table is real
    money and should fail loudly, not warn quietly. The sizing count is
    a ``limit(auto_count_limit + 1).count()`` probe, so on an over-limit
    warehouse table the refusal short-circuits after ~``auto_count_limit``
    rows instead of paying the full scan first; under the limit the probe
    IS the exact row count. A mis-SIZED index is the worse failure: a
    fixed small plane count at 100 TB puts millions of vectors in every
    bucket and the within-bucket join goes quadratic. Candidates are
    deduped across tables BEFORE verification, then joined back to the
    vectors and filtered by exact rounded cosine — verify work is
    O(distinct candidates). Output (id_a, id_b, cos_sim), id_a < id_b.
    """
    # Sizing + bucket tagging live in the pre-pin seam, which can report
    # the resolved plane count (the pin below hides the bucket expression
    # behind a Scan ExistingRDD).
    tagged = _near_dup_tagged(
        df,
        n_planes=n_planes,
        n_tables=n_tables,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        corpus_rows=corpus_rows,
        target_bucket_size=target_bucket_size,
        auto_count_limit=auto_count_limit,
        # pinned (r16): both sides of the bucket self-join read this table
        # — without the pin each side recomputes all n_tables × n_planes
        # hyperplane dot products over the corpus. Pinned size is
        # n_tables rows of (vid, tbl, bucket) per vector.
    ).localCheckpoint(eager=False)
    cand = (
        tagged.alias("x")
        .join(tagged.alias("y"), ["tbl", "bucket"])
        .filter(F.col("x.vid") < F.col("y.vid"))
        .select(F.col("x.vid").alias("id_a"), F.col("y.vid").alias("id_b"))
        .distinct()
    )
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    # the threshold filter stays pushable into the verify join: the join
    # then emits only surviving pairs (see minhash_near_dup_pairs for the
    # measured trade-off vs a pushdown barrier).
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine(F.col("vec_a"), F.col("vec_b")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.8,
    n_centroids: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
) -> DataFrame:
    """SemDeDup-style cluster-bounded semantic dedup (Abbas et al. 2023).

    Cluster the corpus with the deterministic k-means coarse quantizer
    (:func:`kmeans_centroids`), then compute pairwise cosines only WITHIN
    each cluster and flag a vector as ``pruned`` when any smaller-id
    member of its cluster matches at ≥ ``threshold``. Unlike the
    LSH-bucketed :func:`embedding_near_dup_pairs` (which targets pair
    RECALL), this is the keep/drop decision a pretraining pipeline feeds
    to its filter stage: one row per vector, ``pruned`` = drop.

    Scale shape: the only quadratic work is the within-cluster self-join,
    and cluster population is ~``corpus / n_centroids`` — so ``n_centroids``
    is the knob that must grow with the corpus (exactly the paper's setup:
    tens of thousands of clusters at web scale). Assignment is a broadcast
    join + partial-agg argmax (one shuffled row per vector), the pairwise
    join shuffles on well-distributed ``cid``, and the keep rule is a
    single pass — no iteration, no driver-side loop.

    The keep rule is deliberately one-pass greedy (prune iff ANY
    smaller-id in-cluster neighbor ≥ threshold): a pruned vector can still
    shadow later ids, matching the usual single-sweep near-dup convention
    and keeping the operator a pure join + anti-lookup at any scale.
    Output (``id_col``, cid, pruned), ordered by id.
    """
    cents = kmeans_centroids(
        corpus, n_centroids, iterations, id_col, vec_col, train_fraction
    ).withColumn("cnorm", norm(F.col("cvec")))
    vecs = (
        spread(corpus)
        .select(F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("dv"))
        .withColumn("nv", norm(F.col("dv")))
    )
    # Pin the assignment WITH the vector payload riding it (r17): it
    # feeds both self-join sides and the final output, and without the
    # checkpoint the argmax assignment scan (corpus × broadcast
    # centroids) would re-execute once per use — three full passes at
    # warehouse scale. Carrying (dv, nv) through the argmax deletes the
    # vecs ⋈ assignment re-attach join the previous narrow (vid, cid)
    # pin paid — two corpus-keyed exchanges + sort for columns the
    # assignment scan already held (guide §2.4; measured 3.60 → 3.22 s
    # warm at sf0.1, bit-identical output). The pinned table is
    # dim+1 doubles wider per row — the same rows the self-join sides
    # materialize anyway.
    assigned = _nearest_cid(vecs, cents, carry=("dv", "nv")).localCheckpoint(
        eager=False
    )
    assign_ids = assigned.select("vid", "cid")
    # norms ride the join sides: nv is already computed per VECTOR on the
    # scan, so the O(cluster²) pairwise filter pays one O(dim) dot product
    # per pair — not two extra O(dim) norm folds per pair. Bit-identical
    # to cosine() (dv is already double; nv = norm(dv)).
    left = assigned.select(
        "cid", F.col("vid").alias("id_a"), F.col("dv").alias("dva"),
        F.col("nv").alias("nva"),
    )
    right = assigned.select(
        "cid", F.col("vid").alias("id_b"), F.col("dv").alias("dvb"),
        F.col("nv").alias("nvb"),
    )
    pair_cos = F.round(
        F.try_divide(dot(F.col("dva"), F.col("dvb")), F.col("nva") * F.col("nvb")),
        COSINE_SCALE,
    )
    pruned = (
        left.join(right, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(pair_cos >= threshold)
        .select(F.col("id_b").alias("vid"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        assign_ids.join(pruned, "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            F.col("cid"),
            F.coalesce(F.col("is_dup"), F.lit(False)).alias("pruned"),
        )
        .orderBy(id_col)
    )


def cluster_profile(
    corpus: DataFrame,
    n_centroids: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
) -> DataFrame:
    """Per-cluster diagnostics for the k-means coarse quantizer.

    The index-health check an ANN/SemDeDup deployment runs before trusting
    its clustering: per centroid, the member count (occupancy — skewed
    occupancy means the LSH/IVF probe cost is unbalanced), the mean cosine
    of members to their centroid (cohesion), and the worst member cosine
    (radius). Empty clusters surface with ``n_vecs = 0`` and NULL stats —
    exactly the clusters wasting index slots.

    One broadcast scan computes assignment AND the member-to-centroid
    cosine together; the profile is then a partial-agg groupBy on ``cid``
    whose state is three numbers per cluster. Mean cosine is
    decimal-anchored (:func:`...functions.numeric.davg`) so the profile
    value-hash-matches any engine at any partitioning. Scale: one corpus
    scan + one ``n_centroids``-sized shuffle — scan-bound at 100 TB.

    r16 (guide §2.4): the per-vector argmax is :func:`ivf_assign`'s
    per-row ``array_min`` over the broadcast one-row centroid ARRAY —
    the previous ``groupBy(vid) · min(struct(negc, cid))`` shuffled one
    row per corpus vector only to reunite (vid, centroid) rows that the
    broadcast crossJoin had already co-located. Same (−cos, cid)
    ordering, same winning cosine; the corpus-keyed exchange is gone and
    the only shuffle left is the ~``n_centroids``-group profile
    aggregate.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.functions.numeric import (
        davg,
    )

    cents = kmeans_centroids(
        corpus, n_centroids, iterations, id_col, vec_col, train_fraction
    ).withColumn("cnorm", norm(F.col("cvec")))
    best = ivf_assign(corpus, cents, id_col, vec_col).select("cid", "ccos")
    prof = best.groupBy("cid").agg(
        F.count("*").alias("n_vecs"),
        F.round(davg(F.col("ccos"), wide=True), COSINE_SCALE).alias("avg_cos"),
        F.min("ccos").alias("min_cos"),
    )
    return (
        cents.select("cid")
        .join(prof, "cid", "left")
        .select(
            "cid",
            F.coalesce(F.col("n_vecs"), F.lit(0)).alias("n_vecs"),
            "avg_cos",
            "min_cos",
        )
        .orderBy("cid")
    )


#: int8 symmetric quantization range: values map to round(x/scale) with
#: scale = max|x|/127, so the largest-magnitude component lands exactly on
#: ±127. Power-of-two-free and sign-symmetric — the layout faiss/ANN
#: serving stacks use for 4× memory compression of float32 embeddings.
QUANT_LEVELS = 127
#: Per-row error metrics are rounded to this scale BEFORE aggregation so
#: the decimal-anchored averages are bit-identical across engines and
#: partitionings (same contract as COSINE_SCALE for cosines).
QUANT_ERR_SCALE = 8


def scalar_quantize(vec: Column) -> Column:
    """Symmetric int8 quantization: struct(scale double, q array<int>).

    ``scale = max|x| / 127`` per vector (so reconstruction is ``q_i *
    scale``), guarded to stay positive on an all-zero vector, where every
    component quantizes to 0 and reconstructs exactly. Pure array
    expressions — runs inside codegen, no UDF, no shuffle.
    """
    dv = _as_double(vec)
    maxabs = F.array_max(F.transform(dv, F.abs))
    scale = F.greatest(maxabs, F.lit(1e-30)) / QUANT_LEVELS
    q = F.transform(dv, lambda x: F.round(x / scale).cast("int"))
    return F.struct(scale.alias("scale"), q.alias("q"))


def dequantize(quant: Column) -> Column:
    """Reconstruct array<double> from a :func:`scalar_quantize` struct."""
    return F.transform(quant["q"], lambda i: i.cast("double") * quant["scale"])


def quantization_error_profile(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Per-group int8 quantization fidelity report.

    The go/no-go check before switching an ANN index to compressed
    vectors: per group, mean squared reconstruction error, the worst
    per-component absolute error, and the mean cosine between each vector
    and its reconstruction (the number that actually predicts retrieval
    quality — cosine ≈ 1 means ranking is preserved).

    Single scan: quantize → dequantize → error metrics are all row-local
    column expressions; the only shuffle is the final partial-agg groupBy
    on ``group_col``. Per-row metrics are rounded (QUANT_ERR_SCALE) before
    the decimal-anchored mean so results hash-match across engines.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.functions.numeric import (
        davg,
    )

    dv = _as_double(F.col(vec_col))
    quant = scalar_quantize(F.col(vec_col))
    deq = dequantize(quant)
    err = F.zip_with(dv, deq, lambda x, y: x - y)
    mse = F.round(dot(err, err) / F.size(dv), QUANT_ERR_SCALE)
    max_abs_err = F.round(F.array_max(F.transform(err, F.abs)), QUANT_ERR_SCALE)
    cos_rec = cosine(dv, deq)
    per_vec = spread(corpus).select(
        F.col(group_col),
        mse.alias("mse"),
        max_abs_err.alias("max_abs_err"),
        cos_rec.alias("cos_rec"),
    )
    return per_vec.groupBy(group_col).agg(
        F.count("*").alias("n_vecs"),
        F.round(davg(F.col("mse"), wide=True), QUANT_ERR_SCALE).alias("avg_mse"),
        F.max("max_abs_err").alias("worst_abs_err"),
        F.round(davg(F.col("cos_rec"), wide=True), COSINE_SCALE).alias("avg_cos_rec"),
    )
